"""Scalar-function corpus: Q25–Q31 (SURVEY.md §2.8) + null handling.

The reference links polars `strings` + `regex` features explicitly
(Cargo.toml:8); temporal/math/list functions ride its default build. All
stay JVM-side here (whole-stage codegen) — no Python in any hot path.

Type parity notes (Spark vs DuckDB): Spark length()/size()/year() return
INT while DuckDB returns BIGINT — the oracle SQL casts to INT; Spark
floor()/ceil() return BIGINT while DuckDB returns DOUBLE — cast to BIGINT.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from polars_express_spark.catalog import load_table
from polars_express_spark.queries._util import dsum, sql_dsum
from polars_express_spark.queries.registry import query


@query(
    "q25_strings",
    oracle="""
    SELECT p_partkey,
           lower(p_name) AS lname,
           upper(p_brand) AS ubrand,
           CAST(length(p_name) AS INT) AS name_len,
           substring(p_name, 1, 5) AS name_pre,
           trim(p_name) AS name_trim,
           p_brand || '-' || p_type AS brand_type,
           split_part(p_name, ' ', 1) AS first_word,
           contains(p_name, 'red') AS has_red,
           starts_with(p_type, 'ECO') AS is_eco,
           ends_with(p_name, 't') AS ends_t,
           replace(p_name, ' ', '_') AS snake
    FROM part ORDER BY p_partkey
    """,
)
def q25_strings(spark, sf_dir):
    """String function family (§2.8 strings feature, Cargo.toml:8)."""
    p = load_table(spark, sf_dir, "part")
    return p.select(
        "p_partkey",
        F.lower("p_name").alias("lname"),
        F.upper("p_brand").alias("ubrand"),
        F.length("p_name").alias("name_len"),
        F.substring("p_name", 1, 5).alias("name_pre"),
        F.trim(F.col("p_name")).alias("name_trim"),
        F.concat_ws("-", "p_brand", "p_type").alias("brand_type"),
        F.split_part(F.col("p_name"), F.lit(" "), F.lit(1)).alias("first_word"),
        F.contains(F.col("p_name"), F.lit("red")).alias("has_red"),
        F.startswith(F.col("p_type"), F.lit("ECO")).alias("is_eco"),
        F.endswith(F.col("p_name"), F.lit("t")).alias("ends_t"),
        F.replace(F.col("p_name"), F.lit(" "), F.lit("_")).alias("snake"),
    )


@query(
    "q26_regex",
    oracle="""
    SELECT c_custkey,
           regexp_extract(c_name, '(\\d+)$', 1) AS cust_num,
           regexp_replace(c_name, '0+', '0', 'g') AS squeezed
    FROM customer
    WHERE regexp_matches(c_name, 'Customer#\\d+')
    ORDER BY c_custkey
    """,
)
def q26_regex(spark, sf_dir):
    """Regex family (§2.8 regex feature, Cargo.toml:8). Note DuckDB
    regexp_replace needs the 'g' flag to match Spark's replace-all."""
    c = load_table(spark, sf_dir, "customer")
    return (
        c.where(F.col("c_name").rlike("Customer#\\d+"))
        .select(
            "c_custkey",
            F.regexp_extract("c_name", r"(\d+)$", 1).alias("cust_num"),
            F.regexp_replace("c_name", "0+", "0").alias("squeezed"),
        )
    )


@query(
    "q27_dates",
    oracle="""
    SELECT o_orderkey,
           CAST(year(o_orderdate) AS INT) AS o_year,
           CAST(month(o_orderdate) AS INT) AS o_month,
           CAST(day(o_orderdate) AS INT) AS o_day,
           CAST(date_trunc('month', o_orderdate) AS TIMESTAMP) AS month_start,
           CAST(date_diff('day', TIMESTAMP '1995-01-01', o_orderdate) AS INT) AS days_since,
           CAST(o_orderdate AS DATE) + 30 AS ship_by
    FROM orders ORDER BY o_orderkey
    """,
)
def q27_dates(spark, sf_dir):
    """Temporal family (§2.8). date_trunc returns TIMESTAMP in both."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.year("o_orderdate").alias("o_year"),
        F.month("o_orderdate").alias("o_month"),
        F.dayofmonth("o_orderdate").alias("o_day"),
        F.date_trunc("month", F.col("o_orderdate")).alias("month_start"),
        F.datediff(F.col("o_orderdate"), F.lit("1995-01-01").cast("date")).alias("days_since"),
        F.date_add(F.col("o_orderdate"), 30).alias("ship_by"),
    )


@query(
    "q28_math",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           abs(l_quantity - 25.0) AS dev_qty,
           floor(l_extendedprice * 10 + 0.5) / 10 AS price_r1,
           CAST(floor(l_discount * 100) AS BIGINT) AS disc_pct_floor,
           CAST(ceil(l_tax * 100) AS BIGINT) AS tax_pct_ceil,
           sqrt(l_quantity) AS sqrt_qty,
           pow(l_quantity, 2.0) AS qty_sq,
           ln(l_extendedprice) AS ln_price,
           exp(l_discount) AS exp_disc
    FROM lineitem ORDER BY l_orderkey, l_linenumber LIMIT 1000
    """,
)
def q28_math(spark, sf_dir):
    """Math family (§2.8). sqrt/abs are IEEE-exact; ln/exp/pow agree to
    well under the 6-dp hash tolerance on these value ranges. The 1-dp
    rounding is floor(v·10 + 0.5)/10 on both sides — engine round()
    builtins disagree on decimal-print ties (see q06), floor of the same
    IEEE double never does."""
    li = load_table(spark, sf_dir, "lineitem")
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            F.abs(F.col("l_quantity") - 25.0).alias("dev_qty"),
            (F.floor(F.col("l_extendedprice") * 10 + 0.5) / 10).alias("price_r1"),
            F.floor(F.col("l_discount") * 100).alias("disc_pct_floor"),
            F.ceil(F.col("l_tax") * 100).alias("tax_pct_ceil"),
            F.sqrt("l_quantity").alias("sqrt_qty"),
            F.pow("l_quantity", F.lit(2.0)).alias("qty_sq"),
            F.log(F.col("l_extendedprice")).alias("ln_price"),
            F.exp("l_discount").alias("exp_disc"),
        )
        .orderBy("l_orderkey", "l_linenumber")
        .limit(1000)
    )


@query(
    "q29_arrays",
    oracle="""
    WITH ex AS (
      SELECT vec_id,
             CAST(len(embedding) AS INT) AS n_elems,
             CAST(embedding[1] AS DOUBLE) AS e1,
             gs.pos AS pos,
             CAST(CAST(embedding[gs.pos] AS DOUBLE) AS DECIMAL(18,9)) AS v
      FROM embeddings, unnest(generate_series(1, len(embedding))) gs(pos)
    )
    SELECT vec_id, n_elems, e1,
           CAST(SUM(CASE WHEN pos <= 4 THEN v ELSE CAST(0 AS DECIMAL(18,9)) END) AS DOUBLE)
             AS sum_first4,
           CAST(SUM(v) AS DOUBLE) AS sum_all
    FROM ex GROUP BY vec_id, n_elems, e1 ORDER BY vec_id
    """,
)
def q29_arrays(spark, sf_dir):
    """Array family over embeddings (§2.8, §2.11 Q29): size, element_at,
    slice-sum, explode-and-reaggregate. Element sums go through exact
    decimals so the re-aggregation is order-free (same machinery as the
    similarity-search dot products in similarity.py)."""
    e = load_table(spark, sf_dir, "embeddings")
    dec = "decimal(18,9)"
    ex = e.select(
        "vec_id",
        F.size("embedding").alias("n_elems"),
        F.element_at("embedding", 1).cast("double").alias("e1"),
        F.posexplode("embedding").alias("pos", "val"),
    ).withColumn("v", F.col("val").cast("double").cast(dec))
    return (
        ex.groupBy("vec_id", "n_elems", "e1")
        .agg(
            F.sum(F.when(F.col("pos") <= 3, F.col("v")).otherwise(F.lit(0).cast(dec)))
            .cast("double")
            .alias("sum_first4"),
            F.sum("v").cast("double").alias("sum_all"),
        )
    )


@query(
    "q30_json",
    oracle=f"""
    SELECT json_extract_string(props, '$.k') AS k_str,
           count(*) AS cnt,
           {sql_dsum("value", "sum_val")}
    FROM events GROUP BY 1 ORDER BY k_str
    """,
)
def q30_json(spark, sf_dir):
    """JSON extraction (§2.8; the polars `json` feature is IO+extraction,
    Cargo.toml:8) applied to events.props per FIXTURES.md §8."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.select(F.get_json_object("props", "$.k").alias("k_str"), "value")
        .groupBy("k_str")
        .agg(F.count(F.lit(1)).alias("cnt"), dsum("value", "sum_val"))
    )


@query(
    "q31_nulls",
    oracle=f"""
    SELECT count(*) AS cnt_rows,
           count(c_acctbal) AS cnt_acctbal,
           count(*) - count(c_acctbal) AS n_null,
           {sql_dsum("coalesce(c_acctbal, 0.0)", "sum_filled")},
           (SELECT count(*) FROM customer
            WHERE c_acctbal IS NOT NULL AND c_mktsegment IS NOT NULL) AS cnt_after_drop
    FROM customer
    """,
)
def q31_nulls(spark, sf_dir):
    """Null handling (§2.2 drop_nulls/fill_null row): na.fill, na.drop,
    coalesce, null-skipping counts."""
    c = load_table(spark, sf_dir, "customer")
    filled = c.na.fill({"c_acctbal": 0.0})
    dropped_cnt = c.na.drop(subset=["c_acctbal", "c_mktsegment"]).agg(
        F.count(F.lit(1)).alias("cnt_after_drop")
    )
    base = c.agg(
        F.count(F.lit(1)).alias("cnt_rows"),
        F.count("c_acctbal").alias("cnt_acctbal"),
        (F.count(F.lit(1)) - F.count("c_acctbal")).alias("n_null"),
    )
    summed = filled.agg(dsum("c_acctbal", "sum_filled"))
    return base.crossJoin(summed).crossJoin(dropped_cnt)
