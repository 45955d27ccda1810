"""Coverage extras: the remaining SURVEY.md §2 rows — full window-function
family (§2.5), CUBE (§2.4), pivot/unpivot reshaping, MapType + from_json
(§2.8), approximate percentile (§2.4 Tier G).
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from polars_express_spark.catalog import load_table
from polars_express_spark.operators.quantile import exact_quantile
from polars_express_spark.queries._util import dsum, sql_dsum
from polars_express_spark.queries.registry import query


@query(
    "q18b_window_family",
    oracle="""
    SELECT o_custkey, o_orderkey,
           rank()       OVER w AS rnk,
           dense_rank() OVER w AS drnk,
           ntile(4)     OVER w AS quartile,
           lead(o_totalprice) OVER w AS next_price,
           first_value(o_totalprice) OVER
             (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS first_price,
           last_value(o_totalprice) OVER
             (w ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING) AS last_price
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey)
    """,
)
def q18b_window_family(spark, sf_dir):
    """rank / dense_rank / ntile / lead / first / last (§2.5 — the polars
    `rank` feature is NOT enabled in the reference build, Cargo.toml:8;
    all Spark natives). Total order pinned by the unique orderkey so
    ntile assignment is deterministic."""
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    wfull = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return o.select(
        "o_custkey",
        "o_orderkey",
        F.rank().over(w).alias("rnk"),
        F.dense_rank().over(w).alias("drnk"),
        F.ntile(4).over(w).alias("quartile"),
        F.lead("o_totalprice").over(w).alias("next_price"),
        F.first("o_totalprice").over(wfull).alias("first_price"),
        F.last("o_totalprice").over(wfull).alias("last_price"),
    )


@query(
    "q22b_cube",
    oracle=f"""
    SELECT o_orderpriority, o_orderstatus,
           {sql_dsum("o_totalprice", "sum_price")},
           count(*) AS cnt
    FROM orders
    GROUP BY CUBE (o_orderpriority, o_orderstatus)
    """,
)
def q22b_cube(spark, sf_dir):
    """CUBE grouping sets (§2.4; not in polars 0.42 — Spark native)."""
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderpriority", "o_orderstatus").agg(
        dsum("o_totalprice", "sum_price"), F.count(F.lit(1)).alias("cnt")
    )


@query(
    "q_pivot",
    oracle=f"""
    SELECT l_returnflag,
           count(*) FILTER (WHERE l_linestatus = 'O') AS O,
           count(*) FILTER (WHERE l_linestatus = 'F') AS F,
           {sql_dsum("CASE WHEN l_linestatus = 'O' THEN l_quantity END", "qty_O")},
           {sql_dsum("CASE WHEN l_linestatus = 'F' THEN l_quantity END", "qty_F")}
    FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def q_pivot(spark, sf_dir):
    """Pivot: wide conditional aggregation (values pinned so the plan is
    one pass — Spark's pivot with explicit values never does a distinct
    scan first). The oracle is the equivalent FILTERed aggregation."""
    li = load_table(spark, sf_dir, "lineitem")
    counts = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.count(F.lit(1)))
    )
    qtys = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["O", "F"])
        .agg(F.sum(F.col("l_quantity").cast("decimal(25,6)")).cast("double"))
        .withColumnsRenamed({"O": "qty_O", "F": "qty_F"})
    )
    return counts.join(qtys, "l_returnflag")


@query(
    "q_unpivot",
    oracle="""
    SELECT p_partkey, 'p_retailprice' AS attr, p_retailprice AS val FROM part
    UNION ALL
    SELECT p_partkey, 'p_size', CAST(p_size AS DOUBLE) FROM part
    ORDER BY p_partkey, attr
    """,
)
def q_unpivot(spark, sf_dir):
    """Unpivot / melt to long form (Spark native DataFrame.unpivot)."""
    p = load_table(spark, sf_dir, "part").withColumn(
        "p_size_d", F.col("p_size").cast("double")
    )
    return (
        p.unpivot(
            ["p_partkey"],
            ["p_retailprice", "p_size_d"],
            "attr",
            "val",
        )
        .withColumn(
            "attr", F.when(F.col("attr") == "p_size_d", "p_size").otherwise(F.col("attr"))
        )
    )


@query(
    "q_from_json",
    oracle="""
    SELECT CAST(json_extract(props, '$.k') AS INT) AS k_int,
           count(*) AS cnt
    FROM events GROUP BY 1 ORDER BY k_int
    """,
)
def q_from_json(spark, sf_dir):
    """from_json into a typed struct (§2.8 JSON row — the schema-full
    variant of Q30's path extraction)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.select(F.from_json("props", "k INT").alias("j"))
        .select(F.col("j.k").alias("k_int"))
        .groupBy("k_int")
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@query(
    "q_map_fns",
    oracle="""
    SELECT event_id,
           map(['k'], [CAST(json_extract_string(props, '$.k') AS INT)])['k'][1] AS k_val,
           list_aggregate(
             map_keys(map(['k'], [CAST(json_extract_string(props, '$.k') AS INT)])),
             'string_agg', ','
           ) AS keys_csv,
           CAST(cardinality(map(['k'], [1])) AS INT) AS n_keys
    FROM events ORDER BY event_id
    """,
)
def q_map_fns(spark, sf_dir):
    """MapType construction + extraction (§2.8 map row — polars 0.42 has
    no Map dtype at all; Spark native). Scalars are projected out so the
    oracle compares values, not engine-specific map renderings."""
    e = load_table(spark, sf_dir, "events")
    m = F.create_map(F.lit("k"), F.get_json_object("props", "$.k").cast("int"))
    return e.select(
        "event_id",
        F.element_at(m, "k").alias("k_val"),
        F.concat_ws(",", F.map_keys(m)).alias("keys_csv"),
        F.size(F.map_keys(m)).alias("n_keys"),
    )


@query(
    "q_percentile_approx",
    oracle="""
    SELECT median(l_extendedprice) AS exact_median, TRUE AS within_tol
    FROM lineitem
    """,
)
def q_percentile_approx(spark, sf_dir):
    """approx percentile (§2.4 Tier G): the one-pass GK sketch used
    instead of exact percentile at 100 TB. The sketch value has no DuckDB
    twin, so the query returns the exact median plus a bounded-error
    check (accuracy 10000 → well under the 1% tolerance asserted here)
    that the oracle replays as a constant — a hash-checkable row instead
    of a rows-only entry.

    r8: the exact anchor rides exact_quantile (operators/quantile.py,
    bracketed rank refine — bit-equal to F.percentile) instead of the
    buffering ``percentile`` aggregate, which materializes the WHOLE
    ungrouped column in one final task: the global median of a 100 TB
    column was one executor's heap. Now every pass is a bounded
    partial→final aggregate and only the ~8n/accuracy bracket rows are
    ever ranked.

    Degenerate-input note (r8 ADVICE): on an EMPTY lineitem the old
    global ``li.agg(...)`` returned one row (NULL exact_median) while
    exact_quantile returns zero rows for a group with no non-null
    values, so the crossJoin now yields an empty result. Accepted:
    zero-rows-for-no-data is this registry's convention for grouped
    aggregates, and no test/bench scale factor produces an empty
    lineitem."""
    li = load_table(spark, sf_dir, "lineitem")
    approx = li.agg(
        F.percentile_approx("l_extendedprice", F.lit(0.5), F.lit(10000)).alias(
            "__approx"
        )
    )
    exact = exact_quantile(li, "l_extendedprice", 0.5, result_col="exact_median")
    return exact.crossJoin(F.broadcast(approx)).select(
        "exact_median",
        (
            F.abs(F.col("__approx") - F.col("exact_median"))
            <= F.lit(0.01) * F.col("exact_median")
        ).alias("within_tol"),
    )
