"""Aggregation corpus: Q3, Q4, Q8–Q11, Q22, Q24 (SURVEY.md §2.4).

Regression queries use the closed-form OLS the reference hand-rolls in a
scalar loop (src/main.rs:155-196) — but as ONE distributed aggregate over
exact decimal moments (Σx, Σy, Σxy, Σx², Σy²), so the whole computation
is a single partial+final agg with a deterministic result. The identical
closed form runs on the DuckDB side, making the comparison bit-stable
(regr_slope/regr_intercept/regr_r2 natives exist in both engines and
agree semantically, but their internal double merge order is
partition-dependent — the moment form is hash-safe; SURVEY.md §7.5.5).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from polars_express_spark.catalog import load_table
from polars_express_spark.queries._util import (
    DEC_MOM,
    dsum,
    fast_moments,
    sql_dsum,
    sql_moments_cte,
)
from polars_express_spark.queries.registry import query

# ---------------------------------------------------------------- regression


def _ols_moments(df, xcol, ycol, fast4=False):
    """n + exact order-free moments for closed-form OLS
    (src/main.rs:155-171). fast4=True uses the split-long accumulator
    (_util.fast_moments) — valid only for non-negative ≤2-dp columns
    whose scaled products stay under 2^53 at ANY scale factor (qty ≤ 50
    and price ≤ ~1.05e5 qualify; q03's custkey, which grows with SF,
    does not and stays on the decimal path)."""
    x, y = F.col(xcol), F.col(ycol)
    terms = [("sx", x), ("sy", y), ("sxy", x * y), ("sxx", x * x), ("syy", y * y)]
    if fast4:
        return fast_moments(df, [], terms)
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        *[dsum(expr, name, DEC_MOM) for name, expr in terms],
    )


def _ols_result(m):
    """slope/intercept/R² closed form (src/main.rs:173-196):
    slope=(nΣxy−ΣxΣy)/(nΣx²−(Σx)²); intercept=(Σy−slope·Σx)/n; R²=corr²."""
    n = F.col("n").cast("double")
    sx, sy, sxy, sxx, syy = (F.col(c) for c in ("sx", "sy", "sxy", "sxx", "syy"))
    cov_n = n * sxy - sx * sy
    var_x = n * sxx - sx * sx
    var_y = n * syy - sy * sy
    slope = cov_n / var_x
    return m.select(
        slope.alias("slope"),
        ((sy - slope * sx) / n).alias("intercept"),
        ((cov_n * cov_n) / (var_x * var_y)).alias("r2"),
    )


def _sql_ols(table, xexpr, yexpr, where="TRUE", fast4=False):
    """DuckDB twin of _ols_moments + _ols_result (identical arithmetic;
    fast4 mirrors the Spark side's split-long accumulator)."""
    if fast4:
        terms = [
            ("sx", xexpr),
            ("sy", yexpr),
            ("sxy", f"({xexpr}) * ({yexpr})"),
            ("sxx", f"({xexpr}) * ({xexpr})"),
            ("syy", f"({yexpr}) * ({yexpr})"),
        ]
        cte = sql_moments_cte(table, [], terms, where)
    else:
        cte = f"""
      SELECT count(*) AS n,
             {sql_dsum(xexpr, "sx", "DECIMAL(38,12)")},
             {sql_dsum(yexpr, "sy", "DECIMAL(38,12)")},
             {sql_dsum(f"({xexpr}) * ({yexpr})", "sxy", "DECIMAL(38,12)")},
             {sql_dsum(f"({xexpr}) * ({xexpr})", "sxx", "DECIMAL(38,12)")},
             {sql_dsum(f"({yexpr}) * ({yexpr})", "syy", "DECIMAL(38,12)")}
      FROM {table} WHERE {where}
    """
    return f"""
    WITH m AS ({cte})
    SELECT (CAST(n AS DOUBLE) * sxy - sx * sy) / (CAST(n AS DOUBLE) * sxx - sx * sx) AS slope,
           (sy - ((CAST(n AS DOUBLE) * sxy - sx * sy) / (CAST(n AS DOUBLE) * sxx - sx * sx)) * sx)
             / CAST(n AS DOUBLE) AS intercept,
           ((CAST(n AS DOUBLE) * sxy - sx * sy) * (CAST(n AS DOUBLE) * sxy - sx * sy))
             / ((CAST(n AS DOUBLE) * sxx - sx * sx) * (CAST(n AS DOUBLE) * syy - sy * sy)) AS r2
    FROM m
    """


@query(
    "q03_regression_nullzero",
    oracle=_sql_ols(
        "orders", "coalesce(o_custkey, 0.0)", "coalesce(o_totalprice, 0.0)"
    ),
)
def q03_regression_nullzero(spark, sf_dir):
    """OLS with the reference's null-as-0.0 semantics
    (x.get(i).unwrap_or(0.0), src/main.rs:163-164): nulls are coerced to
    zero BEFORE aggregation, unlike SQL regr_* which drops null pairs."""
    o = load_table(spark, sf_dir, "orders").select(
        F.coalesce(F.col("o_custkey").cast("double"), F.lit(0.0)).alias("x"),
        F.coalesce(F.col("o_totalprice"), F.lit(0.0)).alias("y"),
    )
    # r18: orders.parquet is one unsplittable split at test SFs, which
    # serialized the five BigDecimal moment sums on one core; the
    # moments are exact decimals (associative, partition-order-free by
    # this module's design), so a round-robin repartition changes
    # nothing but the parallelism. Measured 0.96s -> 0.59s at sf0.1;
    # at scale the scan splits naturally and this is a cheap extra
    # exchange of two doubles per row.
    o = o.repartition(
        int(spark.conf.get("spark.sql.shuffle.partitions"))
    )
    return _ols_result(_ols_moments(o, "x", "y"))


@query(
    "q04_regression_sql",
    oracle=_sql_ols(
        "lineitem",
        "l_quantity",
        "l_extendedprice",
        where="l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL",
        fast4=True,
    ),
)
def q04_regression_sql(spark, sf_dir):
    """OLS with SQL regr_* semantics: null pairs skipped (§2.11 Q4).
    Semantically ≡ F.regr_slope/regr_intercept/regr_r2 (Spark 3.4+
    natives); computed via exact moments for hash determinism."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .where(F.col("l_quantity").isNotNull() & F.col("l_extendedprice").isNotNull())
        .select(F.col("l_quantity").alias("x"), F.col("l_extendedprice").alias("y"))
    )
    return _ols_result(_ols_moments(li, "x", "y", fast4=True))


# ------------------------------------------------------------------ group agg


@query(
    "q08_tpch_q1",
    oracle=f"""
    WITH m AS ({sql_moments_cte(
        "lineitem",
        ["l_returnflag", "l_linestatus"],
        [
            ("sum_qty", "l_quantity"),
            ("sum_base_price", "l_extendedprice"),
            ("sum_disc_price", "l_extendedprice * (1 - l_discount)"),
            ("sum_disc", "l_discount"),
        ],
    )})
    SELECT l_returnflag, l_linestatus,
           sum_qty, sum_base_price, sum_disc_price,
           sum_qty / n AS avg_qty,
           sum_base_price / n AS avg_price,
           sum_disc / n AS avg_disc,
           n AS count_order
    FROM m
    ORDER BY l_returnflag, l_linestatus
    """,
)
def q08_tpch_q1(spark, sf_dir):
    """TPC-H Q1 shape (§2.11 Q8): the canonical partial→final aggregate.
    Catalyst always plans a map-side partial agg, so the shuffle carries
    one row per (partition × group), not per input row — the property
    that makes this run at 100 TB."""
    li = load_table(spark, sf_dir, "lineitem")
    m = fast_moments(
        li,
        ["l_returnflag", "l_linestatus"],
        [
            ("sum_qty", F.col("l_quantity")),
            ("sum_base_price", F.col("l_extendedprice")),
            ("sum_disc_price", F.col("l_extendedprice") * (1 - F.col("l_discount"))),
            ("sum_disc", F.col("l_discount")),
        ],
    )
    return m.select(
        "l_returnflag",
        "l_linestatus",
        "sum_qty",
        "sum_base_price",
        "sum_disc_price",
        (F.col("sum_qty") / F.col("n")).alias("avg_qty"),
        (F.col("sum_base_price") / F.col("n")).alias("avg_price"),
        (F.col("sum_disc") / F.col("n")).alias("avg_disc"),
        F.col("n").alias("count_order"),
    )


@query(
    "q09_count_distinct",
    oracle="""
    SELECT o_orderpriority,
           count(DISTINCT o_custkey) AS uniq_custs,
           count(*) AS cnt
    FROM orders GROUP BY o_orderpriority ORDER BY o_orderpriority
    """,
)
def q09_count_distinct(spark, sf_dir):
    """count distinct / n_unique (§2.4). Spark plans this as a two-stage
    expand+agg; for 100 TB cardinality estimation use
    approx_count_distinct (see q_approx_distinct, golden-checked)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.groupBy("o_orderpriority")
        .agg(
            F.countDistinct("o_custkey").alias("uniq_custs"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )


@query(
    "q10_stats",
    oracle=f"""
    WITH m AS ({sql_moments_cte(
        "lineitem",
        [],
        [("sx", "l_quantity"), ("sxx", "l_quantity * l_quantity")],
        where="l_quantity IS NOT NULL",
    )})
    SELECT n AS cnt,
           (sxx - sx * sx / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1) AS var_qty,
           sqrt((sxx - sx * sx / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1)) AS stddev_qty,
           (SELECT quantile_cont(l_quantity, 0.5) FROM lineitem) AS median_qty,
           (SELECT quantile_cont(l_quantity, 0.25) FROM lineitem) AS p25_qty,
           (SELECT quantile_cont(l_quantity, 0.75) FROM lineitem) AS p75_qty
    FROM m
    """,
)
def q10_stats(spark, sf_dir):
    """stddev/var via exact moments; median/percentile via Spark's exact
    `percentile` ≡ DuckDB `quantile_cont` (linear interpolation — pinned
    pair per SURVEY.md §7.5.5)."""
    from polars_express_spark.queries._util import combine4, scaled4, split4_aggs

    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_quantity").isNotNull())
    pre = li.select(
        "l_quantity",
        scaled4(F.col("l_quantity")).alias("__v_sx"),
        scaled4(F.col("l_quantity") * F.col("l_quantity")).alias("__v_sxx"),
    )
    m = pre.agg(
        F.count(F.lit(1)).alias("n"),
        *split4_aggs(F.col("__v_sx"), "sx", scaled=True),
        *split4_aggs(F.col("__v_sxx"), "sxx", scaled=True),
        F.percentile("l_quantity", F.lit(0.5)).alias("median_qty"),
        F.percentile("l_quantity", F.lit(0.25)).alias("p25_qty"),
        F.percentile("l_quantity", F.lit(0.75)).alias("p75_qty"),
    ).select(
        "n", combine4("sx"), combine4("sxx"), "median_qty", "p25_qty", "p75_qty"
    )
    n = F.col("n").cast("double")
    var = (F.col("sxx") - F.col("sx") * F.col("sx") / n) / (n - F.lit(1.0))
    return m.select(
        F.col("n").alias("cnt"),
        var.alias("var_qty"),
        F.sqrt(var).alias("stddev_qty"),
        "median_qty",
        "p25_qty",
        "p75_qty",
    )


@query(
    "q11_corr_cov",
    oracle=f"""
    WITH m AS ({sql_moments_cte(
        "lineitem",
        [],
        [
            ("sx", "l_quantity"),
            ("sy", "l_extendedprice"),
            ("sxy", "l_quantity * l_extendedprice"),
            ("sxx", "l_quantity * l_quantity"),
            ("syy", "l_extendedprice * l_extendedprice"),
        ],
        where="l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL",
    )})
    SELECT (CAST(n AS DOUBLE) * sxy - sx * sy)
             / (sqrt(CAST(n AS DOUBLE) * sxx - sx * sx) * sqrt(CAST(n AS DOUBLE) * syy - sy * sy))
             AS corr_xy,
           (sxy - sx * sy / CAST(n AS DOUBLE)) / (CAST(n AS DOUBLE) - 1) AS covar_s,
           (sxy - sx * sy / CAST(n AS DOUBLE)) / CAST(n AS DOUBLE) AS covar_p
    FROM m
    """,
)
def q11_corr_cov(spark, sf_dir):
    """Pearson corr + sample/population covariance (§2.4 — the reference
    links the polars `cov` feature exactly for this, Cargo.toml:8).
    Semantically ≡ F.corr / F.covar_samp / F.covar_pop."""
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_quantity").isNotNull() & F.col("l_extendedprice").isNotNull()
    )
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    m = fast_moments(
        li,
        [],
        [("sx", x), ("sy", y), ("sxy", x * y), ("sxx", x * x), ("syy", y * y)],
    )
    n = F.col("n").cast("double")
    sx, sy, sxy, sxx, syy = (F.col(c) for c in ("sx", "sy", "sxy", "sxx", "syy"))
    return m.select(
        ((n * sxy - sx * sy) / (F.sqrt(n * sxx - sx * sx) * F.sqrt(n * syy - sy * sy))).alias(
            "corr_xy"
        ),
        ((sxy - sx * sy / n) / (n - F.lit(1.0))).alias("covar_s"),
        ((sxy - sx * sy / n) / n).alias("covar_p"),
    )


@query(
    "q22_rollup",
    oracle=f"""
    SELECT o_orderpriority, o_orderstatus,
           {sql_dsum("o_totalprice", "sum_price")},
           count(*) AS cnt
    FROM orders
    GROUP BY ROLLUP (o_orderpriority, o_orderstatus)
    """,
)
def q22_rollup(spark, sf_dir):
    """ROLLUP grouping sets (§2.4; not in polars 0.42 — Spark native)."""
    o = load_table(spark, sf_dir, "orders")
    return o.rollup("o_orderpriority", "o_orderstatus").agg(
        dsum("o_totalprice", "sum_price"), F.count(F.lit(1)).alias("cnt")
    )


@query(
    "q24_distinct_rows",
    oracle="""
    SELECT count(*) AS cnt FROM (
      SELECT DISTINCT o_custkey, o_orderstatus FROM orders
    )
    """,
)
def q24_distinct_rows(spark, sf_dir):
    """dropDuplicates on a column subset (§2.4 distinct row)."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select("o_custkey", "o_orderstatus")
        .dropDuplicates()
        .agg(F.count(F.lit(1)).alias("cnt"))
    )


@query(
    "q_approx_distinct",
    oracle="""
    SELECT count(DISTINCT o_custkey) AS exact_custs, TRUE AS within_tol
    FROM orders
    """,
)
def q_approx_distinct(spark, sf_dir):
    """approx_count_distinct (§2.4 Tier G): the 100 TB cardinality path —
    HyperLogLog++ sketch (rsd=0.01), one pass, no expand. The sketch
    estimate has no DuckDB twin, so the query returns the exact count
    plus a bounded-error check (|approx − exact| ≤ 2%·exact) that the
    oracle asserts as a constant — converting the approximate operator
    into a hash-checkable row instead of a rows-only entry.

    The exact side deduplicates FIRST (groupBy key, map-side partial
    dedup) and counts the survivors; putting countDistinct next to the
    sketch in one agg forces an expand-based multi-distinct plan that
    benched ~4× slower. HLL is duplicate-insensitive, so sketching the
    deduped keys gives the identical estimate to sketching the raw
    column."""
    o = load_table(spark, sf_dir, "orders")
    keys = o.select("o_custkey").distinct()
    approx = F.approx_count_distinct("o_custkey", rsd=0.01)
    exact = F.count(F.lit(1))
    return keys.agg(
        exact.alias("exact_custs"),
        (F.abs(approx - exact) <= F.lit(0.02) * exact).alias("within_tol"),
    )


@query(
    "q22c_grouping_sets",
    oracle=f"""
    SELECT GROUPING_ID(l_returnflag, l_linestatus) AS gid,
           l_returnflag, l_linestatus,
           CAST(count(*) AS BIGINT) AS cnt,
           {sql_dsum("l_quantity", "sum_qty")}
    FROM lineitem
    GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
    ORDER BY gid, l_returnflag NULLS FIRST, l_linestatus NULLS FIRST
    """,
)
def q22c_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS (§2.4, completing the rollup/cube family
    with the general form): detail, per-flag subtotal, and grand total
    in one pass; grouping_id disambiguates subtotal NULLs from data
    NULLs on both engines."""
    li = load_table(spark, sf_dir, "lineitem")
    return spark.sql(
        """
        SELECT grouping_id(l_returnflag, l_linestatus) AS gid,
               l_returnflag, l_linestatus,
               CAST(count(*) AS BIGINT) AS cnt,
               CAST(SUM(CAST(l_quantity AS DECIMAL(25,6))) AS DOUBLE) AS sum_qty
        FROM {li}
        GROUP BY GROUPING SETS ((l_returnflag, l_linestatus), (l_returnflag), ())
        """,
        li=li.select("l_returnflag", "l_linestatus", "l_quantity"),
    )


@query(
    "q10b_grouped_median",
    oracle="""
    SELECT l_returnflag,
           CAST(count(*) AS BIGINT) AS cnt,
           median(l_quantity) AS median_qty,
           quantile_cont(l_quantity, 0.25) AS p25_qty,
           quantile_cont(l_quantity, 0.75) AS p75_qty
    FROM lineitem WHERE l_quantity IS NOT NULL
    GROUP BY l_returnflag ORDER BY l_returnflag
    """,
)
def q10b_grouped_median(spark, sf_dir):
    """Per-group exact median/quartiles (§2.4; q10's global stats,
    grouped): Spark `percentile` ≡ DuckDB `quantile_cont` per the
    pinned interpolation pair (SURVEY.md §7.5.5), now under a group
    key — the per-segment distribution profile."""
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_quantity").isNotNull())
    return (
        li.groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("cnt"),
            F.percentile("l_quantity", F.lit(0.5)).alias("median_qty"),
            F.percentile("l_quantity", F.lit(0.25)).alias("p25_qty"),
            F.percentile("l_quantity", F.lit(0.75)).alias("p75_qty"),
        )
    )


@query(
    "q10c_higher_moments",
    oracle=f"""
    WITH m0 AS ({sql_moments_cte(
        "lineitem",
        ["l_returnflag"],
        [
            ("s1", "l_quantity"),
            ("s2", "l_quantity * l_quantity"),
            ("s3", "l_quantity * l_quantity * l_quantity"),
            ("s4", "l_quantity * l_quantity * l_quantity * l_quantity"),
        ],
        where="l_quantity IS NOT NULL",
    )}),
    m AS (
      SELECT l_returnflag, CAST(n AS DOUBLE) AS n, s1, s2, s3, s4 FROM m0
    )
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS cnt,
           ((s3 / n) - 3 * (s1 / n) * (s2 / n) + 2 * (s1 / n) * (s1 / n) * (s1 / n))
             / pow((s2 / n) - (s1 / n) * (s1 / n), 1.5) AS skewness,
           ((s4 / n) - 4 * (s1 / n) * (s3 / n) + 6 * (s1 / n) * (s1 / n) * (s2 / n)
             - 3 * (s1 / n) * (s1 / n) * (s1 / n) * (s1 / n))
             / pow((s2 / n) - (s1 / n) * (s1 / n), 2.0) - 3 AS excess_kurtosis
    FROM m ORDER BY l_returnflag
    """,
)
def q10c_higher_moments(spark, sf_dir):
    """Per-group skewness + excess kurtosis (§2.4 profiling family):
    computed from decimal-EXACT raw moments (Σx..Σx⁴) with the SAME
    central-moment expression structure on both engines — Spark's
    built-in skewness/kurtosis use different bias conventions than
    DuckDB's, so the portable form is moments-first, which is also the
    correct distributed shape (one partial→final aggregate; the
    population-moment formulas are what a profiler wants at corpus
    scale anyway)."""
    li = load_table(spark, sf_dir, "lineitem").where(F.col("l_quantity").isNotNull())
    x = F.col("l_quantity")
    m = fast_moments(
        li,
        ["l_returnflag"],
        [("s1", x), ("s2", x * x), ("s3", x * x * x), ("s4", x * x * x * x)],
    ).withColumn("n", F.col("n").cast("double"))
    n, s1, s2, s3, s4 = (F.col(c) for c in ("n", "s1", "s2", "s3", "s4"))
    mu = s1 / n
    m2 = (s2 / n) - mu * mu
    m3 = (s3 / n) - F.lit(3) * mu * (s2 / n) + F.lit(2) * mu * mu * mu
    m4 = (
        (s4 / n)
        - F.lit(4) * mu * (s3 / n)
        + F.lit(6) * mu * mu * (s2 / n)
        - F.lit(3) * mu * mu * mu * mu
    )
    return m.select(
        "l_returnflag",
        n.cast("bigint").alias("cnt"),
        (m3 / F.pow(m2, F.lit(1.5))).alias("skewness"),
        (m4 / F.pow(m2, F.lit(2.0)) - F.lit(3)).alias("excess_kurtosis"),
    )


@query(
    "q_multireg",
    oracle="""
    WITH cc AS (
      SELECT l_extendedprice AS y, l_quantity AS q, l_discount AS d
      FROM lineitem
      WHERE l_extendedprice IS NOT NULL AND l_quantity IS NOT NULL
        AND l_discount IS NOT NULL
    )
    SELECT CAST(count(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(q AS DECIMAL(38,12))) AS DOUBLE) AS s_q,
           CAST(SUM(CAST(d AS DECIMAL(38,12))) AS DOUBLE) AS s_d,
           CAST(SUM(CAST(q * q AS DECIMAL(38,12))) AS DOUBLE) AS s_qq,
           CAST(SUM(CAST(q * d AS DECIMAL(38,12))) AS DOUBLE) AS s_qd,
           CAST(SUM(CAST(d * d AS DECIMAL(38,12))) AS DOUBLE) AS s_dd,
           CAST(SUM(CAST(q * y AS DECIMAL(38,12))) AS DOUBLE) AS s_qy,
           CAST(SUM(CAST(d * y AS DECIMAL(38,12))) AS DOUBLE) AS s_dy,
           TRUE AS normal_ok, TRUE AS r2_ok
    FROM cc
    """,
)
def q_multireg(spark, sf_dir):
    """Two-feature OLS (l_extendedprice ~ 1 + l_quantity + l_discount)
    via the distributed normal equations (§2.4, the k-feature
    generalization of the reference's scalar OLS, src/main.rs:155-196):
    one decimal-exact Gram aggregate + a 3×3 driver solve. The emitted
    row hashes the exact Gram moments themselves (oracle-recomputed),
    plus two invariants tying the driver solve back to them:
    normal_ok — the normal-equation residual ‖X'Xβ − X'y‖ is at
    relative solver precision (1e-9); r2_ok — R² ∈ [0, 1] and equals
    1 − SSE/SST computed from the same exact moments."""
    from polars_express_spark.operators.ols import gram_moments, solve_normal_equations

    li = load_table(spark, sf_dir, "lineitem")
    mom = gram_moments(li, "l_extendedprice", ["l_quantity", "l_discount"], fast4=True)
    row = mom.collect()[0]
    import numpy as np

    beta, r2 = solve_normal_equations(row, ["l_quantity", "l_discount"])
    A = np.array(
        [
            [row["n"], row["s_l_quantity"], row["s_l_discount"]],
            [row["s_l_quantity"], row["s_l_quantity_l_quantity"], row["s_l_quantity_l_discount"]],
            [row["s_l_discount"], row["s_l_quantity_l_discount"], row["s_l_discount_l_discount"]],
        ]
    )
    b = np.array([row["s_y"], row["s_l_quantity_y"], row["s_l_discount_y"]])
    resid = float(np.abs(A @ beta - b).max())
    normal_ok = resid <= 1e-9 * max(1.0, float(np.abs(b).max()))
    r2_ok = r2 is not None and 0.0 <= r2 <= 1.0
    # The Gram aggregate already ran for the driver solve (the 1-row
    # collect IS the distributed scan); emit the moments as a local
    # relation instead of re-executing the whole aggregate a second
    # time when the returned plan is consumed.
    return spark.createDataFrame(
        [
            (
                int(row["n"]),
                row["s_l_quantity"],
                row["s_l_discount"],
                row["s_l_quantity_l_quantity"],
                row["s_l_quantity_l_discount"],
                row["s_l_discount_l_discount"],
                row["s_l_quantity_y"],
                row["s_l_discount_y"],
                bool(normal_ok),
                bool(r2_ok),
            )
        ],
        "n_rows bigint, s_q double, s_d double, s_qq double, s_qd double,"
        " s_dd double, s_qy double, s_dy double, normal_ok boolean,"
        " r2_ok boolean",
    )


@query(
    "q_outlier_mad",
    oracle="""
    WITH med AS (
      SELECT l_returnflag, quantile_cont(l_extendedprice, 0.5) AS med
      FROM lineitem GROUP BY l_returnflag
    ),
    mad AS (
      SELECT l.l_returnflag, m.med,
             quantile_cont(abs(l.l_extendedprice - m.med), 0.5) AS mad
      FROM lineitem l JOIN med m USING (l_returnflag)
      GROUP BY l.l_returnflag, m.med
    )
    SELECT l.l_returnflag,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(count(*) FILTER (
             WHERE abs(l.l_extendedprice - a.med) > 3.0 * 1.4826 * a.mad
           ) AS BIGINT) AS n_outliers
    FROM lineitem l JOIN mad a USING (l_returnflag)
    GROUP BY l.l_returnflag ORDER BY l.l_returnflag
    """,
)
def q_outlier_mad(spark, sf_dir):
    """Robust outlier detection via median/MAD (§2.4 data-quality
    family): per group, flag rows whose |x − median| exceeds 3 scaled
    MADs — the outlier rule that, unlike z-scores, is not itself
    dragged by the outliers.

    The two-column projection is round-robin repartitioned across
    ``spark.sql.shuffle.partitions`` and lazily checkpointed, so the
    three dependent passes (median → MAD → outlier count) read one
    materialization instead of re-reading the parquet scan; a small
    lineitem is only a few input splits, and percentile's partial
    aggregation is associative and order-free, so spreading the rows
    parallelizes the map-side work. The checkpoint is the query's own
    intermediate: Spark's ContextCleaner frees its blocks once the
    returned frame is unreachable.

    The exact buffering ``F.percentile`` stays: at sf0.1 the
    bounded-memory ``exact_quantiles`` rewrite (median and MAD both
    bracketed) measured 3.99 s against 2.66 s for this shape. Where a
    group's distinct prices outgrow one task, the swap is three lines
    (``exact_quantiles`` on ``li``, then on the broadcast-joined
    deviation frame)."""
    li = (
        load_table(spark, sf_dir, "lineitem")
        .select("l_returnflag", "l_extendedprice")
        .repartition(int(spark.conf.get("spark.sql.shuffle.partitions")))
        .localCheckpoint(eager=False)
    )
    med = li.groupBy("l_returnflag").agg(
        F.percentile("l_extendedprice", F.lit(0.5)).alias("med")
    )
    mad = (
        li.join(F.broadcast(med), "l_returnflag")
        .groupBy("l_returnflag", "med")
        .agg(
            F.percentile(F.abs(F.col("l_extendedprice") - F.col("med")), F.lit(0.5)).alias(
                "mad"
            )
        )
    )
    out = F.when(
        F.abs(F.col("l_extendedprice") - F.col("med"))
        > F.lit(3.0) * F.lit(1.4826) * F.col("mad"),
        1,
    ).otherwise(0)
    return (
        li.join(F.broadcast(mad), "l_returnflag")
        .groupBy("l_returnflag")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(out).cast("bigint").alias("n_outliers"),
        )
    )


@query(
    "q04b_grouped_regression",
    oracle=f"""
    WITH m AS ({sql_moments_cte(
        "lineitem",
        ["l_returnflag"],
        [
            ("sx", "l_quantity"),
            ("sy", "l_extendedprice"),
            ("sxy", "l_quantity * l_extendedprice"),
            ("sxx", "l_quantity * l_quantity"),
            ("syy", "l_extendedprice * l_extendedprice"),
        ],
        where="l_quantity IS NOT NULL AND l_extendedprice IS NOT NULL",
    )})
    SELECT l_returnflag,
           CAST(n AS BIGINT) AS cnt,
           (CAST(n AS DOUBLE) * sxy - sx * sy) / (CAST(n AS DOUBLE) * sxx - sx * sx) AS slope,
           (sy - ((CAST(n AS DOUBLE) * sxy - sx * sy) / (CAST(n AS DOUBLE) * sxx - sx * sx)) * sx)
             / CAST(n AS DOUBLE) AS intercept,
           ((CAST(n AS DOUBLE) * sxy - sx * sy) * (CAST(n AS DOUBLE) * sxy - sx * sy))
             / ((CAST(n AS DOUBLE) * sxx - sx * sx) * (CAST(n AS DOUBLE) * syy - sy * sy)) AS r2
    FROM m ORDER BY l_returnflag
    """,
)
def q04b_grouped_regression(spark, sf_dir):
    """Per-segment OLS (§2.4 — q04 under a group key, the polars
    group_by().agg(regression) shape): slope/intercept/R² of
    price ~ quantity PER returnflag, from decimal-exact grouped
    moments with the same closed-form expressions as q04 — one
    partial→final aggregate yields every segment's fit in one pass."""
    li = load_table(spark, sf_dir, "lineitem").where(
        F.col("l_quantity").isNotNull() & F.col("l_extendedprice").isNotNull()
    )
    x, y = F.col("l_quantity"), F.col("l_extendedprice")
    m = fast_moments(
        li,
        ["l_returnflag"],
        [("sx", x), ("sy", y), ("sxy", x * y), ("sxx", x * x), ("syy", y * y)],
    )
    n = F.col("n").cast("double")
    sx, sy, sxy, sxx, syy = (F.col(c) for c in ("sx", "sy", "sxy", "sxx", "syy"))
    cov_n = n * sxy - sx * sy
    var_x = n * sxx - sx * sx
    var_y = n * syy - sy * sy
    slope = cov_n / var_x
    return m.select(
        "l_returnflag",
        F.col("n").cast("bigint").alias("cnt"),
        slope.alias("slope"),
        ((sy - slope * sx) / n).alias("intercept"),
        ((cov_n * cov_n) / (var_x * var_y)).alias("r2"),
    )
