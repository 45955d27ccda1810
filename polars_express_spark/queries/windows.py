"""Window-function corpus: Q18–Q21 + batch session windows (SURVEY.md §2.5).

None of these are in the reference build (polars rank/cum_agg/
rolling_window features are not enabled at Cargo.toml:8); all are Spark
natives. Every window spec pins a total order (unique tiebreak key) so
results are deterministic; running sums are sequential within a
partition, hence bit-identical across engines.
"""

from __future__ import annotations

from pyspark.sql import Window as W
from pyspark.sql import functions as F

from polars_express_spark.catalog import load_table
from polars_express_spark.queries._util import dsum, sql_dsum
from polars_express_spark.queries.registry import query


@query(
    "q18_window_rank",
    oracle="""
    SELECT o_custkey, o_orderkey, o_totalprice, rn FROM (
      SELECT o_custkey, o_orderkey, o_totalprice,
             row_number() OVER (
               PARTITION BY o_custkey ORDER BY o_totalprice DESC, o_orderkey
             ) AS rn
      FROM orders
    ) WHERE rn <= 3
    """,
)
def q18_window_rank(spark, sf_dir):
    """Top-3 per group via row_number (§2.11 Q18) — the distributed
    top-k-per-key pattern: one shuffle on the partition key, heap-free."""
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy(F.col("o_totalprice").desc(), F.col("o_orderkey"))
    return (
        o.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") <= 3)
        .select("o_custkey", "o_orderkey", "o_totalprice", "rn")
    )


@query(
    "q19_window_lag",
    oracle="""
    SELECT o_custkey, o_orderkey,
           lag(o_totalprice) OVER (
             PARTITION BY o_custkey ORDER BY o_orderdate, o_orderkey
           ) AS prev_price
    FROM orders
    """,
)
def q19_window_lag(spark, sf_dir):
    """lag analytic (§2.11 Q19)."""
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_custkey").orderBy("o_orderdate", "o_orderkey")
    return o.select(
        "o_custkey", "o_orderkey", F.lag("o_totalprice").over(w).alias("prev_price")
    )


@query(
    "q20_running_sum",
    oracle="""
    SELECT event_id, user_id,
           sum(value) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
           ) AS running_val
    FROM events
    """,
)
def q20_running_sum(spark, sf_dir):
    """Cumulative sum per key (§2.11 Q20). ROWS frame pinned explicitly —
    the default RANGE frame has subtle tie semantics. Sequential in-order
    double addition → bit-identical across engines, no decimal needed."""
    e = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(W.unboundedPreceding, W.currentRow)
    )
    return e.select("event_id", "user_id", F.sum("value").over(w).alias("running_val"))


@query(
    "q21_rolling_avg",
    oracle="""
    SELECT event_id, user_id,
           avg(value) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 3 PRECEDING AND CURRENT ROW
           ) AS mavg
    FROM events
    """,
)
def q21_rolling_avg(spark, sf_dir):
    """Rolling 4-row frame average (§2.11 Q21; polars rolling_window
    feature not enabled in the reference build — native in Spark)."""
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-3, W.currentRow)
    return e.select("event_id", "user_id", F.avg("value").over(w).alias("mavg"))


@query(
    "q_rolling_median",
    oracle="""
    SELECT event_id,
           quantile_cont(value, 0.5) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 6 PRECEDING AND CURRENT ROW
           ) AS rmed
    FROM events
    """,
)
def q_rolling_median(spark, sf_dir):
    """Rolling 7-row exact median per user (§2.5, r9): an ORDER
    STATISTIC over a moving frame — Spark has no built-in windowed
    median, so this composes one JVM-side: collect_list over the frame
    → array_sort → pick/interpolate by index. Everything stays in
    whole-stage codegen; no UDF, no Python.

    Interpolation mirrors DuckDB's quantile_cont tree exactly
    (lo + (hi − lo)·0.5, which degenerates to lo for odd frames since
    hi = lo there), so the doubles are bit-equal — no rounding needed.

    Scale note: per-row cost and memory are O(frame) — fine for small
    fixed frames (7 here). For frames of thousands of rows use two
    passes over bucketized ranks instead (the operators/quantile.py
    approach); collect_list over a wide frame is the same buffering
    trap that operator exists to avoid."""
    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id").rowsBetween(-6, W.currentRow)
    # Materialize the sorted frame ONCE behind a checkpoint-free barrier:
    # referencing the window expression from every index term would make
    # Catalyst extract one collect_list PER REFERENCE (observed: seven
    # _weN duplicates); an aggregate-free intermediate select pins a
    # single window column, and the median projection below references
    # the ATTRIBUTE, which CollapseProject substitutes without
    # re-expanding the window expression.
    base = e.select(
        "event_id", F.array_sort(F.collect_list("value").over(w)).alias("__s")
    )
    s = F.col("__s")
    n = F.size(s)
    # 1-based order-statistic indices around pos = (n−1)/2:
    # odd n → i1 = i2 = (n+1)/2; even n → the two middle elements.
    i1 = (F.floor((n - F.lit(1)) / F.lit(2)) + F.lit(1)).cast("int")
    i2 = (F.floor(n / F.lit(2)) + F.lit(1)).cast("int")
    lo, hi = F.element_at(s, i1), F.element_at(s, i2)
    med = F.when(n == 0, F.lit(None).cast("double")).otherwise(
        lo + (hi - lo) * F.lit(0.5)
    )
    return base.select("event_id", med.alias("rmed"))


@query(
    "q_rolling_p50_wide",
    oracle="""
    WITH b AS (
      SELECT user_id, ts, event_id,
             CAST(ceil(ln(value) / 0.10008345855698263) AS BIGINT) AS bin
      FROM events WHERE value > 0
    )
    SELECT event_id, user_id,
           quantile_cont(bin, 0.5) OVER (
             PARTITION BY user_id ORDER BY ts, event_id
             ROWS BETWEEN 29 PRECEDING AND CURRENT ROW
           ) AS rq_bin
    FROM b
    """,
)
def q_rolling_p50_wide(spark, sf_dir):
    """Rolling median over a WIDE 30-row frame (§2.5, r10) — the scale
    path q_rolling_median's docstring declares: per-row window state is
    the log-BIN histogram of the frame (operators/quantile.py
    rolling_quantile_binned, α = 0.05), not the frame itself, so the
    same plan holds at frames of thousands where collect_list+sort
    would buffer and sort every frame per row. The hash pins the
    bin-space rolling quantile (integer bins, dyadic q → both engines'
    interpolation trees produce bit-equal doubles); the value-space
    estimate's α accuracy is property-tested in tests/test_quantile.py,
    not hashed (γ^b re-materialization is libm-dependent in the last
    ulp)."""
    from polars_express_spark.operators.quantile import rolling_quantile_binned

    # frames run over the POSITIVE subsequence (the operator's log-bin
    # domain contract — a zero/negative reading raises rather than
    # silently shifting the frames, so the caller filters explicitly)
    e = load_table(spark, sf_dir, "events").where(F.col("value") > 0)
    r = rolling_quantile_binned(
        e,
        "value",
        0.5,
        partition=["user_id"],
        order=["ts", "event_id"],
        preceding=29,
        alpha=0.05,
    )
    return r.select("event_id", "user_id", "rq_bin")


@query(
    "q_session_window",
    oracle=f"""
    WITH flagged AS (
      SELECT user_id, ts, value,
             CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > INTERVAL '30 minutes'
                  OR lag(ts) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
    ), sess AS (
      SELECT user_id, ts, value,
             sum(new_sess) OVER (
               PARTITION BY user_id ORDER BY ts
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
             ) AS sess_id
      FROM flagged
    )
    SELECT user_id,
           min(ts) AS session_start,
           max(ts) + INTERVAL '30 minutes' AS session_end,
           count(*) AS n_events,
           {sql_dsum("value", "sum_val")}
    FROM sess GROUP BY user_id, sess_id
    """,
)
def q_session_window(spark, sf_dir):
    """Gap-based session windows in BATCH mode via F.session_window (§2.9;
    the same call works under readStream — the streaming variant is
    golden-tested in tests/test_streaming.py). The oracle replays the
    classic lag/gap-flag/cumsum sessionization, which is also the
    fallback pattern when a 30-min gap session must run on engines
    without native session windows."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.session_window("ts", "30 minutes").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "sum_val"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "sum_val",
        )
    )


@query(
    "q21b_range_frame",
    oracle=f"""
    SELECT event_id, user_id,
           CAST(count(*) OVER w AS BIGINT) AS cnt_1h,
           CAST(SUM(CAST(value AS DECIMAL(25,6))) OVER w AS DOUBLE) AS sum_1h
    FROM events
    WINDOW w AS (
      PARTITION BY user_id ORDER BY epoch_us(ts)
      RANGE BETWEEN 3600000000 PRECEDING AND CURRENT ROW
    )
    ORDER BY event_id
    """,
)
def q21b_range_frame(spark, sf_dir):
    """Time-RANGE window frame (§2.5, the value-based frame beside
    q21's row-count frame): per user, count and exact sum of events in
    the trailing hour of EACH event — frames defined by timestamp
    distance, not row position, so bursts widen the frame and quiet
    periods shrink it. Ordering key is exact integer microseconds on
    both engines; the frame sum is decimal-exact, so peers/ties can't
    flip the hash."""
    e = load_table(spark, sf_dir, "events")
    w = (
        W.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-3_600_000_000, W.currentRow)
    )
    return e.select(
        "event_id",
        "user_id",
        F.count(F.lit(1)).over(w).cast("bigint").alias("cnt_1h"),
        F.sum(F.col("value").cast("decimal(25,6)")).over(w).cast("double").alias("sum_1h"),
    )


@query(
    "q18c_window_dist",
    oracle="""
    SELECT o_orderkey,
           percent_rank() OVER w AS pr,
           cume_dist() OVER w AS cd,
           nth_value(o_orderkey, 2) OVER (
             PARTITION BY o_orderpriority ORDER BY o_totalprice DESC, o_orderkey
             ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED FOLLOWING
           ) AS second_key
    FROM orders
    WINDOW w AS (PARTITION BY o_orderpriority
                 ORDER BY o_totalprice DESC, o_orderkey)
    ORDER BY o_orderkey
    """,
)
def q18c_window_dist(spark, sf_dir):
    """Distribution window functions (§2.5, completing the ranking
    family): percent_rank and cume_dist — both exact ratios of integer
    rank counts over a TOTAL order (price desc, key), so the doubles
    are identical on both engines — plus nth_value over the full-frame
    window (the 2nd-highest order per priority).

    Scale note: PARTITION BY o_orderpriority has 5 distinct values, so
    this window runs on 5 reducer tasks whatever the cluster size —
    acceptable HERE because the query declares the built-in window
    functions themselves (reference parity). When the per-group rank
    is the goal rather than the operator demo, use the grouped
    two-level prefix scan instead (operators/prefix.py:
    grouped_bucketed_cumsum — rank = cumulative count), which bounds
    every task at ~1/n_buckets of a group."""
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey")
    )
    wf = w.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
    return o.select(
        "o_orderkey",
        F.percent_rank().over(w).alias("pr"),
        F.cume_dist().over(w).alias("cd"),
        F.nth_value("o_orderkey", 2).over(wf).alias("second_key"),
    )


@query(
    "q20b_share_of_total",
    oracle="""
    SELECT o_orderkey,
           CAST(o_totalprice AS DOUBLE)
             / CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) OVER (
                 PARTITION BY o_orderpriority) AS DOUBLE) AS share
    FROM orders ORDER BY o_orderkey
    """,
)
def q20b_share_of_total(spark, sf_dir):
    """Percent-of-total (ratio_to_report) window (§2.5): each order's
    share of its priority class's revenue — the contribution metric
    behind every share-of-wallet report. The partition denominator is
    a decimal-exact windowed sum, so the division inputs (and hence
    the emitted doubles) are identical on both engines.

    Scale note: at production scale compute the 5-row denominator with
    groupBy(priority).sum() and broadcast-join it back (one partial→
    final aggregate + a map-side join) instead of this 5-partition
    window — kept as the window form here because the query declares
    the windowed-denominator operator itself."""
    o = load_table(spark, sf_dir, "orders")
    w = W.partitionBy("o_orderpriority")
    denom = F.sum(F.col("o_totalprice").cast("decimal(25,6)")).over(w).cast("double")
    return o.select(
        "o_orderkey",
        (F.col("o_totalprice").cast("double") / denom).alias("share"),
    )
