"""Time-window corpus: Q32/Q33 — batch equivalents of the streaming
tumbling/sliding windows (SURVEY.md §2.9; absent in the reference, which
is purely request/response — src/main.rs:43-52).

The same F.window() expressions run unchanged under readStream; the
streaming variants (plus watermarks/late data) are golden-tested in
tests/test_streaming.py. Spark window buckets are epoch-aligned, as is
DuckDB's time_bucket for sub-day intervals — so the batch oracle is exact.
"""

from __future__ import annotations

from pyspark.sql import functions as F

from polars_express_spark.catalog import load_table
from polars_express_spark.queries._util import dsum, sql_dsum
from polars_express_spark.queries.registry import query


@query(
    "q32_tumbling_window",
    oracle=f"""
    SELECT time_bucket(INTERVAL '10 minutes', ts) AS win_start,
           count(*) AS cnt,
           {sql_dsum("value", "sum_val")}
    FROM events GROUP BY 1 ORDER BY win_start
    """,
)
def q32_tumbling_window(spark, sf_dir):
    """Tumbling 10-minute window aggregate (§2.11 Q32)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "10 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"), dsum("value", "sum_val"))
        .select(F.col("w.start").alias("win_start"), "cnt", "sum_val")
    )


@query(
    "q33_sliding_window",
    oracle=f"""
    WITH shifted AS (
      SELECT time_bucket(INTERVAL '5 minutes', ts) - k.k * INTERVAL '5 minutes' AS win_start,
             value
      FROM events CROSS JOIN (VALUES (0), (1)) k(k)
    )
    SELECT win_start, count(*) AS cnt, {sql_dsum("value", "sum_val")}
    FROM shifted GROUP BY win_start ORDER BY win_start
    """,
)
def q33_sliding_window(spark, sf_dir):
    """Sliding window: 10 minutes, sliding every 5 (§2.11 Q33). Each event
    lands in exactly two windows; the oracle materializes both starts
    explicitly (bucket and bucket−5min)."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"), dsum("value", "sum_val"))
        .select(F.col("w.start").alias("win_start"), "cnt", "sum_val")
    )


@query(
    "q_session_stats",
    oracle=f"""
    WITH lagd AS (
      SELECT user_id, ts, value,
             CASE WHEN epoch(ts) - lag(epoch(ts))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800
                  THEN 1 ELSE 0 END AS new_sess
      FROM events
    ),
    sess AS (
      SELECT user_id, ts, value,
             SUM(new_sess) OVER (PARTITION BY user_id ORDER BY ts
                                 ROWS UNBOUNDED PRECEDING) AS sess_id
      FROM lagd
    )
    SELECT user_id, min(ts) AS session_start, max(ts) AS session_end,
           CAST(count(*) AS BIGINT) AS n_events,
           {sql_dsum("value", "total_value")}
    FROM sess GROUP BY user_id, sess_id
    ORDER BY user_id, session_start
    """,
)
def q_session_stats(spark, sf_dir):
    """Batch twin of the applyInPandasWithState sessionizer
    (streaming/stateful.py): gap-sessionization (30 min) via
    lag + running-sum windows, with per-session event counts and exact
    value totals. The streaming operator is golden-tested against this
    same shape (tests/test_stateful.py); here the window formulation is
    DuckDB-oracled. Ties in ts are session-stable (gap 0 ≤ gap), so the
    event_id tiebreak only pins the lag order, not the result."""
    from pyspark.sql import Window as W

    e = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    new_sess = (
        (F.col("ts").cast("long") - F.lag(F.col("ts").cast("long")).over(w) > 1800)
        .cast("int")
    )
    sess_id = F.sum(F.coalesce(new_sess, F.lit(0))).over(
        w.rowsBetween(W.unboundedPreceding, 0)
    )
    return (
        e.withColumn("sess_id", sess_id)
        .groupBy("user_id", "sess_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count(F.lit(1)).alias("n_events"),
            dsum("value", "total_value"),
        )
        .select("user_id", "session_start", "session_end", "n_events", "total_value")
    )


@query(
    "q32b_tumbling_distinct",
    oracle="""
    SELECT time_bucket(INTERVAL '6 hours', ts) AS win_start,
           CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(count(DISTINCT event_type) AS BIGINT) AS n_types
    FROM events GROUP BY 1 ORDER BY win_start
    """,
)
def q32b_tumbling_distinct(spark, sf_dir):
    """Distinct aggregation under tumbling windows (§2.9/§2.4 — the
    active-users-per-window metric): exact per-window distinct users
    and event types; the streaming-scale path is the mergeable HLL of
    q_hll_union per window, this is its exact batch twin. All-integer
    outputs."""
    e = load_table(spark, sf_dir, "events")
    return (
        e.groupBy(F.window("ts", "6 hours").alias("w"))
        .agg(
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
            F.countDistinct("event_type").cast("bigint").alias("n_types"),
        )
        .select(F.col("w.start").alias("win_start"), "n_users", "n_types")
    )
