"""JSON row sink (Q37) + as-of join query (SURVEY.md §2.1, §2.3).

Q37 reproduces the reference's row-major JSON serialization
(src/main.rs:207-255) as a *canonical* JSON projection: keys in
alphabetical order, pinned timestamp/float formatting — so the string
compares byte-for-byte against the oracle. Unlike the reference's
per-cell AnyValue dispatch loop, this is a single JVM expression over
the top-k result (anti-pattern §4.3.3 avoided).
"""

from __future__ import annotations

from pyspark.sql import functions as F

from polars_express_spark.catalog import load_table
from polars_express_spark.queries.registry import query


@query(
    "q37_json_sink",
    oracle="""
    WITH top AS (
      SELECT event_id, ts, user_id, event_type, value
      FROM events ORDER BY value DESC, event_id ASC LIMIT 20
    )
    SELECT '{"event_id":' || event_id
        || ',"event_type":"' || event_type
        || '","ts":"' || strftime(ts, '%Y-%m-%d %H:%M:%S.%f')
        || '","user_id":' || user_id
        || ',"value":' || printf('%.6f', value)
        || '}' AS json
    FROM top
    """,
)
def q37_json_sink(spark, sf_dir):
    """Canonical JSON rows of the Q2 top-k result (§2.11 Q37) — covers the
    reference's type mapping (src/main.rs:223-246): ints bare, strings
    quoted, floats at fixed 6-dp, timestamps ISO with microseconds."""
    from polars_express_spark.queries.relational import q02_sort_slice

    top = q02_sort_slice(spark, sf_dir)
    return top.select(
        F.concat(
            F.lit('{"event_id":'),
            F.col("event_id").cast("string"),
            F.lit(',"event_type":"'),
            F.col("event_type"),
            F.lit('","ts":"'),
            F.date_format("ts", "yyyy-MM-dd HH:mm:ss.SSSSSS"),
            F.lit('","user_id":'),
            F.col("user_id").cast("string"),
            F.lit(',"value":'),
            F.format_string("%.6f", F.col("value")),
            F.lit("}"),
        ).alias("json")
    )


@query(
    "q38_write_roundtrip",
    oracle="""
    SELECT CAST(n_nationkey AS BIGINT) AS n_nationkey, n_name,
           CAST(n_regionkey AS BIGINT) AS n_regionkey
    FROM nation ORDER BY n_nationkey
    """,
)
def q38_write_roundtrip(spark, sf_dir):
    """Parquet + JSON write sinks (§2.1), verified by round-trip: write
    `nation` through DataLake.save in BOTH formats, re-read both, and
    return their intersection — equal to the source iff each sink
    preserved every row and value. Keys are cast to bigint because JSON
    carries no integer width (Spark reads them back as long)."""
    import tempfile

    from polars_express_spark.catalog import DataLake

    n = load_table(spark, sf_dir, "nation")
    lake = DataLake(spark, tempfile.mkdtemp(prefix="pxs_lake_"))
    lake.save(n, "nation_rt", fmt="parquet")
    lake.save(n, "nation_rt_json", fmt="json")
    cols = [
        F.col("n_nationkey").cast("long").alias("n_nationkey"),
        F.col("n_name"),
        F.col("n_regionkey").cast("long").alias("n_regionkey"),
    ]
    pq = lake.load("nation_rt").select(*cols)
    js = lake.load("nation_rt_json").select(*cols)
    return pq.intersect(js)


_SQL_SURFACE_STMT = """
    SELECT o_orderstatus AS status,
           COUNT(*) AS n_orders,
           MIN(o_orderkey) AS min_key,
           MAX(o_orderkey) AS max_key
    FROM orders
    GROUP BY o_orderstatus
    ORDER BY status
"""


@query("q_sql_surface", oracle=_SQL_SURFACE_STMT)
def q_sql_surface(spark, sf_dir):
    """/sql endpoint surface (engine-native route beyond the reference's
    three, server.py POST /sql): drive api.run_sql end-to-end — the
    parsed-plan read-only sandbox walk (api._check_read_only), the
    analysis of that tree with the lake's frames bound to their dataset
    names, Catalyst execution, and the capped JSON row sink — over the
    sf_dir tables, then lift the sink's row dicts back into a typed
    DataFrame. The statement is integer/string-only (counts and key
    extrema per order status) so the JSON round-trip is exact. Puts the
    whole endpoint path under the driver hash contract; the oracle is
    the same ANSI statement run by DuckDB directly.

    EAGER, deliberately: run_sql collects at query-CONSTRUCTION time
    (the endpoint's contract is JSON rows, so the DataFrame returned
    here is a local relation lifted from them). Building this query —
    including schema-only sweeps — therefore executes the statement.
    That is the accepted cost of driving the real endpoint path rather
    than a lazy twin of it; the registry sweep
    (tests/test_registry_shapes.py) documents this one exception. It
    registers no temp view: the session's views are as they were."""
    from polars_express_spark.api import run_sql
    from polars_express_spark.catalog import DataLake

    lake = DataLake(spark, sf_dir)
    rows = run_sql(lake, _SQL_SURFACE_STMT)
    return spark.createDataFrame(
        [(r["status"], r["n_orders"], r["min_key"], r["max_key"]) for r in rows],
        "status string, n_orders bigint, min_key bigint, max_key bigint",
    )


@query(
    "q_asof_join",
    oracle="""
    WITH errors AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'
    ),
    clicks AS (
      SELECT user_id, ts, value FROM events WHERE event_type = 'click'
    )
    SELECT e.event_id, e.user_id, e.ts, c.value AS asof_value
    FROM errors e ASOF LEFT JOIN clicks c
      ON e.user_id = c.user_id AND e.ts >= c.ts
    ORDER BY e.event_id
    """,
)
def q_asof_join(spark, sf_dir):
    """Backward as-of join (§2.3): each 'error' event picks up the value
    of the latest preceding 'click' by the same user. DuckDB's native
    ASOF JOIN is the independent oracle for our union-marker composition
    (operators/asof.py)."""
    from polars_express_spark.operators.asof import asof_join_backward

    e = load_table(spark, sf_dir, "events")
    errors = e.where(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    clicks = e.where(F.col("event_type") == "click").select("user_id", "ts", "value")
    joined = asof_join_backward(errors, clicks, on="ts", by="user_id", value_cols=["value"])
    return joined.select("event_id", "user_id", "ts", F.col("asof_value"))


@query(
    "q_asof_forward",
    oracle="""
    WITH errors AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'
    ),
    clicks AS (
      SELECT user_id, ts, value FROM events WHERE event_type = 'click'
    )
    SELECT e.event_id, e.user_id, e.ts, c.value AS asof_value
    FROM errors e ASOF LEFT JOIN clicks c
      ON e.user_id = c.user_id AND e.ts <= c.ts
    ORDER BY e.event_id
    """,
)
def q_asof_forward(spark, sf_dir):
    """Forward as-of join (§2.3): each 'error' event picks up the value
    of the EARLIEST following 'click' by the same user — the mirror
    direction of q_asof_join, oracled by DuckDB's ASOF JOIN with the
    inequality flipped (operators/asof.py)."""
    from polars_express_spark.operators.asof import asof_join_forward

    e = load_table(spark, sf_dir, "events")
    errors = e.where(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    clicks = e.where(F.col("event_type") == "click").select("user_id", "ts", "value")
    joined = asof_join_forward(errors, clicks, on="ts", by="user_id", value_cols=["value"])
    return joined.select("event_id", "user_id", "ts", F.col("asof_value"))


@query(
    "q_asof_nearest",
    oracle="""
    WITH errors AS (
      SELECT event_id, user_id, ts FROM events WHERE event_type = 'error'
    ),
    clicks AS (
      SELECT user_id, ts, value FROM events WHERE event_type = 'click'
    )
    SELECT e.event_id, e.user_id, e.ts,
           (SELECT c.value FROM clicks c WHERE c.user_id = e.user_id
            ORDER BY abs(epoch_us(c.ts) - epoch_us(e.ts)) ASC, (c.ts > e.ts) ASC
            LIMIT 1) AS asof_value
    FROM errors e ORDER BY e.event_id
    """,
)
def q_asof_nearest(spark, sf_dir):
    """Nearest as-of join (§2.3, pandas direction='nearest'): each
    'error' event takes the closest 'click' by |ts gap|, equidistant →
    the earlier one. Oracle: DuckDB correlated min-|gap| subquery with
    the same backward tie preference (exact integer microseconds on both
    sides). (user_id, ts) click keys are unique at every tested SF, so
    the pick is deterministic."""
    from polars_express_spark.operators.asof import asof_join_nearest

    e = load_table(spark, sf_dir, "events")
    errors = e.where(F.col("event_type") == "error").select("event_id", "user_id", "ts")
    clicks = e.where(F.col("event_type") == "click").select("user_id", "ts", "value")
    joined = asof_join_nearest(errors, clicks, on="ts", by="user_id", value_cols=["value"])
    return joined.select("event_id", "user_id", "ts", F.col("asof_value"))
