"""Structured Streaming operators over the events table (SURVEY.md §2.9).

Absent in the reference (pure request/response, src/main.rs:43-52);
driver-mandated Tier G. The aggregation expressions are shared with the
batch corpus (queries/time_windows.py) — the same F.window /
F.session_window calls run under readStream, which is the point of
Spark's unified model.

Scale notes: watermarks bound state (late rows beyond the watermark are
dropped, state for closed windows is evicted); dropDuplicates with a
watermark bounds the dedup state the same way. State store lives per
shuffle partition — key skew maps to state skew, so keys are the same
salting story as batch shuffles.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from polars_express_spark.catalog import read_path

# Declared fallback schema for streaming reads when the source directory
# is still empty at stream start (start-stream-first-then-drop-files is
# the documented kafka-stand-in usage): the current driver testdata's
# physical form, ts as TIMESTAMP_NTZ(µs).
EVENTS_RAW_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType(), False),
        T.StructField("ts", T.TimestampNTZType(), True),
        T.StructField("user_id", T.LongType(), True),
        T.StructField("event_type", T.StringType(), True),
        T.StructField("value", T.DoubleType(), True),
        T.StructField("props", T.StringType(), True),
    ]
)


def stream_events(spark: SparkSession, path: str) -> DataFrame:
    """readStream over a parquet directory of events files; each new file
    becomes a micro-batch (the local stand-in for kafka).

    Streaming sources require a declared schema; take it from a static
    footer read of the same path (catalog.read_path: one metadata-only
    job per file version) so the ts physical form — TIMESTAMP(NANOS)-as-
    long in older driver testdata, TIMESTAMP_NTZ(µs) in current — is
    normalized to session-tz TIMESTAMP exactly like catalog.load_table,
    keeping the streaming and batch sides of the golden equality tests
    on identical inputs. An empty/not-yet-created source falls back to
    the declared EVENTS_RAW_SCHEMA so the stream can start before data
    arrives."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    try:
        schema = read_path(spark, "parquet", path).schema
    except Exception:  # no files yet — start on the declared schema
        schema = EVENTS_RAW_SCHEMA
    raw = spark.readStream.schema(schema).parquet(path)
    ts_type = schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        return raw.withColumn(
            "ts", F.timestamp_micros(F.expr("ts div 1000").cast("long"))
        )
    if isinstance(ts_type, T.TimestampNTZType):
        return raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def tumbling_counts(
    events: DataFrame, width: str = "10 minutes", watermark: str | None = None
) -> DataFrame:
    """Tumbling-window count/sum; with a watermark, append-mode emits each
    window once it can no longer receive late data."""
    if watermark:
        events = events.withWatermark("ts", watermark)
    return (
        events.groupBy(F.window("ts", width).alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("sum_val"))
        .select(F.col("w.start").alias("win_start"), "cnt", "sum_val")
    )


def sliding_counts(
    events: DataFrame,
    width: str = "10 minutes",
    slide: str = "5 minutes",
    watermark: str | None = None,
) -> DataFrame:
    if watermark:
        events = events.withWatermark("ts", watermark)
    return (
        events.groupBy(F.window("ts", width, slide).alias("w"))
        .agg(F.count(F.lit(1)).alias("cnt"), F.sum("value").alias("sum_val"))
        .select(F.col("w.start").alias("win_start"), "cnt", "sum_val")
    )


def session_counts(events: DataFrame, gap: str = "30 minutes", watermark: str = "1 hour"):
    """Gap-based session windows per user (state evicted past watermark)."""
    return (
        events.withWatermark("ts", watermark)
        .groupBy(F.session_window("ts", gap).alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"), F.sum("value").alias("sum_val"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
            "sum_val",
        )
    )


def dedup_events(events: DataFrame, watermark: str = "30 minutes") -> DataFrame:
    """Stateful streaming dedup on event_id within the watermark horizon
    (dropDuplicatesWithinWatermark — bounded state, §2.9)."""
    return events.withWatermark("ts", watermark).dropDuplicatesWithinWatermark(["event_id"])


def incremental_dedup(
    stream: DataFrame,
    history_keys: DataFrame,
    key: str,
    ts_col: str = "ts",
    watermark: str = "30 minutes",
) -> DataFrame:
    """Incremental dedup of an arriving stream against BOTH a static
    history (everything already ingested into the lake) and itself —
    the per-batch dedup step of a continuously-ingesting training
    pipeline: a document whose fingerprint was ever seen before, in
    history or earlier in the stream, never reaches the sink.

    Shape: broadcast-able left-anti join on the key (stateless, the
    stream side never shuffles when history fits a broadcast; at 100 TB
    history the anti join becomes a shuffled join exactly like batch),
    then watermark-bounded dropDuplicatesWithinWatermark for in-stream
    repeats. State is only the in-horizon key set — history contributes
    ZERO state because the anti join is stateless per micro-batch."""
    fresh = stream.join(
        F.broadcast(history_keys.select(key).distinct()), key, "left_anti"
    )
    return fresh.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark([key])


def run_to_memory(stream_df: DataFrame, name: str, output_mode: str = "complete"):
    """Drive a streaming query synchronously into an in-memory table —
    the micro-batch golden-test harness (SURVEY.md §5.2.2)."""
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("memory")
        .queryName(name)
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    return q


def run_to_parquet(
    stream_df: DataFrame, path: str, checkpoint: str, output_mode: str = "append"
):
    """Drive a streaming query synchronously into a parquet sink — the
    durable-output twin of run_to_memory. Append mode + a checkpoint
    directory is the production shape: exactly-once file commits via the
    write-ahead log, restartable from the checkpoint. With watermarked
    aggregations upstream, append emits each window once it is final."""
    q = (
        stream_df.writeStream.outputMode(output_mode)
        .format("parquet")
        .option("path", path)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return q


def write_batch_idempotent(
    lake, data_id: str, fmt: str, batch_df: DataFrame, batch_id: int
) -> None:
    """Idempotent-per-batch lake write: the batch lands under its own
    ``__batch_id=<n>`` partition with DYNAMIC partition overwrite, so a
    restart-replayed batch REPLACES its partition instead of appending
    duplicates — the standard foreachBatch exactly-once sink pattern
    (batch ids are monotonic and stable across restarts). The partition
    column doubles as write lineage for readers.

    Layout contract (BREAKING vs the pre-r7 flat append): the dataset
    becomes Hive-partitioned on ``__batch_id`` and readers see that
    extra column in the schema. A target already holding FLAT part
    files (an old flat-append stream, or lake.save appends) is REFUSED
    — mixing flat files and partition dirs in one directory makes Spark
    partition discovery reject or misread the dataset (ADVICE r7).
    Migrate by writing to a fresh dataset id, or keep the legacy layout
    with ``idempotent=False``."""
    import os

    from pyspark.sql import functions as F  # noqa: PLC0415 — sink-local

    if fmt not in lake.FORMATS:
        raise ValueError(f"unsupported format {fmt!r}; one of {lake.FORMATS}")
    path = os.path.join(lake.base_dir, f"{data_id}.{fmt}")
    if os.path.isdir(path):
        flat = [
            e
            for e in os.listdir(path)
            if os.path.isfile(os.path.join(path, e)) and not e.startswith(("_", "."))
        ]
        if flat:
            raise ValueError(
                f"target {path!r} holds flat (non-partitioned) data files "
                f"(e.g. {flat[0]!r}); refusing to mix layouts — the idempotent "
                "sink writes __batch_id=N/ partitions, and Spark partition "
                "discovery cannot read a directory with both. Use a fresh "
                "dataset id, or idempotent=False to keep the flat layout."
            )
    writer = (
        batch_df.withColumn("__batch_id", F.lit(batch_id))
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("__batch_id")
    )
    if fmt == "csv":
        writer = writer.option("header", True)
    getattr(writer, fmt)(path)
    lake._invalidate_memos()


def stream_append_to_lake(
    stream_df: DataFrame,
    lake,
    data_id: str,
    checkpoint: str,
    fmt: str = "parquet",
    idempotent: bool = True,
):
    """foreachBatch sink: append each micro-batch into the DataLake as
    <base>/<id>.<fmt> — the escape hatch for sinks the streaming engine
    has no native writer for (JDBC upserts, REST posts, multi-table
    fan-out). foreachBatch hands the micro-batch over as a BATCH frame,
    so the full batch writer surface applies.

    Delivery is at-least-once (a batch may re-run on failure before the
    checkpoint commits). With ``idempotent=True`` (default, r7) each
    batch writes through write_batch_idempotent — replay replaces the
    batch's own ``__batch_id`` partition, so the lake never holds
    duplicates and no reader-side dedup is needed. ``idempotent=False``
    keeps the plain append; downstream consumers must then dedup on a
    key — exactly the q34/fingerprint machinery."""

    def sink(batch_df: DataFrame, batch_id: int) -> None:
        if idempotent:
            write_batch_idempotent(lake, data_id, fmt, batch_df, batch_id)
        else:
            lake.save(batch_df, data_id, fmt=fmt, mode="append")

    q = (
        stream_df.writeStream.foreachBatch(sink)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )
    q.processAllAvailable()
    q.stop()
    return q
