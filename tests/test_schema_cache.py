"""The catalog's schema cache (catalog.read_path): each path's schema is
inferred once per file version, reused while the files are unchanged,
and re-inferred after any rewrite — through the lake, by hand or by an
append."""

from __future__ import annotations

import os
import threading

import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F

from polars_express_spark.catalog import DataLake, file_version, load_table


def _jobs(spark, fn, group):
    """(result of fn(), ids of the Spark jobs it ran)."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, list(sc.statusTracker().getJobIdsForGroup(group))


def test_second_load_of_unchanged_parquet_runs_no_job(spark, tmp_path):
    lake = DataLake(spark, str(tmp_path))
    lake.save(spark.range(20).toDF("id"), "t")
    first, cold_jobs = _jobs(spark, lambda: lake.load("t"), "schema_cache_cold")
    second, warm_jobs = _jobs(spark, lambda: lake.load("t"), "schema_cache_warm")
    assert cold_jobs  # inference ran (and the counting sees it)
    assert warm_jobs == []
    assert second.schema == first.schema
    assert second.count() == 20


def test_overwrite_that_adds_a_column_returns_new_schema(spark, tmp_path):
    lake = DataLake(spark, str(tmp_path))
    lake.save(spark.range(5).toDF("a"), "t")
    assert lake.load("t").columns == ["a"]
    lake.save(spark.range(5).toDF("a").withColumn("b", F.col("a") * 2), "t")
    out = lake.load("t")
    assert out.columns == ["a", "b"]
    assert sorted(r["b"] for r in out.collect()) == [0, 2, 4, 6, 8]


def test_csv_replaced_by_hand_returns_new_columns(spark, tmp_path):
    path = tmp_path / "t.csv"
    path.write_text("a,b\n1,2\n")
    lake = DataLake(spark, str(tmp_path))
    assert lake.load("t").columns == ["a", "b"]
    path.write_text("x,y,z\n1,2,3\n")
    out = lake.load("t")
    assert out.columns == ["x", "y", "z"]
    assert [tuple(r) for r in out.collect()] == [(1, 2, 3)]


def test_appended_part_file_changes_the_signature(spark, tmp_path):
    lake = DataLake(spark, str(tmp_path))
    path = lake.save(spark.range(5).toDF("id"), "t")
    assert lake.load("t").count() == 5
    before = file_version(path)
    lake.save(spark.range(5, 8).toDF("id"), "t", mode="append")
    assert file_version(path) != before
    assert lake.load("t").count() == 8


def test_nanos_timestamp_resolves_to_same_type_cached_and_uncached(spark, tmp_path):
    """events.ts stored as parquet TIMESTAMP(NANOS) reads as long nanos
    under nanosAsLong; a cached schema must resolve it to the same type
    and values as inference does."""
    ns = [1_700_000_000_123_456_789, 1_700_000_060_000_000_001]
    table = pa.table({"event_id": pa.array([1, 2]), "ts": pa.array(ns, pa.timestamp("ns"))})
    pq.write_table(table, str(tmp_path / "events.parquet"), version="2.6")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    uncached = load_table(spark, str(tmp_path), "events")
    cached, jobs = _jobs(
        spark, lambda: load_table(spark, str(tmp_path), "events"), "schema_cache_nanos"
    )
    assert jobs == []
    assert cached.schema == uncached.schema
    assert dict(cached.dtypes)["ts"] == "timestamp"
    assert sorted(cached.collect()) == sorted(uncached.collect())


def test_restore_and_snapshots_see_each_versions_schema(spark, tmp_path):
    lake = DataLake(spark, str(tmp_path), keep_snapshots=2)
    lake.save(spark.range(3).toDF("a"), "t")
    assert lake.load("t").columns == ["a"]
    lake.save(spark.range(3).toDF("a").withColumn("b", F.lit(1)), "t")
    assert lake.load("t").columns == ["a", "b"]
    assert lake.load_snapshot("t", 1).columns == ["a"]
    lake.restore("t", 1)  # archives the two-column version as snapshot 2
    assert lake.load("t").columns == ["a"]
    assert lake.load_snapshot("t", 2).columns == ["a", "b"]
    assert lake.load_snapshot("t", 1).columns == ["a"]


def test_concurrent_loads_of_one_path_agree(spark, tmp_path):
    lake = DataLake(spark, str(tmp_path))
    lake.save(spark.range(10).toDF("id").withColumn("s", F.lit("x")), "t")
    schemas, errors = [], []

    def load():
        try:
            schemas.append(lake.load("t").schema)
        except Exception as e:  # noqa: BLE001 — collected, asserted below
            errors.append(e)

    threads = [threading.Thread(target=load) for _ in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=120)
    assert not any(t.is_alive() for t in threads)
    assert errors == []
    assert len(schemas) == 8
    assert all(s == schemas[0] for s in schemas)
    assert [f.name for f in schemas[0].fields] == ["id", "s"]


def test_file_version_is_none_for_a_missing_path(tmp_path):
    assert file_version(os.path.join(str(tmp_path), "absent.parquet")) is None
