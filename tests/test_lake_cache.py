"""DataLake.load keeps one in-memory columnar copy per flat dataset and
file version from the version's second load on: a repeat load reads
memory, any change to the files is seen by the next load and by a plain
``spark.read``, a rewrite evicts only the dataset it rewrote, one lake
never evicts another's copy, and partitioned datasets keep their
scan."""

from __future__ import annotations

import gc
import os
import sys
import threading
import time

import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq
import pytest
from pyspark import StorageLevel
from pyspark.sql import functions as F

from polars_express_spark.catalog import _VERSION_OPTION, DataLake, file_version


def _plan(df) -> str:
    return df._jdf.queryExecution().optimizedPlan().toString()


def _cached(df) -> bool:
    return df.storageLevel != StorageLevel.NONE


def _cached_tags(spark, path: str) -> list:
    """The version tag of each CacheManager entry whose scan reads
    ``path`` (None for an entry without one)."""
    seq = spark._jsparkSession.sharedState().cacheManager().cachedData()
    tags = []
    for i in range(seq.size()):
        leaves = seq.apply(i).plan().collectLeaves()
        for j in range(leaves.size()):
            leaf = leaves.apply(j)
            if leaf.getClass().getSimpleName() != "LogicalRelation":
                continue
            rel = leaf.relation()
            if rel.location().rootPaths().head().toUri().getPath() == path:
                tag = rel.options().get(_VERSION_OPTION)
                tags.append(tag.get() if tag.isDefined() else None)
    return tags


def _tag(lake: DataLake, path: str) -> str:
    """``lake``'s tag of the files at ``path`` as they are now."""
    return lake._tag(file_version(path))


def _replace(path: str, table: pa.Table) -> None:
    """Replace a single-file dataset by hand, as an outside writer would."""
    tmp = f"{path}.tmp"
    if path.endswith(".csv"):
        pacsv.write_csv(table, tmp)
    else:
        pq.write_table(table, tmp)
    os.replace(tmp, path)


def test_second_load_reads_memory(spark, tmp_path):
    lake = DataLake(spark, str(tmp_path))
    path = lake.save(spark.range(20).toDF("v"), "t")
    first = lake.load("t")
    assert first.count() == 20
    # one load of a version costs no cache
    assert not _cached(first)
    assert _cached_tags(spark, path) == []
    assert "InMemoryRelation" not in _plan(first.select("v"))
    second = lake.load("t")
    assert second is first
    assert _cached(second)
    assert "InMemoryRelation" in _plan(second.select("v"))
    assert second.count() == 20
    assert lake.load("t") is first
    assert _cached_tags(spark, path) == [_tag(lake, path)]


@pytest.mark.parametrize("name", ["t.parquet", "t.csv"])
def test_hand_replaced_file_is_seen_by_load_and_plain_read(spark, tmp_path, name):
    path = str(tmp_path / name)
    _replace(path, pa.table({"v": list(range(5))}))
    lake = DataLake(spark, str(tmp_path))
    old = lake.load("t")
    assert lake.load("t") is old
    assert _cached(old)
    assert old.count() == 5
    _replace(path, pa.table({"v": list(range(7))}))
    plain = spark.read.option("header", True).csv(path) if name.endswith(".csv") else (
        spark.read.parquet(path))
    assert plain.count() == 7
    new = lake.load("t")
    assert new.count() == 7
    assert not _cached(old)  # the old version's frame is unpersisted
    assert lake.load("t") is new
    assert _cached(new)
    assert sorted(int(r.v) for r in new.collect()) == list(range(7))
    assert _cached_tags(spark, path) == [_tag(lake, path)]


def test_overwrite_through_save_is_seen_and_frees_the_old_frame(spark, tmp_path):
    lake = DataLake(spark, str(tmp_path))
    path = lake.save(spark.range(5).toDF("v"), "t")
    old = lake.load("t")
    assert lake.load("t") is old
    assert old.count() == 5 and _cached(old)
    lake.save(spark.range(9).toDF("v"), "t")
    assert not _cached(old)
    assert spark.read.parquet(path).count() == 9
    new = lake.load("t")
    assert lake.load("t") is new
    assert new.count() == 9
    assert _cached_tags(spark, path) == [_tag(lake, path)]


def test_save_of_one_dataset_keeps_the_others(spark, tmp_path):
    lake = DataLake(spark, str(tmp_path))
    lake.save(spark.range(3).toDF("v"), "a")
    lake.save(spark.range(4).toDF("v"), "b")
    a, b = lake.load("a"), lake.load("b")
    assert lake.load("a") is a and lake.load("b") is b
    assert a.count() == 3 and b.count() == 4
    assert _cached(a) and _cached(b)
    lake.save(spark.range(5).toDF("v"), "a")
    assert not _cached(a)
    assert _cached(b) and lake.load("b") is b


def test_two_lakes_over_one_directory_keep_their_own_copies(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    _replace(path, pa.table({"v": list(range(5))}))
    one, two = DataLake(spark, str(tmp_path)), DataLake(spark, str(tmp_path))
    a, b = one.load("t"), two.load("t")
    assert one.load("t") is a and two.load("t") is b
    assert _cached(a) and _cached(b)
    assert sorted(_cached_tags(spark, path)) == sorted([_tag(one, path), _tag(two, path)])
    one._drop("t")  # as a save through `one` would
    assert not _cached(a)
    assert _cached(b) and two.load("t") is b
    assert one.load("t") is not a  # a new frame: first load, not cached
    del one, a
    gc.collect()  # the dropped lake's finalizer leaves `two`'s copy
    assert _cached(b)
    assert _cached_tags(spark, path) == [_tag(two, path)]
    assert b.count() == 5


def test_clear_cache_between_loads_stays_correct(spark, tmp_path):
    lake = DataLake(spark, str(tmp_path))
    path = str(tmp_path / "t.parquet")
    _replace(path, pa.table({"v": list(range(5))}))
    assert lake.load("t").count() == 5
    assert lake.load("t").count() == 5 and _cached(lake.load("t"))
    spark.catalog.clearCache()
    # the kept frame is cached again by its next load
    df = lake.load("t")
    assert _cached(df)
    assert df.count() == 5
    assert _cached_tags(spark, path) == [_tag(lake, path)]
    _replace(path, pa.table({"v": list(range(8))}))
    spark.catalog.clearCache()
    assert lake.load("t").count() == 8
    assert _cached(lake.load("t"))
    assert spark.read.parquet(path).count() == 8
    assert _cached_tags(spark, path) == [_tag(lake, path)]


def test_missing_dataset_forgets_its_frame(spark, tmp_path):
    lake = DataLake(spark, str(tmp_path))
    path = str(tmp_path / "t.parquet")
    _replace(path, pa.table({"v": list(range(5))}))
    df = lake.load("t")
    assert lake.load("t") is df and _cached(df)
    assert df.count() == 5
    os.remove(path)
    with pytest.raises(FileNotFoundError):
        lake.load("t")
    assert not _cached(df)


def test_dropped_lake_leaves_no_cache_entry(spark, tmp_path):
    lake = DataLake(spark, str(tmp_path))
    path = lake.save(spark.range(5).toDF("v"), "t")
    lake.load("t")
    assert lake.load("t").count() == 5
    assert _cached_tags(spark, path) == [_tag(lake, path)]
    del lake
    gc.collect()
    assert _cached_tags(spark, path) == []


def test_partitioned_dataset_is_not_cached(spark, tmp_path):
    lake = DataLake(spark, str(tmp_path))
    df = spark.range(40).select((F.col("id") % 4).alias("k"), F.col("id").alias("v"))
    lake.save(df, "p", partition_by=["k"])
    lake.load("p")
    loaded = lake.load("p")
    assert not _cached(loaded)
    filtered = lake.load("p").where(F.col("k") == 1)
    assert "InMemoryRelation" not in _plan(filtered)
    plan = filtered._sc._jvm.PythonSQLUtils.explainString(
        filtered._jdf.queryExecution(), "formatted"
    )
    assert "k" in plan.split("PartitionFilters:")[1].split("\n")[0]
    assert filtered.count() == 10


def test_declared_schema_and_merge_schema_are_not_cached(spark, tmp_path):
    lake = DataLake(spark, str(tmp_path))
    lake.save(spark.range(5).toDF("v"), "t")
    for _ in range(2):
        assert not _cached(lake.load("t", schema="v long"))
        assert not _cached(lake.load("t", merge_schema=True))


def test_threaded_reads_during_overwrites_see_whole_versions(spark, tmp_path):
    """Readers load and aggregate while the same dataset is overwritten:
    every read that succeeds sees exactly one version (its row count
    and its constant column agree), every version is read, and the lake
    leaves one cache entry for the dataset, of its current version."""
    lake = DataLake(spark, str(tmp_path))

    def version(k: int):
        return spark.range(10 * k).select(F.col("id").alias("v"), F.lit(k).alias("k"))

    path = lake.save(version(1), "t")
    bad: list[str] = []
    seen: list[int] = []
    lock = threading.Lock()
    stop = threading.Event()

    def reader():
        while not stop.is_set():
            try:
                r = lake.load("t").agg(
                    F.count("*").alias("n"), F.min("k").alias("lo"), F.max("k").alias("hi")
                ).collect()[0]
            except Exception:  # noqa: BLE001
                # the publish gap (dataset missing) or files removed under
                # a running scan: a failed read, never a wrong one
                continue
            with lock:
                seen.append(r.lo)
                if not (r.lo == r.hi and r.n == 10 * r.lo):
                    bad.append(f"mixed read {r}")

    def reads_of(k: int) -> int:
        with lock:
            return seen.count(k)

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-4)
    threads = [threading.Thread(target=reader, daemon=True) for _ in range(6)]
    try:
        for t in threads:
            t.start()
        for k in range(2, 7):
            lake.save(version(k), "t")
            # let the readers see this version before the next overwrite
            deadline = time.monotonic() + 60
            while reads_of(k) < 3 and time.monotonic() < deadline:
                time.sleep(0.05)
    finally:
        stop.set()
        for t in threads:
            t.join(timeout=60)
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads), "hung reader"
    assert not bad, bad
    assert all(reads_of(k) >= 3 for k in range(2, 7)), sorted(set(seen))
    final = lake.load("t").agg(F.count("*"), F.max("k")).collect()[0]
    assert tuple(final) == (60, 6)
    assert _cached_tags(spark, path) == [_tag(lake, path)]
