"""FrameMemo (queries/_memo.py): the bounded LRU behind the pipeline
pair/shingle frames and the ANN index frames. Storage must not grow
monotonically over many (dataset, params) keys, dead-session entries
must be swept, and live sessions must never evict each other. The last
tests pin that no registry query needs ``clearCache()`` from its caller.
"""

from __future__ import annotations

import gc
import time
from types import SimpleNamespace

from polars_express_spark.queries._memo import FrameMemo


def _held(df) -> bool:
    """True while the checkpoint RDD behind a memo entry keeps storage."""
    rdd = df._jdf.queryExecution().analyzed().rdd()
    return rdd.getStorageLevel().useMemory()


def test_memo_is_bounded_and_lru(spark):
    memo = FrameMemo(capacity=3)
    built = []

    def make(i):
        def build():
            built.append(i)
            return spark.range(i + 1)

        return build

    frames = {}
    for i in range(10):  # cycle many keys: storage must stay ≤ capacity
        frames[i] = memo.get(spark, ("ds", i), make(i))
    assert len(memo) == 3
    assert built == list(range(10))
    # evicted frames are unpersisted; survivors keep their storage level
    assert _held(frames[0]) is False
    assert _held(frames[9]) is True
    # hit does not rebuild and refreshes recency
    memo.get(spark, ("ds", 7), make(7))
    assert built == list(range(10))
    memo.get(spark, ("ds", 10), make(10))  # evicts LRU (8)
    assert _held(frames[8]) is False
    assert _held(frames[7]) is True
    memo.release()


def test_memo_release_by_token(spark):
    memo = FrameMemo(capacity=8)
    a = memo.get(spark, ("sf_a", 1), lambda: spark.range(1))
    b = memo.get(spark, ("sf_b", 1), lambda: spark.range(2))
    memo.release("sf_a")
    assert len(memo) == 1 and _held(a) is False
    assert _held(b) is True
    memo.release()
    assert len(memo) == 0


def test_memo_sweeps_dead_sessions_only(spark):
    """Entries owned by a STOPPED context are dropped on the next access;
    entries owned by a different LIVE session are left alone (no
    cross-session memo thrash)."""
    memo = FrameMemo(capacity=8)
    live = memo.get(spark, ("mine", 1), lambda: spark.range(3))

    dead_owner = SimpleNamespace(sparkContext=SimpleNamespace(_jsc=None))
    other_live = SimpleNamespace(sparkContext=SimpleNamespace(_jsc=object()))
    memo._entries[("appDead", "theirs", 1)] = (spark.range(4), dead_owner)
    memo._entries[("appLive", "theirs", 2)] = (spark.range(5), other_live)

    got = memo.get(spark, ("mine", 1), lambda: spark.range(99))
    assert got is live  # cached hit, not rebuilt
    keys = set(memo._entries)
    assert ("appDead", "theirs", 1) not in keys  # dead swept
    assert ("appLive", "theirs", 2) in keys  # live peer kept
    memo.release()


def test_memo_concurrent_access_stays_bounded(spark):
    """Thread hammer (the documented server use case): concurrent misses
    on distinct keys must neither raise (dict-mutation races) nor
    overshoot the capacity bound — capacity is re-checked at insert."""
    import random
    import threading

    memo = FrameMemo(capacity=4)
    errors = []

    def worker(wid):
        rng = random.Random(wid)
        try:
            for _ in range(30):
                k = rng.randrange(12)
                memo.get(spark, ("ds", k), lambda k=k: spark.range(k + 1))
                assert len(memo) <= 4
        except Exception as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    assert len(memo) <= 4
    memo.release()


def _n_persisted_rdds(spark) -> int:
    return len(spark.sparkContext._jsc.sc().getRDDStorageInfo())


def test_memo_checkpoint_storage_promptly_bounded(spark):
    """Cycling >capacity keys must keep EXECUTOR storage (not just the
    Python dict) bounded by capacity — eviction unpersists the
    LogicalRDD's internal RDD directly, because DataFrame.unpersist()
    alone leaves localCheckpoint blocks to the GC-lagged
    ContextCleaner."""
    spark.catalog.clearCache()
    base = _n_persisted_rdds(spark)
    memo = FrameMemo(capacity=3)
    for i in range(9):
        df = memo.get(spark, ("ckpt_cycle", i), lambda i=i: spark.range(500 + i))
        df.count()  # materialize the lazy checkpoint
    assert len(memo) == 3
    assert _n_persisted_rdds(spark) - base <= 3
    memo.release()
    assert _n_persisted_rdds(spark) - base <= 0


def test_lake_save_releases_dataset_memos(spark, tmp_path):
    """Overwriting a dataset through the DataLake must drop memoized
    frames keyed on that directory so the next query rebuilds from the
    new data — a stale memo read is a wrong answer in a long-lived
    server."""
    from polars_express_spark.catalog import DataLake
    from polars_express_spark.queries._memo import FRAMES

    base = str(tmp_path)
    lake = DataLake(spark, base)
    lake.save(spark.range(5).withColumnRenamed("id", "v"), "t1")

    builds = []

    def build():
        builds.append(1)
        return lake.load("t1").agg({"v": "max"})

    key = ("maxv", base + "/t1.parquet")  # dataset-path key under base
    assert FRAMES.get(spark, key, build).collect()[0][0] == 4
    assert FRAMES.get(spark, key, build).collect()[0][0] == 4
    assert builds == [1]  # second read was a memo hit
    lake.save(spark.range(9).withColumnRenamed("id", "v"), "t1")  # mutation
    assert FRAMES.get(spark, key, build).collect()[0][0] == 8
    assert builds == [1, 1]  # rebuilt from the new data, not served stale
    FRAMES.release(base)


def _cache_empty(spark) -> bool:
    return spark._jsparkSession.sharedState().cacheManager().isEmpty()


def test_repeated_query_invocation_without_clearcache_stays_bounded(spark):
    """The queries that materialize a per-invocation intermediate
    (q_outlier_mad's projection, q_bloom_prune's dim side, and the
    shingle arrays of ngram_jaccard_pairs without a shared frame) free
    it themselves: a long-lived loop with no clearCache() leaves the
    CacheManager empty after every invocation, and once the dropped
    results are garbage collected the persisted-RDD count is back to at
    most what the memo holds."""
    from polars_express_spark.catalog import load_table
    from polars_express_spark.queries._memo import FRAMES
    from polars_express_spark.queries.pipeline import ngram_jaccard_pairs
    from polars_express_spark.queries.registry import all_queries
    from tests.conftest import SF_DIR

    qs = all_queries()
    runs = {
        "q_outlier_mad": lambda: qs["q_outlier_mad"](spark, SF_DIR),
        "q_bloom_prune": lambda: qs["q_bloom_prune"](spark, SF_DIR),
        "ngram_jaccard_pairs": lambda: ngram_jaccard_pairs(
            load_table(spark, SF_DIR, "documents")
        ),
    }
    # the baseline only: earlier tests in this session cache frames of
    # their own
    spark.catalog.clearCache()
    base = _n_persisted_rdds(spark)
    for _ in range(3):
        for name, run in runs.items():
            run().write.format("noop").mode("overwrite").save()
            assert _cache_empty(spark), name
    deadline = time.monotonic() + 10
    while True:
        gc.collect()
        spark._jvm.System.gc()
        held = _n_persisted_rdds(spark) - base
        if held <= len(FRAMES) or time.monotonic() > deadline:
            break
        time.sleep(0.5)
    assert held <= len(FRAMES), (base, held, len(FRAMES))


def test_codec_queries_need_no_clearcache(spark):
    """The Python-pass queries (every multimodal corpus query and
    q_embed_neardup) persist nothing per invocation: running each twice
    with no clearCache in between leaves the cache empty and the
    persistent-RDD set where it was."""
    from polars_express_spark.queries.registry import all_queries
    from tests.conftest import SF_DIR

    qs = all_queries()
    names = [n for n, fn in qs.items() if fn.__module__.endswith(".multimodal_corpus")]
    assert len(names) >= 50, names
    spark.catalog.clearCache()
    base = _n_persisted_rdds(spark)
    for name in [*names, "q_embed_neardup"]:
        for _ in range(2):
            qs[name](spark, SF_DIR).write.format("noop").mode("overwrite").save()
            assert _n_persisted_rdds(spark) <= base, name
            assert spark._jsparkSession.sharedState().cacheManager().isEmpty(), name
