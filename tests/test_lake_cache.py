"""DataLake keeps the serving routes' answers per dataset version in one
bounded pool of strings and numbers (DataLake.answer), and no copy of a
dataset's rows: a repeat request runs no Spark job, every kind of
rewrite — a file replaced by hand included — is answered from the new
data, a write drops the answers that read its dataset and no other, an
answer computed across a rewrite or fixing a seed or the time is not
kept, serving leaves Spark's cache as it was, and no shuffle output
outlives the request that made it."""

from __future__ import annotations

import copy
import gc
import os
import sys
import threading
import time
import weakref

import pyarrow as pa
import pyarrow.csv as pacsv
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from test_schema_cache import _jobs

from polars_express_spark import api
from polars_express_spark.catalog import DataLake
from polars_express_spark.sinks import JsonAnswer


def _replace(path: str, table: pa.Table) -> None:
    """Replace a single-file dataset by hand, as an outside writer would."""
    tmp = f"{path}.tmp"
    if path.endswith(".csv"):
        pacsv.write_csv(table, tmp)
    else:
        pq.write_table(table, tmp)
    os.replace(tmp, path)


def _delay_table(rows: int) -> pa.Table:
    return pa.table({
        "v": list(range(rows)),
        "departure_delay": [float(i) for i in range(rows)],
        "arrival_delay": [2.0 * i + 1 for i in range(rows)],
    })


@pytest.mark.parametrize("name", ["t.parquet", "t.csv"])
def test_hand_replaced_file_is_seen_by_load_and_plain_read(spark, tmp_path, name):
    """A single file replaced by hand is read from its new rows by the
    next load, by a plain ``spark.read`` and by every route's next
    request."""
    path = str(tmp_path / name)
    _replace(path, _delay_table(5))
    lake = DataLake(spark, str(tmp_path))

    def routes():
        reg = api.run_regression(lake, "t", "departure_delay", "arrival_delay")
        return (
            api.get_data_preview(lake, "t"),
            api.get_sorted_delays(lake, "t", descending=True),
            (reg.n, round(reg.slope, 9), round(reg.intercept, 9)),
            api.run_sql(lake, "SELECT COUNT(*) AS n, SUM(v) AS s FROM t"),
        )

    for _ in range(2):
        old = routes()
    assert old[2] == (5, 2.0, 1.0) and old[3] == [{"n": 5, "s": 10}]
    _replace(path, _delay_table(7))
    plain = spark.read.option("header", True).csv(path) if name.endswith(".csv") else (
        spark.read.parquet(path))
    assert plain.count() == 7
    assert sorted(int(r.v) for r in lake.load("t").collect()) == list(range(7))
    new = routes()
    assert [int(r["v"]) for r in new[0]] == list(range(7))
    assert [int(r["v"]) for r in new[1]] == list(range(6, -1, -1))
    assert new[2] == (7, 2.0, 1.0) and new[3] == [{"n": 7, "s": 21}]
    assert routes() == new


def test_threaded_reads_during_overwrites_see_whole_versions(spark, tmp_path):
    """Readers load and aggregate while the same dataset is overwritten:
    every read that succeeds sees exactly one version (its row count
    and its constant column agree), and every version is read."""
    lake = DataLake(spark, str(tmp_path))

    def version(k: int):
        return spark.range(10 * k).select(F.col("id").alias("v"), F.lit(k).alias("k"))

    lake.save(version(1), "t")
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
                # no row (lo is None) is a read of a half-removed version
                if not (r.lo is not None and r.lo == r.hi and r.n == 10 * r.lo):
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


# -- answers (DataLake.answer) -------------------------------------------

ROWS = 6000
SQL = (
    "SELECT station_id, COUNT(*) AS n, SUM(arrival_delay) AS total"
    " FROM trains GROUP BY station_id ORDER BY station_id"
)


def _trains(spark, rows: int, seed: int):
    return spark.range(rows).select(
        F.concat(F.lit("T"), F.col("id").cast("string")).alias("train_id"),
        (F.rand(seed) * 30).alias("departure_delay"),
        (F.rand(seed + 1) * 40).alias("arrival_delay"),
        (F.rand(seed + 2) * 800).alias("distance_km"),
        (F.col("id") % 7).alias("station_id"),
    )


def _answers(lake: DataLake, ds: str = "trains", limit: int = 20) -> dict:
    """One answer of each route over ``ds``: preview, delays, regression
    and a /sql group-by over ``trains``."""
    reg = api.run_regression(lake, ds, "distance_km", "arrival_delay")
    return {
        "preview": api.get_data_preview_flagged(lake, ds, limit=limit),
        "delays": api.get_sorted_delays_flagged(lake, ds, descending=True, limit=limit),
        "regression": (reg.n, round(reg.slope, 9), round(reg.intercept, 9)),
        "sql": api.run_sql(lake, SQL),
    }


def _pool(lake: DataLake) -> dict:
    """The lake's answers: key → id of the answer object."""
    with lake._answers_lock:
        return {k: id(a) for k, a in lake._answers.items()}


def _reads(lake: DataLake, data_id: str) -> list:
    return [k for k in _pool(lake) if any(i == data_id for i, _ in k[1])]


def _serve_lake(spark, base_dir) -> DataLake:
    """A lake like the served one: ``trains`` (parquet, 3 files),
    ``trains_csv`` (one CSV file) and ``ingest``, which no route reads."""
    lake = DataLake(spark, str(base_dir))
    lake.save(_trains(spark, ROWS, 1).repartition(3), "trains")
    lake.save(_trains(spark, ROWS // 2, 2).coalesce(1), "trains_csv", fmt="csv")
    lake.save(spark.range(50).toDF("v"), "ingest")
    return lake


@pytest.fixture()
def serve_lake(spark, tmp_path):
    return _serve_lake(spark, tmp_path)


def test_rewrite_is_seen_by_the_next_request(spark, serve_lake):
    lake = serve_lake
    for _ in range(3):
        before = _answers(lake)
    assert before["regression"][0] == ROWS
    assert _reads(lake, "trains")
    lake.save(_trains(spark, ROWS + 300, 5).repartition(3), "trains")
    assert _reads(lake, "trains") == []  # the rewrite dropped trains' answers
    after = _answers(lake)
    assert after["regression"][0] == ROWS + 300
    assert sum(r["n"] for r in after["sql"]) == ROWS + 300
    assert after["preview"] != before["preview"]
    assert after["delays"] != before["delays"]
    assert after == _answers(lake)  # and the new answers are reused
    fresh = DataLake(spark, lake.base_dir)
    assert _answers(fresh) == after


def test_write_to_another_dataset_keeps_the_plans(spark, serve_lake):
    """A write to ``ingest`` keeps every answer over ``trains``."""
    lake = serve_lake
    for _ in range(3):
        want = _answers(lake)
    pool = _pool(lake)
    assert len(pool) == 4
    lake.save(spark.range(70).toDF("v"), "ingest")
    assert _pool(lake) == pool
    got, jobs = _jobs(spark, lambda: _answers(lake), "keep")
    assert jobs == []  # every route is a hit
    assert got == want
    assert _pool(lake) == pool


def test_serving_caches_nothing(spark, serve_lake):
    """Every route over both served datasets, a rewrite and every route
    again leave Spark's CacheManager and the session's persistent RDDs
    as they were: the lake keeps answers, never data."""

    def cache():
        entries = spark._jsparkSession.sharedState().cacheManager().cachedData().size()
        return entries, set(spark.sparkContext._jsc.getPersistentRDDs().keySet())

    lake = serve_lake
    before = cache()
    for _ in range(2):
        for ds in ("trains", "trains_csv"):
            _answers(lake, ds)
    lake.save(_trains(spark, ROWS + 300, 5).repartition(3), "trains")
    for ds, rows in (("trains", ROWS + 300), ("trains_csv", ROWS // 2)):
        assert _answers(lake, ds)["regression"][0] == rows
    assert cache() == before


def test_dropped_lake_drops_its_plans(spark, tmp_path):
    lake = _serve_lake(spark, tmp_path)
    for _ in range(3):
        _answers(lake)
    # preview, delays and /sql; regression keeps a tuple
    refs = [weakref.ref(a) for a in lake._answers.values() if isinstance(a, JsonAnswer)]
    assert len(refs) == 3
    del lake
    gc.collect()
    assert all(r() is None for r in refs)


def test_pool_never_exceeds_its_bound(spark, serve_lake):
    lake = serve_lake
    slots = DataLake.PLAN_SLOTS
    for limit in range(1, slots + 9):
        rows, _ = api.get_data_preview_flagged(lake, "trains", limit=limit)
        assert len(rows) == limit
        assert len(_pool(lake)) <= slots
    limits = sorted(k[0][1] for k in _pool(lake))
    assert limits == list(range(9, slots + 9))  # the least recently used went first


def test_partitioned_dataset_is_not_cached(spark, tmp_path):
    """A partitioned dataset's answers are not kept, since its file
    version misses a file added two or more levels down: every request
    computes its answer from the files, so a file added under a
    partition is read by the next request. Its scan still prunes
    partitions."""
    lake = DataLake(spark, str(tmp_path))
    df = spark.range(40).select((F.col("id") % 4).alias("k"), F.col("id").alias("v"))
    path = lake.save(df, "p", partition_by=["k"])
    for i in range(2):
        rows, jobs = _jobs(spark, lambda: api.get_data_preview(lake, "p"), f"partitioned_{i}")
        assert len(rows) == 40 and jobs
    assert _pool(lake) == {}
    pq.write_table(pa.table({"v": [100, 101]}), os.path.join(path, "k=1", "part-by-hand.parquet"))
    assert len(api.get_data_preview(lake, "p")) == 42
    filtered = lake.load("p").where(F.col("k") == 1)
    plan = filtered._sc._jvm.PythonSQLUtils.explainString(
        filtered._jdf.queryExecution(), "formatted"
    )
    assert "k" in plan.split("PartitionFilters:")[1].split("\n")[0]
    assert filtered.count() == 12


# 30 select-list items ahead of the time call: more than Spark prints of
# a list in a plan's string (spark.sql.debug.maxToStringFields, 25)
_WIDE = ", ".join(f"{i} AS c{i}" for i in range(30))


@pytest.mark.parametrize("expr", [
    "rand()", "uuid()", "current_timestamp()",
    pytest.param(f"{_WIDE}, current_timestamp()", id="30-columns-then-current_timestamp()"),
    pytest.param("(SELECT MAX(now()) FROM ingest)", id="now()-in-a-subquery"),
])
def test_sql_that_fixes_a_seed_or_the_time_is_planned_per_request(serve_lake, expr):
    lake = serve_lake
    query = f"SELECT {expr} AS v, COUNT(*) AS n FROM trains"
    values = set()
    for _ in range(3):
        (row,) = api.run_sql(lake, query)
        assert row["n"] == ROWS
        values.add(row["v"])
        time.sleep(0.01)
    assert len(values) == 3
    assert [k for k in _pool(lake) if k[0][0] == "sql"] == []


def test_star_over_a_wide_dataset_with_the_time_is_planned_per_request(spark, tmp_path):
    lake = DataLake(spark, str(tmp_path))
    lake.save(spark.range(3).select(*[F.col("id").alias(f"c{i}") for i in range(30)]), "wide")
    values = set()
    for _ in range(3):
        rows = api.run_sql(lake, "SELECT *, now() AS t FROM wide")
        assert len(rows) == 3 and len(rows[0]) == 31
        values.add(rows[0]["t"])
        time.sleep(0.01)
    assert len(values) == 3
    assert _pool(lake) == {}


def test_sql_plans_with_large_shuffle_output_are_not_kept(spark, serve_lake):
    """No plan outlives its request, so neither does its shuffle output:
    the pool keeps a group-by's answer strings, and once the request's
    objects are collected Spark's ContextCleaner unregisters every
    shuffle the request made."""
    lake = serve_lake
    by_train = "SELECT train_id, COUNT(*) AS n FROM trains GROUP BY train_id"
    tracker = spark.sparkContext._jsc.sc().env().mapOutputTracker()

    def shuffles() -> set:
        ids = tracker.shuffleStatuses().keySet().iterator()
        out = set()
        while ids.hasNext():
            out.add(ids.next())
        return out

    def new_shuffles() -> set:
        return {i for i in shuffles() if i > before}

    before = max(shuffles(), default=-1)
    want = api.run_sql(lake, by_train)
    assert len(want) == ROWS
    assert new_shuffles()  # the group-by shuffled
    assert api.run_sql(lake, by_train) == want
    (answer,) = [a for k, a in lake._answers.items() if k[0][1] == by_train]
    assert isinstance(answer, JsonAnswer) and len(answer.lines) == ROWS
    deadline = time.monotonic() + 60
    while new_shuffles() and time.monotonic() < deadline:
        gc.collect()
        spark._jvm.System.gc()
        time.sleep(0.2)
    assert new_shuffles() == set()


def test_sql_reads_the_lake_after_a_view_of_its_name_is_replaced(spark, serve_lake):
    """/sql reads the lake's frames whatever views the session holds,
    and leaves the session's views as they were."""
    lake = serve_lake
    query = "SELECT COUNT(*) AS n FROM trains WHERE station_id >= {}"
    assert api.run_sql(lake, query.format(0)) == [{"n": ROWS}]
    spark.range(5).toDF("station_id").createOrReplaceTempView("trains")
    try:
        (row,) = api.run_sql(lake, query.format(1))  # a new plan
        assert spark.table("trains").count() == 5
    finally:
        spark.catalog.dropTempView("trains")
    assert 0 < row["n"] < ROWS and row["n"] > 5
    lake.save(spark.range(4).toDF("v"), "sql_views_untouched")
    tables = sorted(t.name for t in spark.catalog.listTables())
    assert api.run_sql(lake, "SELECT COUNT(*) AS n FROM sql_views_untouched") == [{"n": 4}]
    assert sorted(t.name for t in spark.catalog.listTables()) == tables


@pytest.mark.parametrize("query", [
    "SELECT COUNT(*) AS n FROM trains a JOIN trains b ON a.train_id = b.train_id",
    "SELECT COUNT(*) AS n FROM (SELECT train_id FROM trains UNION ALL SELECT train_id FROM trains)",
    "SELECT COUNT(*) AS n FROM trains WHERE train_id IN (SELECT train_id FROM trains)",
    "WITH x AS (SELECT * FROM trains)"
    " SELECT COUNT(*) AS n FROM x a JOIN x b ON a.train_id = b.train_id",
], ids=["self-join", "union", "in-subquery", "cte-read-twice"])
def test_sql_reads_an_in_memory_dataset_twice(serve_lake, query):
    """A query that reads one dataset in two places answers right:
    Spark's optimizer copies the CTE that binds the dataset's scan into
    each place. The lake holds no in-memory copy, so each place reads
    the files."""
    lake = serve_lake
    rows = [api.run_sql(lake, query) for _ in range(2)]
    n = 2 * ROWS if "UNION" in query else ROWS
    assert rows == [[{"n": n}]] * 2


def test_sql_rejects_dataset_ids_that_differ_only_in_case(spark, tmp_path):
    """SQL names are case-insensitive: a query over a lake holding ``T``
    and ``t`` cannot tell which it names, so it answers 400; a lake
    holding only ``t`` answers either spelling."""
    lake = DataLake(spark, str(tmp_path / "both"))
    lake.save(spark.range(3).toDF("v"), "T")
    lake.save(spark.range(7).toDF("v"), "t")
    for name in ("t", "T"):
        with pytest.raises(api.BadRequest, match="ambiguous table"):
            api.run_sql(lake, f"SELECT COUNT(*) AS n FROM {name}")
    lake = DataLake(spark, str(tmp_path / "one"))
    lake.save(spark.range(7).toDF("v"), "t")
    for name in ("t", "T"):
        assert api.run_sql(lake, f"SELECT COUNT(*) AS n FROM {name}") == [{"n": 7}]


def test_sql_plans_of_two_lakes_read_their_own_frames(spark, tmp_path):
    """Two lakes serve a dataset of one name on one session while their
    /sql plans are built in parallel: each answer is its own lake's."""
    lakes = []
    for k in range(2):
        lake = DataLake(spark, str(tmp_path / f"lake{k}"))
        lake.save(spark.range(10 + k).toDF("v"), "t")
        lakes.append(lake)
    bad: list[str] = []

    def client(k: int):
        for i in range(12):
            query = f"SELECT COUNT(*) + {i} - {i} AS n FROM t WHERE v >= {i % 3}"
            try:
                (row,) = api.run_sql(lakes[k], query)
            except Exception as e:  # noqa: BLE001
                bad.append(f"{type(e).__name__}: {str(e)[:300]}")
                continue
            if row["n"] != 10 + k - i % 3:
                bad.append(f"lake {k}, query {i}: {row['n']}")

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-4)
    threads = [threading.Thread(target=client, args=(k % 2,), daemon=True) for k in range(6)]
    try:
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=240)
    finally:
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in threads), "hung thread"
    assert not bad, bad


def test_plans_follow_the_session_time_zone(spark, tmp_path):
    lake = DataLake(spark, str(tmp_path))
    lake.save(spark.sql("SELECT TIMESTAMP'2024-01-02 03:04:05' AS ts"), "t")
    query = "SELECT ts, hour(ts) AS h FROM t"
    for _ in range(3):
        utc = (api.get_data_preview(lake, "t"), api.run_sql(lake, query))
    assert utc == ([{"ts": "2024-01-02T03:04:05.000Z"}],
                   [{"ts": "2024-01-02T03:04:05.000Z", "h": 3}])
    spark.conf.set("spark.sql.session.timeZone", "Asia/Kolkata")
    try:
        local = (api.get_data_preview(lake, "t"), api.run_sql(lake, query))
        assert local == ([{"ts": "2024-01-02T08:34:05.000+05:30"}],
                         [{"ts": "2024-01-02T08:34:05.000+05:30", "h": 8}])
    finally:
        spark.conf.set("spark.sql.session.timeZone", "UTC")
    assert (api.get_data_preview(lake, "t"), api.run_sql(lake, query)) == utc


def test_threads_never_share_a_plan(spark, serve_lake):
    """Seven threads loop every route over two datasets while another
    thread keeps overwriting a third: every answer equals the serial one
    and nothing raises. The threads share the kept answers and no plan:
    two threads collecting one plan at once would corrupt its
    driver-side JSON projection."""
    lake = serve_lake
    for _ in range(2):
        want = {ds: _answers(lake, ds, 2000) for ds in ("trains", "trains_csv")}
    bad: list[str] = []
    lock = threading.Lock()
    stop = threading.Event()

    def reader(k: int):
        for i in range(8):
            ds = ("trains", "trains_csv")[(k + i) % 2]
            try:
                got = _answers(lake, ds, 2000)
            except Exception as e:  # noqa: BLE001
                got = f"{type(e).__name__}: {str(e)[:300]}"
            if got != want[ds]:
                with lock:
                    bad.append(f"{ds}: {got if isinstance(got, str) else 'wrong answer'}")

    def writer():
        v = 0
        while not stop.is_set():
            v += 1
            lake.save(spark.range(10 + v).toDF("v"), "ingest")

    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-4)
    readers = [threading.Thread(target=reader, args=(k,), daemon=True) for k in range(7)]
    w = threading.Thread(target=writer, daemon=True)
    try:
        w.start()
        for t in readers:
            t.start()
        for t in readers:
            t.join(timeout=240)
    finally:
        stop.set()
        w.join(timeout=60)
        sys.setswitchinterval(interval)
    assert not any(t.is_alive() for t in readers + [w]), "hung thread"
    assert not bad, bad
    assert len(_pool(lake)) <= DataLake.PLAN_SLOTS


def _by_hand(lake: DataLake, rows: int) -> None:
    """Drop a part file of ``rows`` more trains into ``trains`` by hand."""
    part = pa.table({
        "train_id": [f"H{i}" for i in range(rows)],
        "departure_delay": [100.0 + i for i in range(rows)],  # above every other delay
        "arrival_delay": [100.0 + i for i in range(rows)],
        "distance_km": [float(i % 800) for i in range(rows)],
        "station_id": pa.array([i % 7 for i in range(rows)], pa.int64()),
    })
    pq.write_table(part, os.path.join(lake.dataset_path("trains"), "part-by-hand.parquet"))


@pytest.mark.parametrize("rewrite", ["save", "restore", "compact", "by-hand"])
def test_each_rewrite_is_answered_from_the_new_data(spark, tmp_path, rewrite):
    lake = DataLake(spark, str(tmp_path), keep_snapshots=2)
    lake.save(_trains(spark, ROWS, 1).repartition(3), "trains")
    if rewrite == "restore":
        lake.save(_trains(spark, ROWS + 300, 5).repartition(3), "trains")
    for _ in range(2):
        before = _answers(lake)
    n = {"save": ROWS + 300, "restore": ROWS, "compact": ROWS, "by-hand": ROWS + 300}[rewrite]
    if rewrite == "save":
        lake.save(_trains(spark, ROWS + 300, 5).repartition(3), "trains")
    elif rewrite == "restore":
        lake.restore("trains", lake.list_snapshots("trains")[-1])
    elif rewrite == "compact":
        assert lake.compact("trains", target_rows_per_file=ROWS) == 1
    else:
        _by_hand(lake, 300)
    after, jobs = _jobs(spark, lambda: _answers(lake), f"rewrite_{rewrite.replace('-', '_')}")
    assert jobs  # every route computed its answer anew
    assert after["regression"][0] == n
    assert sum(r["n"] for r in after["sql"]) == n
    if rewrite == "compact":  # the same rows in one file, summed in another order
        assert after["regression"] == pytest.approx(before["regression"])
        for r, w in zip(after["sql"], before["sql"], strict=True):
            assert r == {**w, "total": pytest.approx(w["total"])}
    else:
        assert after["delays"] != before["delays"]
    assert _answers(DataLake(spark, lake.base_dir)) == after
    again, jobs = _jobs(spark, lambda: _answers(lake), f"rewrite_{rewrite.replace('-', '_')}_2")
    assert again == after and jobs == []


def test_rows_a_caller_changes_are_not_served_again(serve_lake):
    lake = serve_lake
    for _ in range(2):
        got = _answers(lake)
    want = copy.deepcopy(got)
    for rows in (got["preview"][0], got["delays"][0], got["sql"]):
        rows[0].clear()
        rows.append({"station_id": -1})
    assert _answers(lake) == want


def test_pool_holds_no_dataframe(serve_lake):
    """The pool keeps each response's strings and the regression
    moments: no DataFrame, plan or other JVM object."""
    lake = serve_lake
    for _ in range(2):
        _answers(lake)
    answers = list(lake._answers.values())
    assert len(answers) == 4
    for a in answers:
        if isinstance(a, JsonAnswer):
            assert all(isinstance(line, str) for line in a.lines)
            assert all(isinstance(c, str) for c in a.columns)
        else:
            assert isinstance(a, tuple) and all(isinstance(v, (int, float)) for v in a)


def test_answer_computed_across_a_rewrite_is_not_kept(spark, serve_lake):
    lake = serve_lake

    def count_then_rewrite(df):
        n = df.count()
        lake.save(_trains(spark, 10, 9), "trains")
        return n, True

    assert lake.answer(("count",), ("trains",), count_then_rewrite) == ROWS
    assert _pool(lake) == {}
    assert lake.answer(("count",), ("trains",), lambda df: (df.count(), True)) == 10
    assert list(_pool(lake)) != []


def test_repeat_sql_is_neither_parsed_nor_walked(spark, serve_lake, monkeypatch):
    """A /sql query that passed the read-only check keeps its parse tree
    per text, dataset ids and parser confs; a rejected query is checked
    on every request."""
    lake = serve_lake
    walks = []
    check = api._check_read_only
    monkeypatch.setattr(api, "_check_read_only", lambda *a: walks.append(1) or check(*a))
    api._checked.cache_clear()
    assert api._checked.cache_info().maxsize == DataLake.PLAN_SLOTS
    query = 'SELECT "station_id" AS s FROM trains ORDER BY station_id LIMIT 1'
    for _ in range(3):
        assert api.run_sql(lake, query) == [{"s": "station_id"}]
    assert len(walks) == 1
    for _ in range(2):
        with pytest.raises(api.BadRequest, match="unknown table"):
            api.run_sql(lake, "SELECT * FROM text.`/etc/passwd`")
    assert len(walks) == 3
    # a conf the parser reads: double quotes now name a column
    spark.conf.set("spark.sql.ansi.doubleQuotedIdentifiers", "true")
    try:
        assert api.run_sql(lake, query) == [{"s": 0}]
    finally:
        spark.conf.unset("spark.sql.ansi.doubleQuotedIdentifiers")
    assert len(walks) == 4
    assert api.run_sql(lake, query) == [{"s": "station_id"}]
    assert len(walks) == 4
    # a new dataset id is a new key: the query is checked again
    lake.save(spark.range(3).toDF("v"), "extra")
    assert api.run_sql(lake, query) == [{"s": "station_id"}]
    assert len(walks) == 5
    # ${name} reads a session conf at the parse: checked and computed anew
    conf = "spark.polars_express_spark.test.var"
    for value in ("a", "b"):
        spark.conf.set(conf, value)
        assert api.run_sql(lake, f"SELECT '${{{conf}}}' AS v") == [{"v": value}]
    spark.conf.unset(conf)
    assert len(walks) == 7
