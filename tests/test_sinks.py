"""The JSON sink (sinks.to_json_rows_flagged): the exact row shape a
client receives, and the Spark jobs one response costs on each route,
first and repeated. A first request computes the route's answer in the
counts below, which are caps: a new driver barrier on a route fails
here. A repeat request over an unchanged dataset is answered from the
lake's answer pool (DataLake.answer) and runs no job at all."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F
from test_schema_cache import _jobs

from polars_express_spark import api, sinks
from polars_express_spark.catalog import DataLake


def _rows(spark, sql):
    return sinks.to_json_rows_flagged(sinks.json_answer(spark.sql(sql)))[0]


def test_top_level_null_explicit_nested_null_omitted(spark):
    assert _rows(
        spark,
        "SELECT CAST(NULL AS INT) AS n, named_struct('x', CAST(NULL AS INT), 'y', 1) AS s",
    ) == [{"n": None, "s": {"y": 1}}]


def test_temporal_and_decimal_values(spark):
    # the test session runs in UTC (session.get_spark)
    assert _rows(
        spark,
        "SELECT DATE'2024-02-29' AS d,"
        " TIMESTAMP'2024-01-02 03:04:05.123456' AS ts,"
        " TIMESTAMP_NTZ'2024-01-02 03:04:05' AS ntz,"
        " CAST(12.345 AS DECIMAL(10,3)) AS dec",
    ) == [
        {
            "d": "2024-02-29",
            "ts": "2024-01-02T03:04:05.123Z",
            "ntz": "2024-01-02T03:04:05.000",
            "dec": 12.345,
        }
    ]


def test_array_map_binary_and_nan(spark):
    assert _rows(
        spark,
        "SELECT array(1, NULL, 3) AS arr, map('k', 1, 'z', CAST(NULL AS INT)) AS m,"
        " X'CAFE' AS b, CAST('NaN' AS DOUBLE) AS nan",
    ) == [{"arr": [1, None, 3], "m": {"k": 1, "z": None}, "b": "yv4=", "nan": "NaN"}]


def test_duplicate_dotted_and_spaced_column_names(spark):
    assert _rows(spark, "SELECT 1 AS a, 1 AS a") == [{"a": 1}]
    assert _rows(spark, "SELECT 1 AS `a.b`, 2 AS `c d`") == [{"a.b": 1, "c d": 2}]


def test_interval_renders_in_its_declared_fields(spark):
    assert _rows(spark, "SELECT INTERVAL '1' DAY AS i, INTERVAL '2' YEAR AS y") == [
        {"i": "INTERVAL '1' DAY", "y": "INTERVAL '2' YEAR"}
    ]


@pytest.fixture(scope="module")
def parts_lake(spark, tmp_path_factory):
    """A parquet dataset of 1000 rows in 4 part files, each holding more
    rows than one response reads, with its schema already inferred."""
    lake = DataLake(spark, str(tmp_path_factory.mktemp("sink_jobs")))
    df = spark.range(1000).select(
        F.col("id").alias("train_id"), (F.col("id") * 7 % 13).alias("departure_delay")
    )
    path = lake.save(df.repartition(4), "trains")
    assert len([f for f in os.listdir(path) if f.endswith(".parquet")]) >= 4
    lake.load("trains")  # the schema inference job, outside the counted calls
    return lake


def _stages(spark, job_ids):
    tracker = spark.sparkContext.statusTracker()
    return [s for j in job_ids for s in tracker.getJobInfo(j).stageIds]


def test_preview_runs_one_job_and_one_stage(spark, parts_lake):
    (rows, truncated), jobs = _jobs(
        spark, lambda: api.get_data_preview_flagged(parts_lake, "trains"), "sink_preview"
    )
    assert len(rows) == 100 and truncated is False
    assert len(jobs) == 1
    assert len(_stages(spark, jobs)) == 1


def test_delays_with_limit_runs_one_job_and_one_stage(spark, parts_lake):
    (rows, truncated), jobs = _jobs(
        spark,
        lambda: api.get_sorted_delays_flagged(parts_lake, "trains", limit=100),
        "sink_delays",
    )
    assert len(rows) == 100 and truncated is False
    assert [r["departure_delay"] for r in rows] == sorted(r["departure_delay"] for r in rows)
    assert len(jobs) == 1
    assert len(_stages(spark, jobs)) == 1  # top-k merged on the driver, no shuffle


def _warm(spark, parts_lake, fn):
    """Run ``fn`` twice, so the lake holds its answer."""
    for _ in range(2):
        fn()


ROUTES = {
    "preview": lambda lake: api.get_data_preview_flagged(lake, "trains"),
    "delays": lambda lake: api.get_sorted_delays_flagged(lake, "trains", limit=100),
}


@pytest.mark.parametrize("route", sorted(ROUTES))
def test_repeat_preview_and_delays_run_no_job(spark, parts_lake, route):
    def run():
        return ROUTES[route](parts_lake)

    _warm(spark, parts_lake, run)
    (rows, truncated), jobs = _jobs(spark, run, f"sink_repeat_{route}")
    assert len(rows) == 100 and truncated is False
    assert jobs == []


def test_repeat_regression_runs_no_job(spark, parts_lake):
    """A repeat regression on an unchanged version reads the moments its
    first request computed."""

    def run():
        return api.run_regression(parts_lake, "trains", "train_id", "departure_delay")

    _warm(spark, parts_lake, run)
    result, jobs = _jobs(spark, run, "sink_regression_repeat")
    assert result.n == 1000
    assert jobs == []


def test_repeat_sql_group_by_runs_no_job(spark, parts_lake):
    query = (
        "SELECT departure_delay AS d, COUNT(*) AS n FROM trains"
        " GROUP BY departure_delay ORDER BY d"
    )

    def run():
        return api.run_sql(parts_lake, query)

    _warm(spark, parts_lake, run)
    rows, jobs = _jobs(spark, run, "sink_sql_repeat")
    assert [r["d"] for r in rows] == list(range(13))
    assert sum(r["n"] for r in rows) == 1000
    assert jobs == []


def test_truncation_probe_runs_one_job(spark):
    big = spark.range(0, 1000, 1, 4)
    (rows, truncated), jobs = _jobs(
        spark, lambda: sinks.to_json_rows_flagged(sinks.json_answer(big, None, 100)), "sink_probe"
    )
    assert len(rows) == 100 and truncated is True
    assert len(jobs) == 1
