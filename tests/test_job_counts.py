"""Spark job-count caps for the queries of the `curation` benchmark
workload (perfbench/workloads.py CURATION), each run warm through the
noop sink as the workload runs it. A new barrier, a presentation sort or
a persist-then-sort in one of these queries shows up here as extra jobs
instead of in the next benchmark run."""

from __future__ import annotations

import pytest
from test_schema_cache import _jobs

from polars_express_spark.queries.registry import all_queries
from tests.conftest import SF_DIR

# warm jobs per invocation at sf0.001
JOB_CAPS = {
    "q_outlier_mad": 7,
    "q_bloom_prune": 8,
    "q_weighted_median": 9,
    "q_percentile_approx": 7,
    "q_asof_nearest": 2,
    # codec queries: the doc_id shuffle map stage, then the fused
    # Python pass that writes the result
    "q_zstd_extract": 2,
    "q_lz4_extract": 2,
    "q_kafka_extract": 2,
    "q_kafka_legacy": 2,
    "q_seqfile_extract": 2,
    "q_jsonl_zst": 2,
    "q_tar_extract": 2,
    "q_avro_extract": 2,
    # a memo hit: one scan of the materialized top-k
    "q35_cosine_topk": 1,
}


@pytest.mark.parametrize("name", list(JOB_CAPS))
def test_curation_query_job_count(spark, name):
    fn = all_queries()[name]

    def run():
        fn(spark, SF_DIR).write.format("noop").mode("overwrite").save()

    run()  # warm: schema inference and memoized frames build here
    _, jobs = _jobs(spark, run, f"job_count_{name}")
    assert len(jobs) <= JOB_CAPS[name], (name, len(jobs))
