"""The per-process parquet schema cache (sources/batch.parquet_schema):
a repeat read of a path through any of its readers submits NO Spark
job before an action — only the first read of a path in an
application pays the schema-inference job."""

from __future__ import annotations

import pytest

from pulsar_elasticsearch_sync_rs_spark.operators.cdc import _read_base
from pulsar_elasticsearch_sync_rs_spark.sources.batch import parquet_schema, read_table
from pulsar_elasticsearch_sync_rs_spark.streaming.curation import _read_history


def _jobs_submitted(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, "schema-cache witness")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job-start events reach the status store through the async
    # listener bus: drain it so a submitted job cannot be missed
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return len(sc.statusTracker().getJobIdsForGroup(group))


@pytest.mark.parametrize("site", ["read_table", "cdc_base", "cdc_key_probe", "curation_history"])
def test_repeat_read_submits_no_job(spark, tmp_path, site):
    path = str(tmp_path / "t.parquet")
    spark.createDataFrame([(1, "a"), (2, "b")], "k bigint, v string").write.parquet(path)
    read = {
        "read_table": lambda: read_table(spark, str(tmp_path), "t"),
        "cdc_base": lambda: _read_base(spark, path),
        "cdc_key_probe": lambda: parquet_schema(spark, path)["k"].dataType,
        "curation_history": lambda: _read_history(spark, path),
    }[site]
    # the witness is live: the cold read does run the inference job
    assert _jobs_submitted(spark, f"schema-cold-{site}", read) >= 1
    assert _jobs_submitted(spark, f"schema-warm-{site}", read) == 0
    if site != "cdc_key_probe":
        assert sorted(map(tuple, read().collect())) == [(1, "a"), (2, "b")]
