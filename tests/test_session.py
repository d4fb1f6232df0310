"""The session's two partition counts: batch shuffles start from the
core count (AQE's initial partition number), stateful streams take a
smaller state-store count from ``state_partitions``."""

from __future__ import annotations

import os
import re
import shutil
import tempfile

from pyspark.sql import functions as F

from pulsar_elasticsearch_sync_rs_spark.session import batch_partitions, state_partitions


def test_state_partitions_half_the_cores_capped():
    got = [state_partitions(c) for c in (1, 2, 4, 8, 16, 64)]
    assert got == [1, 1, 2, 4, 8, 8]


def test_batch_shuffles_keep_cpus_state_stores_take_half(spark, sf_dir):
    """On the cpus=8 test session a batch groupBy starts its shuffle at
    8 partitions while a streaming aggregation commits 4 state stores."""
    from pulsar_elasticsearch_sync_rs_spark.streaming.counters import windowed_counters

    assert batch_partitions(spark) == 8
    plan = (
        spark.range(100).withColumn("k", F.col("id") % 7).groupBy("k").count()
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "AdaptiveSparkPlan" in plan
    assert re.search(r"hashpartitioning\(k#\d+L?, 8\)", plan), plan

    tmp = tempfile.mkdtemp(prefix="state_parts_")
    try:
        src = os.path.join(tmp, "src")
        (
            spark.createDataFrame(
                [(i, f"t{i % 3}", i % 5 == 0) for i in range(40)],
                "event_id long, topic_short string, is_debug boolean",
            )
            .withColumn("publish_time", F.timestamp_seconds(F.col("event_id") * 10))
            .coalesce(1)
            .write.parquet(src)
        )
        stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
        q = (
            windowed_counters(stream)
            .writeStream.outputMode("append")
            .option("checkpointLocation", os.path.join(tmp, "ckpt"))
            .trigger(availableNow=True)
            .format("noop")
            .start()
        )
        assert q.awaitTermination(120)
        parts = {
            o["numShufflePartitions"]
            for p in q.recentProgress
            for o in p["stateOperators"]
        }
        assert parts == {4}, parts
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


def test_driver_heap_fits_the_host(spark):
    """The default driver heap is sized from the host: a heap larger
    than physical memory lets the JVM grow until the host kills it."""
    host_bytes = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    heap_bytes = spark.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory()
    assert 0 < heap_bytes <= host_bytes, (heap_bytes, host_bytes)
