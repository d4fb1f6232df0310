"""Streaming-lane tests: availableNow end-to-end run of the full chain
into the partitioned bulk sink, observed metrics, and the stateful
rate limiter carrying state across micro-batches."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from pulsar_elasticsearch_sync_rs_spark.config import PipelineConfig, RewriteRule
from pulsar_elasticsearch_sync_rs_spark.streaming.metrics import (
    MetricsRegistry,
    ObservedMetricsListener,
)
from pulsar_elasticsearch_sync_rs_spark.streaming.rate_limit_state import rate_limit_stream
from pulsar_elasticsearch_sync_rs_spark.streaming.runner import (
    read_events_stream,
    run_pipeline_stream,
)
from pulsar_elasticsearch_sync_rs_spark.streaming.sink import ParquetBulkTransport


@pytest.fixture()
def tmpdir():
    d = tempfile.mkdtemp(prefix="stream_test_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


def test_stream_end_to_end(spark, sf_dir, tmpdir):
    """events parquet → streaming chain → parquet bulk sink partitioned
    by index; counts match the batch chain; metrics observed."""
    src_dir = os.path.join(tmpdir, "src")
    os.makedirs(src_dir)
    shutil.copy(f"{sf_dir}/events.parquet", src_dir)

    registry = MetricsRegistry()
    listener = ObservedMetricsListener(registry)
    spark.streams.addListener(listener)
    try:
        cfg = PipelineConfig(
            rewrite_rules=(RewriteRule("click", "web"), RewriteRule("view", "web")),
            debug_log_patterns=(r'"k":\s*9\d\b',),
        )
        out_dir = os.path.join(tmpdir, "out")
        ckpt = os.path.join(tmpdir, "ckpt")
        source = read_events_stream(spark, src_dir)
        q = run_pipeline_stream(
            spark, cfg, source, ParquetBulkTransport(out_dir), ckpt,
            available_now=True, registry=registry,
        )
        q.awaitTermination(120)

        written = spark.read.parquet(out_dir)
        assert written.count() == 1000  # all records parse; no filters drop
        # dynamic index routing became physical partitioning
        idx_vals = [r["index"] for r in written.select("index").distinct().collect()]
        assert any(i.startswith("web-") for i in idx_vals)
        assert os.path.isdir(out_dir) and any(
            p.startswith("index=web-") for p in os.listdir(out_dir)
        )
        # restart with the same checkpoint: availableNow re-run is a no-op
        q2 = run_pipeline_stream(
            spark, cfg, read_events_stream(spark, src_dir),
            ParquetBulkTransport(out_dir), ckpt, available_now=True,
        )
        q2.awaitTermination(60)
        assert spark.read.parquet(out_dir).count() == 1000  # exactly-once replay

        spark.streams.resetTerminated()
        assert registry.get("pulsar_received_messages") >= 1000

        # G3 parity: per-topic and per-(topic, date) labeled counters
        # (reference src/prometheus.rs:7-126). Topics sum to the total;
        # every topic counter has date-labeled shards summing to it.
        written_counts = {
            r["topic_short"]: r["n"]
            for r in written.groupBy("topic_short").agg(F.count("*").alias("n")).collect()
        }
        assert written_counts, "no topics written"
        for topic, n in written_counts.items():
            assert registry.get("pulsar_received_messages", topic=topic) == n
        dates = [r["date_str"] for r in written.select("date_str").distinct().collect()]
        topic0 = next(iter(written_counts))
        by_date = sum(
            registry.get("pulsar_received_messages_by_date", topic=topic0, date=d)
            for d in dates
        )
        assert by_date == written_counts[topic0]
        # field-count gauge labeled per (index, app) (src/es.rs:353-355)
        one = written.select("index", "app").first()
        assert registry.get(
            "es_index_doc_fields", index=one["index"], app=one["app"]
        ) > 0
        # /metrics exposition carries labels + default process metrics
        text = registry.render_prometheus()
        assert f'pulsar_received_messages{{topic="{topic0}"}}' in text
        assert "process_cpu_seconds_total" in text
    finally:
        spark.streams.removeListener(listener)


def test_debug_topic_echo_reads_the_pre_limit_batch(spark, tmpdir, caplog):
    """K2 echoes every debug-topic record the batch consumed, before the
    rate limiter (reference src/pulsar.rs:256-259 echoes at consume
    time; its limiter is sink-side, src/es.rs:359-373): three
    same-second records of one app capped at 1/s are all logged while
    the sink receives one."""
    import json
    import logging

    from pyspark.sql import Row

    src_dir = os.path.join(tmpdir, "src")
    ts0 = 1_704_067_200 * 10**9  # 2024-01-01T00:00:00Z in ns
    rows = [
        Row(event_id=i, ts=ts0 + i * 1000, user_id=i, event_type="t", value=1.0,
            props=json.dumps({"app": "a1", "k": i}))
        for i in range(3)
    ]
    spark.createDataFrame(rows).coalesce(1).write.parquet(src_dir)
    out_dir = os.path.join(tmpdir, "out")
    cfg = PipelineConfig(debug_topics=("t",), rate_limits={"a1": 1})
    with caplog.at_level(logging.INFO, logger="pulsar_es_sync_spark"):
        q = run_pipeline_stream(
            spark, cfg, read_events_stream(spark, src_dir),
            ParquetBulkTransport(out_dir), os.path.join(tmpdir, "ckpt"),
            available_now=True,
        )
        q.awaitTermination(120)
    echoed = [
        r for r in caplog.records
        if r.name == "pulsar_es_sync_spark" and r.getMessage().startswith("debug topic t:")
    ]
    assert len(echoed) == 3
    assert spark.read.parquet(out_dir).count() == 1


@pytest.mark.parametrize("rate_limits, max_jobs", [({"a1": 100}, 3), ({}, 2)])
def test_micro_batch_reads_the_batch_once_for_accounting(spark, tmpdir, rate_limits, max_jobs):
    """Labeled counters and the K2 echo share one collect per micro-batch:
    with a registry and a debug topic, a batch runs that collect plus the
    sink's jobs (one parquet write; the limiter's window adds a shuffle
    stage), not a separate aggregation and echo query."""
    import json

    from pyspark.sql import Row

    src_dir = os.path.join(tmpdir, "src")
    ts0 = 1_704_067_200 * 10**9  # 2024-01-01T00:00:00Z in ns
    for f in range(4):  # one file per micro-batch
        rows = [
            Row(event_id=f * 10 + i, ts=ts0 + (f * 10 + i) * 10**9, user_id=i, event_type="t",
                value=1.0, props=json.dumps({"app": "a1", "k": i}))
            for i in range(5)
        ]
        spark.createDataFrame(rows).coalesce(1).write.mode("append").parquet(src_dir)
    cfg = PipelineConfig(debug_topics=("t",), rate_limits=rate_limits)
    registry = MetricsRegistry()
    q = run_pipeline_stream(
        spark, cfg, read_events_stream(spark, src_dir, max_files_per_trigger=1),
        ParquetBulkTransport(os.path.join(tmpdir, "out")), os.path.join(tmpdir, "ckpt"),
        available_now=True, registry=registry,
    )
    q.awaitTermination(120)
    batches = [p for p in q.recentProgress if p.numInputRows > 0]
    assert len(batches) == 4
    assert registry.get("pulsar_received_messages", topic="t") == 20
    jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(str(q.runId))
    assert len(jobs) / len(batches) <= max_jobs, (len(jobs), len(batches))


def test_labeled_counts_match_a_spark_groupby(spark):
    """``labeled_counts`` over collected rows equals a Spark groupBy
    written here: per-topic and per-(topic, date) consumed/debug
    counters, and the per-(index, app) mean-field gauge after the top-N
    ``__OTHER__`` fold (ties broken by name). The fixture spans two
    topics and two dates, debug rows by level and by pattern, a missing
    app (routed to ``__DEFAULT_APP__``), and more apps and indexes than
    ``max_label_values``."""
    import json

    from pyspark.sql import Row

    from pulsar_elasticsearch_sync_rs_spark.plans.pipeline import etl_transform
    from pulsar_elasticsearch_sync_rs_spark.sources.batch import normalize_events_ts
    from pulsar_elasticsearch_sync_rs_spark.streaming.metrics import (
        LABEL_COLUMNS,
        labeled_counts,
    )

    ts0 = 1_704_067_200 * 10**9  # 2024-01-01T00:00:00Z in ns
    rows = []
    for i in range(40):
        props = {"k": 90 + i % 10 if i % 8 == 5 else i}  # k in 90..99: debug by pattern
        if i % 5 >= 2:
            props["app"] = f"a{i % 5 - 1}"  # a1, a2, a3: 8 rows each; 16 app-less rows
        if i % 6 == 1:
            props["level"] = "debug"
        props.update({f"x{j}": j for j in range(i % 4)})
        day = 1 if i % 3 == 0 else 0
        rows.append(Row(event_id=i, ts=ts0 + (day * 86_400 + i) * 10**9, user_id=i,
                        event_type="alpha" if i % 2 else "beta", value=1.0,
                        props=json.dumps(props)))
    ev = normalize_events_ts(spark.createDataFrame(rows))
    records = ev.select(
        "event_id", F.col("props").alias("value"),
        F.concat(F.lit("persistent://public/default/"), F.col("event_type")).alias("topic"),
        F.col("ts").alias("publish_time"), "user_id",
    )
    cfg = PipelineConfig(debug_log_patterns=(r'"k":\s*9\d\b',))
    df = etl_transform(records, cfg, tiebreaker="event_id").select(*LABEL_COLUMNS).cache()
    try:
        got = labeled_counts(df.collect(), max_label_values=2)

        n_debug = F.sum(F.col("is_debug").cast("int")).alias("nd")
        want = {}
        for r in df.groupBy("topic_short").agg(F.count("*").alias("n"), n_debug).collect():
            labels = (("topic", r["topic_short"]),)
            want[("pulsar_received_messages", labels)] = r["n"]
            want[("pulsar_received_debug_messages", labels)] = r["nd"]
        for r in df.groupBy("topic_short", "date_str").agg(
            F.count("*").alias("n"), n_debug
        ).collect():
            labels = (("date", r["date_str"]), ("topic", r["topic_short"]))
            want[("pulsar_received_messages_by_date", labels)] = r["n"]
            want[("pulsar_received_debug_messages_by_date", labels)] = r["nd"]

        def folded(col):
            top = [
                r[col]
                for r in df.groupBy(col).count()
                .orderBy(F.desc("count"), F.asc(col)).limit(2).collect()
            ]
            return F.when(F.col(col).isin(top), F.col(col)).otherwise(F.lit("__OTHER__"))

        want_gauges = {
            (r["i"], r["a"]): r["g"]
            for r in df.groupBy(folded("index").alias("i"), folded("app").alias("a"))
            .agg(F.avg("n_fields").alias("g")).collect()
        }
        n_debug_rows = df.filter(F.col("is_debug")).count()
    finally:
        df.unpersist()

    assert {(n, tuple(sorted(lb.items()))): v for n, v, lb in got.counters} == want
    assert len({lb["topic"] for _, _, lb in got.counters}) == 2
    assert len({lb["date"] for _, _, lb in got.counters if "date" in lb}) == 2
    assert n_debug_rows == 10  # 7 by level, 5 by pattern, 2 of them both
    gauges = {(lb["index"], lb["app"]): v for _, v, lb in got.gauges}
    assert gauges.keys() == want_gauges.keys()
    for key, v in gauges.items():
        assert abs(v - want_gauges[key]) <= 1e-9, key
    apps = {a for _, a in gauges}
    assert {"__DEFAULT_APP__", "__OTHER__"} <= apps
    assert "__OTHER__" in {i for i, _ in gauges}


def test_prometheus_label_values_are_escaped():
    """A label value carrying a quote, a newline or a backslash renders
    escaped (text format 0.0.4): each series stays on one line, and a
    log payload's ``app`` cannot forge a series."""
    registry = MetricsRegistry()
    forged = 'x"} 1\nes_write_success{index="fake"} 999\n#\\'
    registry.set_gauge("es_index_doc_fields", 12.0, index="i", app=forged)
    registry.inc("pulsar_received_messages", 3, topic="t")
    lines = registry.render_prometheus(include_process=False).splitlines()
    assert len(lines) == 2
    assert not any(line.startswith("es_write_success") for line in lines)
    assert lines[1] == (
        'es_index_doc_fields{app="x\\"} 1\\nes_write_success{index=\\"fake\\"} 999'
        '\\n#\\\\",index="i"} 12.0'
    )


def test_stateful_rate_limit_across_batches(spark, tmpdir):
    """The per-(app, second) admission count persists across
    micro-batches: 2 batches × 3 records in the same second for app a
    (limit 4) admit 4 total, not 6."""
    src_dir = os.path.join(tmpdir, "src")
    os.makedirs(src_dir)
    rows1 = [(i, "a", "2024-01-01 00:00:00") for i in range(3)]
    rows2 = [(i, "a", "2024-01-01 00:00:00") for i in range(3, 6)]
    rows2.append((6, "b", "2024-01-01 00:00:00"))  # unconfigured app passes
    for i, rows in enumerate([rows1, rows2]):
        (
            spark.createDataFrame(rows, "event_id long, app string, ts_s string")
            .withColumn("ts", F.to_timestamp("ts_s"))
            .drop("ts_s")
            .coalesce(1)
            .write.mode("append" if i else "overwrite")
            .parquet(src_dir)
        )

    stream = (
        spark.readStream.schema("event_id long, app string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    out = rate_limit_stream(stream, {"a": 4})
    out_dir = os.path.join(tmpdir, "out")
    q = (
        out.writeStream.outputMode("append")
        .option("checkpointLocation", os.path.join(tmpdir, "ckpt"))
        .trigger(availableNow=True)
        .format("parquet")
        .option("path", out_dir)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out_dir)
    a_ids = sorted(r["event_id"] for r in got.filter(F.col("app") == "a").collect())
    assert len(a_ids) == 4, f"expected 4 admitted for app a, got {a_ids}"
    assert got.filter(F.col("app") == "b").count() == 1


def test_stateful_rate_limit_out_of_order_seconds(spark):
    """A LATE event (sec < stored second) must not reset the bucket:
    alternating seconds across batches cannot over-admit. Direct unit
    drive of the state function with a stub GroupState."""
    import pandas as pd

    from pulsar_elasticsearch_sync_rs_spark.streaming.rate_limit_state import (
        stateful_rate_limiter,
    )

    class StubState:
        def __init__(self):
            self._v = None

        @property
        def exists(self):
            return self._v is not None

        @property
        def get(self):
            return self._v

        def update(self, v):
            self._v = v

    fn = stateful_rate_limiter({"a": 2})
    state = StubState()

    def batch(ids_secs):
        pdf = pd.DataFrame(
            {
                "event_id": [i for i, _ in ids_secs],
                "app": ["a"] * len(ids_secs),
                "ts": [pd.Timestamp(s, unit="s", tz="UTC") for _, s in ids_secs],
            }
        )
        return pd.concat(list(fn(("a",), [pdf], state)))

    # batch 1: fill second 100 to its cap of 2
    out1 = batch([(1, 100), (2, 100), (3, 100)])
    assert sorted(out1["event_id"]) == [1, 2]
    # batch 2 replays second 100 (late events) then moves to 101. Before
    # the fix, sec != current_second reset the bucket and re-admitted 2
    # more records into the already-full second 100; now the stored
    # bucket stays exhausted, so only the second-101 event is admitted.
    out2 = batch([(5, 100), (6, 100), (4, 101)])
    assert sorted(out2["event_id"]) == [4]


def test_stream_dedup_within_watermark(spark, tmpdir):
    """Content-hash streaming dedup: duplicates within one batch AND
    across micro-batches (within the watermark horizon) collapse to
    the first arrival."""
    from pulsar_elasticsearch_sync_rs_spark.streaming.stream_dedup import (
        dedup_stream_by_content,
    )

    src_dir = os.path.join(tmpdir, "src")
    os.makedirs(src_dir)
    # batch 1: A, A (intra-batch dup), B; batch 2: A (cross-batch dup), C
    rows1 = [(1, "payload-A", "2024-01-01 00:00:00"),
             (2, "payload-A", "2024-01-01 00:00:01"),
             (3, "payload-B", "2024-01-01 00:00:02")]
    rows2 = [(4, "payload-A", "2024-01-01 00:00:03"),
             (5, "payload-C", "2024-01-01 00:00:04")]
    for i, rows in enumerate([rows1, rows2]):
        (
            spark.createDataFrame(rows, "event_id long, value string, ts_s string")
            .withColumn("publish_time", F.to_timestamp("ts_s"))
            .drop("ts_s")
            .coalesce(1)
            .write.mode("append" if i else "overwrite")
            .parquet(src_dir)
        )
    stream = (
        spark.readStream.schema("event_id long, value string, publish_time timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    out = dedup_stream_by_content(stream, text_col="value")
    out_dir = os.path.join(tmpdir, "out")
    q = (
        out.writeStream.outputMode("append")
        .option("checkpointLocation", os.path.join(tmpdir, "ckpt"))
        .trigger(availableNow=True)
        .format("parquet")
        .option("path", out_dir)
        .start()
    )
    q.awaitTermination(120)
    got = {r["value"] for r in spark.read.parquet(out_dir).collect()}
    assert got == {"payload-A", "payload-B", "payload-C"}
    n = spark.read.parquet(out_dir).count()
    assert n == 3, f"expected 3 survivors, got {n}"


def test_restart_keeps_checkpointed_state_partitions(spark, tmpdir):
    """A stateful query's state-store partition count is frozen in its
    checkpoint: restarted under a session with a different
    ``spark.sql.shuffle.partitions``, ``dedup_stream_by_content`` keeps
    the first run's count, and the stopped-and-restarted output equals
    one uninterrupted run over the same two epochs."""
    from pulsar_elasticsearch_sync_rs_spark.streaming.stream_dedup import (
        dedup_stream_by_content,
    )

    schema = "event_id long, value string, publish_time timestamp"
    epochs = [
        [(1, "payload-A", "2024-01-01 00:00:00"),
         (2, "payload-A", "2024-01-01 00:00:01"),
         (3, "payload-B", "2024-01-01 00:00:02")],
        [(4, "payload-A", "2024-01-01 00:00:03"),
         (5, "payload-C", "2024-01-01 00:00:04"),
         (6, "payload-C", "2024-01-01 00:00:05")],
    ]

    def land(src_dir, rows):
        (
            spark.createDataFrame(rows, "event_id long, value string, ts_s string")
            .withColumn("publish_time", F.to_timestamp("ts_s"))
            .drop("ts_s")
            .coalesce(1)
            .write.mode("append")
            .parquet(src_dir)
        )

    def run(src_dir, tag):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        q = (
            dedup_stream_by_content(stream)
            .writeStream.outputMode("append")
            .option("checkpointLocation", os.path.join(tmpdir, f"ckpt_{tag}"))
            .trigger(availableNow=True)
            .format("parquet")
            .option("path", os.path.join(tmpdir, f"out_{tag}"))
            .start()
        )
        assert q.awaitTermination(120)
        return {
            o["numShufflePartitions"]
            for p in q.recentProgress
            for o in p["stateOperators"]
        }

    def output(tag):
        return sorted(
            tuple(r)
            for r in spark.read.parquet(os.path.join(tmpdir, f"out_{tag}"))
            .select("event_id", "value")
            .collect()
        )

    # one uninterrupted run over both epochs
    whole = os.path.join(tmpdir, "src_whole")
    for rows in epochs:
        land(whole, rows)
    run(whole, "whole")

    # the same epochs, stopped after the first and restarted under a
    # session asking for a different state partition count
    split = os.path.join(tmpdir, "src_split")
    land(split, epochs[0])
    first = run(split, "split")
    assert len(first) == 1, first
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    other = str(next(iter(first)) + 3)
    spark.conf.set("spark.sql.shuffle.partitions", other)
    try:
        land(split, epochs[1])
        again = run(split, "split")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)
    assert again == first, (first, again, other)
    assert output("split") == output("whole")
    assert [v for _, v in output("whole")] == ["payload-A", "payload-B", "payload-C"]


def test_stream_dedup_against_corpus(spark, tmpdir):
    """Stream-static incremental dedup: records whose content sha is
    already in the corpus index are rejected; fresh content is admitted
    once (within-stream dups still collapse)."""
    from pulsar_elasticsearch_sync_rs_spark.streaming.stream_dedup import (
        dedup_stream_against_corpus,
    )

    src_dir = os.path.join(tmpdir, "src")
    os.makedirs(src_dir)
    # corpus already contains payload-A
    corpus = spark.createDataFrame([("payload-A",)], "text string").select(
        F.sha2("text", 256).alias("sha")
    )
    rows = [(1, "payload-A", "2024-01-01 00:00:00"),   # known → rejected
            (2, "payload-B", "2024-01-01 00:00:01"),   # fresh → admitted
            (3, "payload-B", "2024-01-01 00:00:02"),   # in-stream dup → dropped
            (4, "payload-C", "2024-01-01 00:00:03")]   # fresh → admitted
    (
        spark.createDataFrame(rows, "event_id long, value string, ts_s string")
        .withColumn("publish_time", F.to_timestamp("ts_s"))
        .drop("ts_s")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(src_dir)
    )
    stream = (
        spark.readStream.schema("event_id long, value string, publish_time timestamp")
        .parquet(src_dir)
    )
    out = dedup_stream_against_corpus(stream, corpus, text_col="value")
    out_dir = os.path.join(tmpdir, "out_corpus")
    q = (
        out.writeStream.outputMode("append")
        .option("checkpointLocation", os.path.join(tmpdir, "ckpt_corpus"))
        .trigger(availableNow=True)
        .format("parquet")
        .option("path", out_dir)
        .start()
    )
    q.awaitTermination(120)
    got = sorted(r["value"] for r in spark.read.parquet(out_dir).collect())
    assert got == ["payload-B", "payload-C"], got


def test_windowed_counters_stream(spark, sf_dir, tmpdir):
    """G3 event-time windowed counters with watermark, run as a real
    streaming aggregation (availableNow) and cross-checked against the
    identical batch plan."""
    import os
    import shutil

    from pulsar_elasticsearch_sync_rs_spark.functions.debug import is_debug_log
    from pulsar_elasticsearch_sync_rs_spark.streaming.counters import windowed_counters
    from pulsar_elasticsearch_sync_rs_spark.streaming.runner import read_events_stream

    src_dir = os.path.join(tmpdir, "src")
    os.makedirs(src_dir)
    shutil.copy(f"{sf_dir}/events.parquet", src_dir)

    def enrich(df):
        return df.withColumn("topic_short", F.element_at(F.split("topic", "/"), -1)).withColumn(
            "is_debug", is_debug_log("value", r'"k":\s*9\d\b')
        )

    stream = enrich(read_events_stream(spark, src_dir))
    out_dir = os.path.join(tmpdir, "counters")
    q = (
        windowed_counters(stream, window_duration="6 hours", watermark_delay="1 hour")
        .writeStream.outputMode("append")
        .option("checkpointLocation", os.path.join(tmpdir, "ckpt2"))
        .trigger(availableNow=True)
        .format("parquet")
        .option("path", out_dir)
        .start()
    )
    q.awaitTermination(120)

    got = spark.read.parquet(out_dir)
    from pulsar_elasticsearch_sync_rs_spark.sources.batch import normalize_events_ts

    batch = windowed_counters(enrich(
        normalize_events_ts(spark.read.parquet(src_dir)).selectExpr(
            "event_id", "props as value",
            "concat('persistent://public/default/', event_type) as topic",
            "ts as publish_time",
        )
    ), window_duration="6 hours")
    # append mode emits only watermark-closed windows; every emitted
    # window must match the batch plan exactly, and most windows close
    assert got.count() > 0
    joined = got.join(
        batch.withColumnRenamed("consumed", "b_consumed").withColumnRenamed(
            "consumed_debug", "b_debug"
        ),
        ["topic", "window_start", "window_end"],
    )
    assert joined.count() == got.count()
    mism = joined.filter(
        (F.col("consumed") != F.col("b_consumed"))
        | (F.col("consumed_debug") != F.col("b_debug"))
    ).count()
    assert mism == 0


def test_session_window_stream_matches_batch(spark, sf_dir, tmpdir):
    """Native session_window streaming aggregation produces the SAME
    per-user session multiset (n_events per session) as the batch
    lag-gap model at a 30-minute gap."""
    from pulsar_elasticsearch_sync_rs_spark.streaming.sessions import sessionize_stream

    from pulsar_elasticsearch_sync_rs_spark.sources.batch import read_table

    src_dir = os.path.join(tmpdir, "src")
    os.makedirs(src_dir)
    ev = read_table(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    ev.coalesce(1).write.mode("overwrite").parquet(src_dir)

    # batch model: lag-gap sessionization (the q_sessionize shape)
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    batch = (
        ev.withColumn("prev", F.lag("ts").over(w))
        .withColumn(
            "new_sess",
            (F.col("prev").isNull())
            | ((F.unix_timestamp("ts") - F.unix_timestamp("prev")) > 1800),
        )
        .withColumn("sess_id", F.sum(F.col("new_sess").cast("int")).over(w))
        .groupBy("user_id", "sess_id")
        .agg(F.count("*").alias("n_events"))
    )
    batch_multiset = sorted(
        (r["user_id"], r["n_events"]) for r in batch.collect()
    )

    # Boundary guard: the two models differ ONLY for events spaced at
    # exactly the gap (session_window's [start, end) closes the session;
    # the lag model's strict `> 1800` keeps it open — see
    # sessions.py docstring). The multiset-equality assertion below is
    # meaningful only while the fixture contains no exact-gap spacing.
    exact_gap = (
        ev.withColumn("prev", F.lag("ts").over(w))
        .filter((F.unix_timestamp("ts") - F.unix_timestamp("prev")) == 1800)
        .count()
    )
    assert exact_gap == 0, "fixture grew an exact-gap spacing; models legitimately diverge"

    stream = spark.readStream.schema("event_id long, user_id long, ts timestamp").parquet(src_dir)
    out = sessionize_stream(stream, gap="30 minutes")
    q = (
        out.writeStream.outputMode("complete")
        .format("memory")
        .queryName("sess_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = spark.sql("SELECT user_id, n_events FROM sess_stream").collect()
    got_multiset = sorted((r["user_id"], r["n_events"]) for r in got)
    assert got_multiset == batch_multiset


@pytest.mark.parametrize("limiter", ["fixed_window", "gcra"])
def test_stateful_limiters_order_the_whole_group(spark, tmpdir, limiter):
    """One app, one micro-batch, limit 2/s: four events in second 11
    are written before four in second 10. At two rows per Arrow chunk
    the group arrives as four chunks; both limiters must still admit in
    event-time order, two per second (ids 0, 1 and 10, 11). Sorting
    each chunk on its own admitted second 11 first and then charged
    second 10's rows to its spent budget."""
    from pulsar_elasticsearch_sync_rs_spark.streaming.rate_limit_state import (
        rate_limit_stream_gcra,
    )

    src_dir = os.path.join(tmpdir, "src")
    rows = [(10 + i, "a", 11) for i in range(4)] + [(i, "a", 10) for i in range(4)]
    (
        spark.createDataFrame(rows, "event_id long, app string, sec long")
        .withColumn("ts", F.timestamp_seconds("sec"))
        .drop("sec")
        .coalesce(1)
        .write.parquet(src_dir)
    )
    stream = spark.readStream.schema("event_id long, app string, ts timestamp").parquet(
        src_dir
    )
    limit = {"fixed_window": rate_limit_stream, "gcra": rate_limit_stream_gcra}[limiter]
    out_dir = os.path.join(tmpdir, "out")
    key = "spark.sql.execution.arrow.maxRecordsPerBatch"
    prev = spark.conf.get(key)
    spark.conf.set(key, "2")
    try:
        q = (
            limit(stream, {"a": 2})
            .writeStream.outputMode("append")
            .option("checkpointLocation", os.path.join(tmpdir, "ckpt"))
            .trigger(availableNow=True)
            .format("parquet")
            .option("path", out_dir)
            .start()
        )
        assert q.awaitTermination(120)
    finally:
        spark.conf.set(key, prev)
    got = sorted(r["event_id"] for r in spark.read.parquet(out_dir).collect())
    assert got == [0, 1, 10, 11]


def test_stateful_gcra_across_batches(spark, tmpdir):
    """The GCRA theoretical-arrival-time persists across micro-batches:
    with N=2/s (T=0.5, tau=0.5), batch 1 admits 0.0s and 0.1s leaving
    TAT=1.0; batch 2's 0.2s event must be DROPPED (a fresh state would
    admit it), while 0.6s and 1.0s conform."""
    from pulsar_elasticsearch_sync_rs_spark.streaming.rate_limit_state import (
        rate_limit_stream_gcra,
    )

    src_dir = os.path.join(tmpdir, "src")
    os.makedirs(src_dir)
    rows1 = [(0, "a", 0.0), (1, "a", 0.1)]
    rows2 = [(2, "a", 0.2), (3, "a", 0.6), (4, "a", 1.0), (5, "b", 0.0)]
    for i, rows in enumerate([rows1, rows2]):
        (
            spark.createDataFrame(rows, "event_id long, app string, sec double")
            .withColumn("ts", F.timestamp_seconds("sec"))
            .drop("sec")
            .coalesce(1)
            .write.mode("append" if i else "overwrite")
            .parquet(src_dir)
        )

    stream = (
        spark.readStream.schema("event_id long, app string, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    out = rate_limit_stream_gcra(stream, {"a": 2})
    out_dir = os.path.join(tmpdir, "out")
    q = (
        out.writeStream.outputMode("append")
        .option("checkpointLocation", os.path.join(tmpdir, "ckpt"))
        .trigger(availableNow=True)
        .format("parquet")
        .option("path", out_dir)
        .start()
    )
    q.awaitTermination(120)
    got = spark.read.parquet(out_dir)
    a_ids = sorted(r["event_id"] for r in got.filter(F.col("app") == "a").collect())
    assert a_ids == [0, 1, 3, 4], f"TAT not carried across batches: {a_ids}"
    assert got.filter(F.col("app") == "b").count() == 1


def test_admission_bounds_micro_batches(spark, sf_dir, tmpdir):
    """X1 backpressure as observable behavior (not just design): the
    maxFilesPerTrigger admission option bounds every micro-batch to one
    source file's rows — the Spark-native equivalent of the reference's
    bounded-channel backpressure (its channel caps in-flight records
    between consume and sink; admission caps in-flight records per
    micro-batch)."""
    src_dir = os.path.join(tmpdir, "src")
    os.makedirs(src_dir)
    ev = spark.read.parquet(f"{sf_dir}/events.parquet").limit(400)
    # 4 files of ~100 rows each
    ev.repartition(4).write.mode("overwrite").parquet(src_dir)
    per_file = max(
        spark.read.parquet(src_dir + "/" + f).count()
        for f in os.listdir(src_dir)
        if f.endswith(".parquet")
    )

    batch_sizes = []

    def record(batch_df, batch_id):
        batch_sizes.append(batch_df.count())

    stream = (
        spark.readStream.schema(spark.read.parquet(src_dir).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    q = (
        stream.writeStream.outputMode("append")
        .option("checkpointLocation", os.path.join(tmpdir, "ckpt"))
        .trigger(availableNow=True)
        .foreachBatch(record)
        .start()
    )
    q.awaitTermination(120)
    assert len(batch_sizes) == 4, f"expected 4 admitted micro-batches, got {batch_sizes}"
    assert sum(batch_sizes) == 400
    assert max(batch_sizes) <= per_file  # no batch exceeds the admission bound


def test_stream_interval_join_matches_batch(spark, sf_dir, tmpdir):
    """Stream-stream interval join (error windows × signup events,
    delivered across multiple micro-batches so matches span batch
    boundaries) produces exactly the batch bucketed_range_join pairs."""
    from pulsar_elasticsearch_sync_rs_spark.operators.range_join import bucketed_range_join
    from pulsar_elasticsearch_sync_rs_spark.sources.batch import read_table
    from pulsar_elasticsearch_sync_rs_spark.streaming.interval_join import (
        stream_interval_join,
    )

    ev = read_table(spark, sf_dir, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"), F.col("ts").alias("w_start")
    )
    signups = ev.filter(F.col("event_type") == "signup").select(
        F.col("event_id").alias("signup_id"), F.col("ts").alias("s_ts")
    )

    batch_pairs = {
        (r["error_id"], r["signup_id"])
        for r in bucketed_range_join(
            signups,
            errors.withColumn("w_end", F.col("w_start") + F.expr("INTERVAL 30 MINUTES")),
            "s_ts",
            "w_start",
            "w_end",
            bucket_width_s=1800,
        ).collect()
    }
    assert batch_pairs, "fixture lost its error/signup overlap"

    err_dir = os.path.join(tmpdir, "err")
    sig_dir = os.path.join(tmpdir, "sig")
    # two files per side -> two micro-batches per side under
    # maxFilesPerTrigger=1; cross-batch pairs exercise the join state
    errors.filter(F.col("error_id") % 2 == 0).coalesce(1).write.parquet(err_dir)
    errors.filter(F.col("error_id") % 2 == 1).coalesce(1).write.mode("append").parquet(err_dir)
    signups.filter(F.col("signup_id") % 2 == 0).coalesce(1).write.parquet(sig_dir)
    signups.filter(F.col("signup_id") % 2 == 1).coalesce(1).write.mode("append").parquet(sig_dir)

    err_stream = (
        spark.readStream.schema("error_id long, w_start timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(err_dir)
    )
    sig_stream = (
        spark.readStream.schema("signup_id long, s_ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(sig_dir)
    )
    out = stream_interval_join(sig_stream, err_stream, "s_ts", "w_start", duration_s=1800)
    q = (
        out.select("error_id", "signup_id")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("ij_stream")
        .option("checkpointLocation", os.path.join(tmpdir, "ckpt_ij"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)
    got = {
        (r["error_id"], r["signup_id"])
        for r in spark.sql("select * from ij_stream").collect()
    }
    assert got == batch_pairs
    n = spark.sql("select count(*) c from ij_stream").collect()[0]["c"]
    assert n == len(batch_pairs), f"duplicate pair emission: {n} vs {len(batch_pairs)}"


def test_stream_interval_join_left_outer(spark, tmpdir):
    """Left-outer stream interval join: unmatched points null-extend
    exactly once, emitted after the interval-side watermark passes them
    (far-future rows on both sides push the watermarks)."""
    from pulsar_elasticsearch_sync_rs_spark.streaming.interval_join import (
        stream_interval_join,
    )

    pdir = os.path.join(tmpdir, "p")
    idir = os.path.join(tmpdir, "i")

    # interval 100 opens 00:00 (30-min window); point 1 at 00:10 is
    # matched, point 2 at 01:00 is unmatched; id-99/199 rows at 10:00
    # advance both watermarks far past point 2
    def write(d, rows, mode):
        (
            spark.createDataFrame(rows, "id long, t string")
            .withColumn("ts", F.to_timestamp("t"))
            .drop("t")
            .coalesce(1)
            .write.mode(mode)
            .parquet(d)
        )

    write(pdir, [(1, "2024-01-01 00:10:00"), (2, "2024-01-01 01:00:00")], "overwrite")
    write(pdir, [(99, "2024-01-01 10:00:00")], "append")
    write(idir, [(100, "2024-01-01 00:00:00")], "overwrite")
    write(idir, [(199, "2024-01-01 10:00:00")], "append")

    ps = (
        spark.readStream.schema("id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(pdir)
        .select(F.col("id").alias("pid"), F.col("ts").alias("pts"))
    )
    ivs = (
        spark.readStream.schema("id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(idir)
        .select(F.col("id").alias("iid"), F.col("ts").alias("its"))
    )
    out = stream_interval_join(ps, ivs, "pts", "its", 1800, how="left_outer")
    q = (
        out.select("pid", "iid")
        .writeStream.outputMode("append")
        .format("memory")
        .queryName("oj_stream")
        .option("checkpointLocation", os.path.join(tmpdir, "ckpt_oj"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = sorted((r["pid"], r["iid"]) for r in spark.sql("select * from oj_stream").collect())
    assert got == [(1, 100), (2, None), (99, 199)]


def test_count_min_sketch_streams_incrementally(spark, sf_dir, tmpdir):
    """The CMS build is a plain explode+groupBy, so it runs unchanged
    as a STREAMING aggregation: sketching a corpus delivered across
    micro-batches yields exactly the batch sketch's cells."""
    from pulsar_elasticsearch_sync_rs_spark.functions.text import ws_tokens
    from pulsar_elasticsearch_sync_rs_spark.operators.sketches import count_min_sketch
    from pulsar_elasticsearch_sync_rs_spark.sources.batch import read_table

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    src_dir = os.path.join(tmpdir, "docs")
    docs.filter(F.col("doc_id") % 2 == 0).coalesce(1).write.parquet(src_dir)
    docs.filter(F.col("doc_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src_dir)

    toks_of = lambda df: df.select(
        F.explode(ws_tokens(F.lower(F.col("text")))).alias("token")
    )
    batch_cells = {
        (r["row"], r["col"]): r["cnt"]
        for r in count_min_sketch(toks_of(docs), "token", d=4, w=256).cells.collect()
    }

    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    q = (
        count_min_sketch(toks_of(stream), "token", d=4, w=256)
        .cells.writeStream.outputMode("complete")
        .format("memory")
        .queryName("cms_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    stream_cells = {
        (r["row"], r["col"]): r["cnt"]
        for r in spark.sql("select * from cms_stream").collect()
    }
    assert stream_cells == batch_cells


def test_hopping_window_stream_matches_batch(spark, sf_dir, tmpdir):
    """The hopping-window aggregation streams natively (windowed
    aggregation state): delivering events across micro-batches yields
    exactly the batch lane's (window, type) counts."""
    from pulsar_elasticsearch_sync_rs_spark.sources.batch import read_table

    ev = read_table(spark, sf_dir, "events").select("event_id", "ts", "event_type")
    src_dir = os.path.join(tmpdir, "ev")
    ev.filter(F.col("event_id") % 2 == 0).coalesce(1).write.parquet(src_dir)
    ev.filter(F.col("event_id") % 2 == 1).coalesce(1).write.mode("append").parquet(src_dir)

    def hop(df):
        return (
            df.groupBy(F.window("ts", "1 hour", "15 minutes").alias("w"), "event_type")
            .agg(F.count("*").alias("n_events"))
            .select(F.col("w.start").alias("w_start"), "event_type", "n_events")
        )

    batch = {(r["w_start"], r["event_type"]): r["n_events"] for r in hop(ev).collect()}

    stream = (
        spark.readStream.schema("event_id long, ts timestamp, event_type string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    q = (
        hop(stream)
        .writeStream.outputMode("complete")
        .format("memory")
        .queryName("hop_stream")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = {
        (r["w_start"], r["event_type"]): r["n_events"]
        for r in spark.sql("select * from hop_stream").collect()
    }
    assert got == batch


def test_materialized_view_maintenance(spark, sf_dir, tmpdir):
    """foreachBatch view maintenance: totals equal the batch aggregate
    after multi-micro-batch delivery, AND a restart from the same
    checkpoint (which replays the last batch) does not double-count."""
    from pulsar_elasticsearch_sync_rs_spark.sources.batch import read_table
    from pulsar_elasticsearch_sync_rs_spark.streaming.mview import (
        maintain_count_sum_view,
        read_view,
    )

    ev = read_table(spark, sf_dir, "events").select("event_id", "event_type", "value")
    src_dir = os.path.join(tmpdir, "src")
    # two files -> two micro-batches under maxFilesPerTrigger=1, so the
    # view is built by a real multi-batch merge
    ev.filter(F.col("event_id") % 2 == 0).drop("event_id").coalesce(1).write.parquet(src_dir)
    ev.filter(F.col("event_id") % 2 == 1).drop("event_id").coalesce(1).write.mode(
        "append"
    ).parquet(src_dir)
    ev = ev.drop("event_id")

    expected = {
        r["event_type"]: (r["n_rows"], float(r["sum_value"]))
        for r in ev.groupBy("event_type")
        .agg(
            F.count("*").alias("n_rows"),
            F.sum(F.col("value").cast("decimal(18,4)")).alias("sum_value"),
        )
        .collect()
    }

    state_dir = os.path.join(tmpdir, "state")
    ckpt = os.path.join(tmpdir, "ckpt_mv")
    stream = spark.readStream.schema("event_type string, value double").option(
        "maxFilesPerTrigger", 1
    ).parquet(src_dir)
    q = maintain_count_sum_view(
        stream, ["event_type"], "value", state_dir, ckpt, available_now=True
    )
    q.awaitTermination(120)

    got = {
        r["event_type"]: (r["n_rows"], float(r["sum_value"]))
        for r in read_view(spark, state_dir).collect()
    }
    assert got == expected

    # restart with the same checkpoint: availableNow re-run must be a
    # no-op (no new files; any replayed batch id is skipped)
    stream2 = spark.readStream.schema("event_type string, value double").option(
        "maxFilesPerTrigger", 1
    ).parquet(src_dir)
    q2 = maintain_count_sum_view(
        stream2, ["event_type"], "value", state_dir, ckpt, available_now=True
    )
    q2.awaitTermination(60)
    got2 = {
        r["event_type"]: (r["n_rows"], float(r["sum_value"]))
        for r in read_view(spark, state_dir).collect()
    }
    assert got2 == expected, "restart double-counted the replayed batch"


def test_stream_heavy_hitters_misra_gries(spark, sf_dir, tmpdir):
    """Streaming Misra–Gries across REAL micro-batch boundaries (one
    file per trigger): (1) state carries between batches — the final
    per-bucket summaries reflect the whole stream; (2) the classic
    guarantees hold vs exact batch counts: every estimate
    UNDERestimates by at most N_bucket/(capacity+1), and every token
    above that bucket threshold is present (no false negatives);
    (3) the global top-5 tokens all survive."""
    import os

    from pulsar_elasticsearch_sync_rs_spark.functions.text import ws_tokens
    from pulsar_elasticsearch_sync_rs_spark.sources.batch import read_table
    from pulsar_elasticsearch_sync_rs_spark.streaming.heavy_hitters import (
        heavy_hitters_stream,
    )

    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(ws_tokens(F.lower(F.col("text")))).alias("token")
    )
    src_dir = os.path.join(tmpdir, "tok_src")
    # several files -> several micro-batches with maxFilesPerTrigger=1
    toks.repartition(4).write.parquet(src_dir)

    stream = (
        spark.readStream.schema("doc_id long, token string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    out_dir = os.path.join(tmpdir, "hh_out")
    n_buckets, capacity = 4, 24
    def sink(batch_df, batch_id):
        batch_df.write.mode("append").parquet(out_dir)

    q = (
        heavy_hitters_stream(stream, n_buckets=n_buckets, capacity=capacity)
        .writeStream.outputMode("update")
        .foreachBatch(sink)
        .option("checkpointLocation", os.path.join(tmpdir, "hh_ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(180)

    emitted = spark.read.parquet(out_dir)
    # latest summary per bucket = the one with that bucket's max n_seen
    from pyspark.sql import Window

    w = Window.partitionBy("bucket").orderBy(F.col("n_seen").desc())
    final = (
        emitted.withColumn("rk", F.dense_rank().over(w))
        .filter(F.col("rk") == 1)
        .select("bucket", "token", "est_count", "n_seen")
        .collect()
    )
    assert final, "no summaries emitted"
    by_bucket_n = {}
    est = {}
    for r in final:
        est[r["token"]] = r["est_count"]
        by_bucket_n[r["bucket"]] = r["n_seen"]
    assert len(by_bucket_n) == n_buckets

    true_counts = {
        r["token"]: r["n"]
        for r in toks.groupBy("token").agg(F.count("*").alias("n")).collect()
    }
    bucket_of = {
        r["token"]: r["b"]
        for r in toks.select(
            "token",
            F.pmod(F.xxhash64(F.col("token").cast("string")), F.lit(n_buckets))
            .cast("int")
            .alias("b"),
        )
        .distinct()
        .collect()
    }
    # per-bucket stream sizes must sum to the whole stream (state carried)
    assert sum(by_bucket_n.values()) == toks.count()

    for tok, e in est.items():
        bound = by_bucket_n[bucket_of[tok]] / (capacity + 1)
        assert e <= true_counts[tok] <= e + bound, (tok, e, true_counts[tok], bound)
    for tok, n in true_counts.items():
        thresh = by_bucket_n[bucket_of[tok]] / (capacity + 1)
        if n > thresh:
            assert tok in est, f"false negative above threshold: {tok} ({n} > {thresh})"

    top5 = sorted(true_counts, key=lambda t: -true_counts[t])[:5]
    assert all(t in est for t in top5), (top5, sorted(est)[:10])


def test_stream_decontamination_matches_batch(spark, sf_dir, tmpdir):
    """Streaming decontamination (stream-static join at ingestion):
    documents streamed in several micro-batches against a static
    benchmark table produce EXACTLY the batch operator's clean set,
    and bench docs themselves never enter the stream's input (they are
    the static side)."""
    import os

    from pulsar_elasticsearch_sync_rs_spark.operators.decontaminate import (
        decontaminate,
    )
    from pulsar_elasticsearch_sync_rs_spark.sources.batch import read_table
    from pulsar_elasticsearch_sync_rs_spark.streaming.decontam import (
        decontaminate_stream,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)

    src_dir = os.path.join(tmpdir, "dc_src")
    corpus.repartition(3).write.parquet(src_dir)
    stream = (
        spark.readStream.schema("doc_id long, text string")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    out_dir = os.path.join(tmpdir, "dc_out")
    q = decontaminate_stream(
        stream, bench, out_dir, os.path.join(tmpdir, "dc_ckpt"),
        n=3, available_now=True,
    )
    q.awaitTermination(180)

    got = {r["doc_id"] for r in spark.read.parquet(out_dir).collect()}
    want = {r["doc_id"] for r in decontaminate(corpus, bench, n=3).collect()}
    assert got == want and got, f"stream clean set != batch: {len(got)} vs {len(want)}"


def _split_events_files(spark, sf_dir, src_dir, n_files=4):
    """events → n_files parquet files so maxFilesPerTrigger=1 yields
    n_files micro-batches."""
    from pulsar_elasticsearch_sync_rs_spark.sources.batch import read_table

    ev = read_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    for i in range(n_files):
        ev.filter(F.col("event_id") % n_files == i).coalesce(1).write.mode(
            "append"
        ).parquet(src_dir)
    return ev


def _idempotent_batch_sink(out_dir, fault_path=None, fault_batch=1, per_batch_sleep=0.0):
    """foreachBatch sink: per-batch OVERWRITE into out/batch=<id> — the
    standard idempotent recipe, so a replayed batch rewrites identical
    data instead of duplicating. The optional fault fires ONCE, AFTER
    the write (the worst case: sink I/O done, offsets not yet
    committed)."""
    import time as _t

    def sink(batch_df, batch_id):
        if per_batch_sleep:
            _t.sleep(per_batch_sleep)
        batch_df.write.mode("overwrite").parquet(
            os.path.join(out_dir, f"batch={batch_id}")
        )
        if (
            fault_path is not None
            and batch_id == fault_batch
            and not os.path.exists(fault_path)
        ):
            with open(fault_path, "w", encoding="utf-8") as fh:
                fh.write("fired")
            raise RuntimeError("injected one-shot sink failure")

    return sink


def test_supervisor_restarts_after_failure_no_loss_no_dup(spark, sf_dir, tmpdir):
    """S3's active half (reference src/pulsar.rs:193-221,306-318,86-94):
    a one-shot failure injected AFTER batch 1's sink write kills the
    query; run_supervised restarts it from the same checkpoint, the
    failed batch replays onto the idempotent sink, and the final output
    equals the no-failure run exactly — no loss, no duplication. The
    restart is counted in the metrics registry."""
    from pulsar_elasticsearch_sync_rs_spark.streaming.supervisor import run_supervised

    src_dir = os.path.join(tmpdir, "src")
    ev = _split_events_files(spark, sf_dir, src_dir, n_files=4)
    out_dir = os.path.join(tmpdir, "out")
    ckpt = os.path.join(tmpdir, "ckpt_sup")
    fault = os.path.join(tmpdir, "fault_flag")
    registry = MetricsRegistry()

    def start_query():
        stream = (
            spark.readStream.schema("event_id long, event_type string, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        return (
            stream.writeStream.foreachBatch(
                _idempotent_batch_sink(out_dir, fault_path=fault, fault_batch=1)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    run = run_supervised(
        start_query,
        max_restarts=3,
        backoff_initial_ms=10,
        registry=registry,
        name="sup_e2e",
    )
    assert run.restarts == 1 and run.recreations == 0
    assert registry.get("query_restarts_total", query="sup_e2e") == 1.0
    assert os.path.exists(fault), "the injected fault never fired"

    got = spark.read.parquet(out_dir)
    assert got.count() == ev.count(), "restart lost or duplicated rows"
    assert {r["event_id"] for r in got.select("event_id").collect()} == {
        r["event_id"] for r in ev.select("event_id").collect()
    }


def test_supervisor_watch_recreates_query(spark, sf_dir, tmpdir):
    """The watchdog arm: watch() firing once stops the query cleanly
    and recreates it from the checkpoint (the reference's
    recreate-consumer-on-topology-change); the run still drains every
    record exactly once and recreations (not restarts) are counted."""
    from pulsar_elasticsearch_sync_rs_spark.streaming.supervisor import run_supervised

    src_dir = os.path.join(tmpdir, "src")
    ev = _split_events_files(spark, sf_dir, src_dir, n_files=6)
    out_dir = os.path.join(tmpdir, "out")
    ckpt = os.path.join(tmpdir, "ckpt_watch")
    registry = MetricsRegistry()
    fired = {"n": 0}

    def watch() -> bool:
        # fire exactly once, on the first poll — the topology-change
        # signal arriving while the query is mid-stream
        fired["n"] += 1
        return fired["n"] == 1

    def start_query():
        stream = (
            spark.readStream.schema("event_id long, event_type string, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        return (
            stream.writeStream.foreachBatch(
                _idempotent_batch_sink(out_dir, per_batch_sleep=0.25)
            )
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    run = run_supervised(
        start_query,
        max_restarts=0,  # any failure would raise — recreation must not count
        watch=watch,
        poll_interval_ms=100,
        registry=registry,
        name="sup_watch",
    )
    assert run.recreations == 1 and run.restarts == 0
    assert registry.get("query_recreations_total", query="sup_watch") == 1.0
    got = spark.read.parquet(out_dir)
    assert got.count() == ev.count()
    assert {r["event_id"] for r in got.select("event_id").collect()} == {
        r["event_id"] for r in ev.select("event_id").collect()
    }


class _FakeQuery:
    """A StreamingQuery stand-in for the recreation stop: ``status``
    returns the given statuses in turn, then the last one forever, and
    ``calls`` records each status read and the stop."""

    def __init__(self, *statuses: tuple[bool, str]):
        self.statuses = list(statuses)
        self.calls: list[tuple[bool, str] | str] = []

    @property
    def status(self) -> dict:
        active, message = self.statuses.pop(0) if len(self.statuses) > 1 else self.statuses[0]
        self.calls.append((active, message))
        return {"isTriggerActive": active, "message": message, "isDataAvailable": True}

    def stop(self) -> None:
        self.calls.append("stop")


_SINK = (True, "Processing new data")


@pytest.mark.parametrize(
    "after",
    [(False, "Waiting for next trigger"), (True, "Getting offsets from FileStreamSource[x]")],
    ids=["trigger_idle", "next_batch_planning"],
)
def test_recreation_stop_waits_for_the_batch_in_flight(after):
    """The watch-driven stop comes only once no batch is past its
    offset planning: after an idle trigger, or while back-to-back
    batches plan the next one. Writing the offsets log is already too
    late (the sink follows at once)."""
    from pulsar_elasticsearch_sync_rs_spark.streaming import supervisor

    wal = (True, "Writing offsets to log")
    q = _FakeQuery(_SINK, _SINK, wal, _SINK, after)
    supervisor._stop_between_batches(q)
    assert q.calls == [_SINK, _SINK, wal, _SINK, after, "stop"]


def test_recreation_stop_still_comes_once_the_wait_runs_out(monkeypatch):
    import time

    from pulsar_elasticsearch_sync_rs_spark.streaming import supervisor

    monkeypatch.setattr(supervisor, "_STOP_WAIT_S", 0.2)
    q = _FakeQuery(_SINK)
    t0 = time.monotonic()
    supervisor._stop_between_batches(q)
    assert 0.2 <= time.monotonic() - t0 < 5.0
    assert q.calls[-1] == "stop" and q.calls.count("stop") == 1
    assert set(q.calls[:-1]) == {_SINK}


def test_planning_phase_is_a_status_spark_shows_between_batches(spark, tmpdir):
    """The recreation stop tells offset planning from the rest of a
    batch by its status message; pin that message against this Spark
    version on back-to-back file-source batches."""
    import time

    from pulsar_elasticsearch_sync_rs_spark.streaming.supervisor import _PLANNING_PHASE

    src = os.path.join(tmpdir, "phase_src")
    for i in range(3):
        spark.range(i, i + 1).write.mode("append").parquet(src)
    q = (
        spark.readStream.schema("id long").option("maxFilesPerTrigger", 1).parquet(src)
        .writeStream.foreachBatch(lambda df, batch_id: time.sleep(0.2))
        .option("checkpointLocation", os.path.join(tmpdir, "ckpt_phase"))
        .trigger(availableNow=True)
        .start()
    )
    seen = set()
    try:
        while q.isActive:
            status = q.status
            if status["isTriggerActive"]:
                seen.add(status["message"])
            time.sleep(0.002)
    finally:
        q.stop()
    assert any(m.startswith(_PLANNING_PHASE) for m in seen), seen


def test_supervisor_heals_interrupted_offsets_write(spark, sf_dir, tmpdir):
    """A stop() that interrupts the very first offsets write leaves the
    atomic-rename temp file (`.0.<uuid>.tmp`) in ckpt/offsets with no
    committed entry; Spark 4.x then fails EVERY restart with
    STATE_STORE_CHECKPOINT_LOCATION_NOT_EMPTY (caught live as a
    watch-recreation race on a loaded host). The supervisor must
    recognize the self-inflicted garbage, remove exactly the
    uncommitted leftovers, and retry WITHOUT consuming the failure
    budget — max_restarts=0 here proves the retry is free."""
    from pulsar_elasticsearch_sync_rs_spark.streaming.supervisor import run_supervised

    src_dir = os.path.join(tmpdir, "src")
    ev = _split_events_files(spark, sf_dir, src_dir, n_files=2)
    out_dir = os.path.join(tmpdir, "out")
    ckpt = os.path.join(tmpdir, "ckpt_heal")
    # the exact leftover an interrupted HDFSMetadataLog write leaves:
    # a non-integer-named temp file and NO committed batch entry
    os.makedirs(os.path.join(ckpt, "offsets"))
    with open(
        os.path.join(ckpt, "offsets", ".0.9f1c2d3e.tmp"), "w", encoding="utf-8"
    ) as fh:
        fh.write("v1\npartial")

    def start_query():
        stream = (
            spark.readStream.schema("event_id long, event_type string, value double")
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        return (
            stream.writeStream.foreachBatch(_idempotent_batch_sink(out_dir))
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    run = run_supervised(start_query, max_restarts=0, name="sup_heal")
    assert run.restarts == 0 and run.recreations == 0
    got = spark.read.parquet(out_dir)
    assert got.count() == ev.count()
    assert {r["event_id"] for r in got.select("event_id").collect()} == {
        r["event_id"] for r in ev.select("event_id").collect()
    }
    # the committed entries the healed run wrote must still be there
    assert any(
        name.isdigit() for name in os.listdir(os.path.join(ckpt, "offsets"))
    )


def test_supervisor_restart_budget_exhausted(spark, sf_dir, tmpdir):
    """A persistent failure exhausts max_restarts and re-raises — the
    reference's bounded-retry give-up, not an infinite crash loop."""
    from pyspark.errors import StreamingQueryException

    from pulsar_elasticsearch_sync_rs_spark.streaming.supervisor import run_supervised

    src_dir = os.path.join(tmpdir, "src")
    _split_events_files(spark, sf_dir, src_dir, n_files=1)
    ckpt = os.path.join(tmpdir, "ckpt_budget")
    registry = MetricsRegistry()

    def always_fails(batch_df, batch_id):
        raise RuntimeError("permanent sink failure")

    def start_query():
        stream = spark.readStream.schema(
            "event_id long, event_type string, value double"
        ).parquet(src_dir)
        return (
            stream.writeStream.foreachBatch(always_fails)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    with pytest.raises(StreamingQueryException):
        run_supervised(
            start_query,
            max_restarts=2,
            backoff_initial_ms=1,
            registry=registry,
            name="sup_budget",
        )
    assert registry.get("query_restarts_total", query="sup_budget") == 2.0


def _curation_batch_prefix(corpus, bench, n=5):
    """The batch q_llm_pipeline prefix (gate → decontaminate → min-id
    exact dedup) the streaming ingest must reproduce — same helpers,
    same thresholds, so the two can never drift."""
    from pulsar_elasticsearch_sync_rs_spark.functions.text import (
        quality_score,
        repetition_signals,
    )
    from pulsar_elasticsearch_sync_rs_spark.operators.decontaminate import (
        decontaminate,
    )

    _, dup_word_frac, top_bigram_frac = repetition_signals("text")
    gated = corpus.filter(
        (quality_score("text") >= 0.65)
        & (dup_word_frac <= 0.6)
        & (top_bigram_frac <= 0.1)
    )
    clean = decontaminate(gated, bench, n=n)
    surv_ids = (
        clean.select(F.sha2("text", 256).alias("sha"), "doc_id")
        .groupBy("sha")
        .agg(F.min("doc_id").alias("doc_id"))
        .select("doc_id")
    )
    return clean.join(surv_ids, "doc_id", "left_semi")


def test_curation_ingest_stream_matches_batch_pipeline(spark, sf_dir, tmpdir):
    """The streaming end-to-end curation ingestion (ONE foreachBatch:
    gate → decontam → within-batch dedup → accumulated-sha-index dedup
    → sink) over doc_id-ordered micro-batches produces EXACTLY the
    batch pipeline prefix's survivor set — including duplicates planted
    ACROSS micro-batches, which only the accumulated index can catch —
    and the bulk transport sees one indexed action per admitted doc."""
    import time

    from pulsar_elasticsearch_sync_rs_spark.sources.batch import read_table
    from pulsar_elasticsearch_sync_rs_spark.streaming.curation import (
        run_curation_ingest,
    )

    docs = read_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    max_id = corpus.agg(F.max("doc_id")).first()[0]

    # plant cross-batch duplicates: clone the text of 5 docs that
    # SURVIVE the batch prefix under fresh high doc_ids, so they arrive
    # in the LAST micro-batch and must be rejected by the sha index
    expected = _curation_batch_prefix(corpus, bench).persist()
    originals = expected.orderBy("doc_id").limit(5)
    clones = originals.select(
        (F.col("doc_id") + max_id + 1).alias("doc_id"),
        "text", "lang", "source", "n_chars",
    )
    full = corpus.unionByName(clones)

    # 3 doc_id-ordered files → 3 ordered micro-batches (file source
    # admits oldest-modified first; sleep keeps mtimes distinct)
    src_dir = os.path.join(tmpdir, "cur_src")
    cuts = [max_id // 3, 2 * max_id // 3]
    parts = [
        full.filter(F.col("doc_id") <= cuts[0]),
        full.filter((F.col("doc_id") > cuts[0]) & (F.col("doc_id") <= cuts[1])),
        full.filter(F.col("doc_id") > cuts[1]),  # includes the clones
    ]
    for p in parts:
        p.coalesce(1).write.mode("append").parquet(src_dir)
        time.sleep(1.1)

    stream = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string, n_chars long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    from pulsar_elasticsearch_sync_rs_spark.streaming.sink import (
        IdempotentParquetBulkTransport,
    )

    out_dir = os.path.join(tmpdir, "cur_out")
    sha_dir = os.path.join(tmpdir, "cur_sha")
    sink_dir = os.path.join(tmpdir, "cur_es")
    registry = MetricsRegistry()
    q = run_curation_ingest(
        stream,
        bench,
        out_dir,
        sha_dir,
        os.path.join(tmpdir, "cur_ckpt"),
        transport=IdempotentParquetBulkTransport(sink_dir),
        available_now=True,
        registry=registry,
    )
    q.awaitTermination(300)

    got = {r["doc_id"] for r in spark.read.parquet(out_dir).collect()}
    want = {r["doc_id"] for r in expected.collect()}
    clone_ids = {r["doc_id"] for r in clones.collect()}
    expected.unpersist()
    assert got == want and got, (len(got), len(want))
    assert not (got & clone_ids), "cross-batch duplicate admitted"

    # one micro-batch per file; sha index mirrors the admitted set
    batches = {d for d in os.listdir(out_dir) if d.startswith("batch=")}
    assert len(batches) == 3, batches
    sha_ids = {r["doc_id"] for r in spark.read.parquet(sha_dir).collect()}
    assert sha_ids == want

    # bulk transport: one action per admitted doc, routed by lang index
    indexed = spark.read.parquet(sink_dir)
    assert indexed.count() == len(want)
    assert {r["index"] for r in indexed.select("index").distinct().collect()} <= {
        f"docs-{r['lang']}"
        for r in docs.select("lang").distinct().collect()
    } | {"docs-unknown"}

    # stage counters tie out: input = admitted + every drop bucket
    n_in = registry.get("curation_input")
    assert n_in == full.count()
    assert registry.get("curation_admitted") == len(want)
    assert registry.get("curation_duplicate") >= len(clone_ids)
    assert n_in == sum(
        registry.get(k)
        for k in (
            "curation_admitted", "curation_gated", "curation_contaminated",
            "curation_duplicate", "curation_rate_dropped",
        )
    )


def test_curation_ingest_rate_limit_caps_per_batch(spark, sf_dir, tmpdir):
    """rate_limits={source: cap} admits at most cap rows of that source
    PER MICRO-BATCH (flush-window granularity, lowest doc_id first —
    deterministic), leaving other sources untouched."""
    from pulsar_elasticsearch_sync_rs_spark.sources.batch import read_table
    from pulsar_elasticsearch_sync_rs_spark.streaming.curation import (
        run_curation_ingest,
    )

    docs = read_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    src_dir = os.path.join(tmpdir, "rl_src")
    corpus.coalesce(1).write.parquet(src_dir)  # ONE file → one batch

    stream = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string, n_chars long"
        )
        .parquet(src_dir)
    )
    out_dir = os.path.join(tmpdir, "rl_out")
    q = run_curation_ingest(
        stream,
        bench,
        out_dir,
        os.path.join(tmpdir, "rl_sha"),
        os.path.join(tmpdir, "rl_ckpt"),
        rate_limits={"src0": 2},
        available_now=True,
    )
    q.awaitTermination(300)

    out = spark.read.parquet(out_dir)
    uncapped = _curation_batch_prefix(corpus, bench)
    per_src = {
        r["source"]: r["n"]
        for r in out.groupBy("source").agg(F.count("*").alias("n")).collect()
    }
    want_src0 = uncapped.filter(F.col("source") == "src0")
    assert per_src.get("src0", 0) == min(2, want_src0.count())
    # kept src0 rows are the LOWEST doc_ids of the uncapped survivors
    kept = sorted(
        r["doc_id"] for r in out.filter(F.col("source") == "src0").collect()
    )
    want_ids = sorted(r["doc_id"] for r in want_src0.collect())[: len(kept)]
    assert kept == want_ids
    # other sources: untouched vs the uncapped batch prefix
    other = uncapped.filter(F.col("source") != "src0")
    assert out.filter(F.col("source") != "src0").count() == other.count()


def test_supervised_curation_ingest_survives_sink_failure(spark, sf_dir, tmpdir):
    """The two S-pieces composed: run_curation_ingest driven by
    run_supervised. A one-shot transport failure AFTER batch 1's data
    writes (worst case: output landed, offsets uncommitted) kills the
    query; the supervisor restarts it from the checkpoint; the replayed
    batch's per-batch overwrites — and the sha-index read that prunes
    the replayed batch's own slice — keep the run idempotent: final
    corpus ≡ the batch pipeline prefix, the bulk sink holds exactly one
    action per admitted doc, and the restart counter reads 1."""
    import time

    from pulsar_elasticsearch_sync_rs_spark.sources.batch import read_table
    from pulsar_elasticsearch_sync_rs_spark.streaming.curation import (
        run_curation_ingest,
    )
    from pulsar_elasticsearch_sync_rs_spark.streaming.supervisor import (
        run_supervised,
    )

    docs = read_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    max_id = corpus.agg(F.max("doc_id")).first()[0]
    src_dir = os.path.join(tmpdir, "sc_src")
    cuts = [max_id // 3, 2 * max_id // 3]
    for lo, hi in ((None, cuts[0]), (cuts[0], cuts[1]), (cuts[1], None)):
        part = corpus
        if lo is not None:
            part = part.filter(F.col("doc_id") > lo)
        if hi is not None:
            part = part.filter(F.col("doc_id") <= hi)
        part.coalesce(1).write.mode("append").parquet(src_dir)
        time.sleep(1.1)

    sink_dir = os.path.join(tmpdir, "sc_es")
    fault_path = os.path.join(tmpdir, "sc_fault")

    class OneShotFailingTransport:
        """Idempotent per-batch-overwrite sink that dies ONCE on batch 1
        after its write completed."""

        def write(self, batch_df, batch_id):
            batch_df.write.mode("overwrite").parquet(
                os.path.join(sink_dir, f"batch={batch_id}")
            )
            if batch_id == 1 and not os.path.exists(fault_path):
                with open(fault_path, "w", encoding="utf-8") as fh:
                    fh.write("fired")
                raise RuntimeError("injected one-shot transport failure")

    out_dir = os.path.join(tmpdir, "sc_out")
    sha_dir = os.path.join(tmpdir, "sc_sha")
    registry = MetricsRegistry()

    def start():
        stream = (
            spark.readStream.schema(
                "doc_id long, text string, lang string, source string, n_chars long"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        return run_curation_ingest(
            stream,
            bench,
            out_dir,
            sha_dir,
            os.path.join(tmpdir, "sc_ckpt"),
            transport=OneShotFailingTransport(),
            available_now=True,
            registry=registry,
        )

    run = run_supervised(
        start, max_restarts=3, backoff_initial_ms=10,
        registry=registry, name="curation",
    )
    assert run.restarts == 1 and os.path.exists(fault_path)
    assert registry.get("query_restarts_total", query="curation") == 1.0

    got = {r["doc_id"] for r in spark.read.parquet(out_dir).collect()}
    want = {
        r["doc_id"] for r in _curation_batch_prefix(corpus, bench).collect()
    }
    assert got == want and got
    # bulk sink: exactly one action per admitted doc across the replay
    assert spark.read.parquet(sink_dir).count() == len(want)

    # stage counters survive the supervisor's closure rebuild without
    # double-counting the replayed batch: restarts rebuild the
    # foreachBatch closure (fresh in-memory counted set), so only the
    # durable per-batch markers keep batch 1 — whose FIRST attempt died
    # in the transport, after data writes but before the counter commit
    # — from being counted twice; input must equal the source exactly
    # once and tie out against the drop buckets
    n_in = registry.get("curation_input")
    assert n_in == corpus.count(), "replayed batch double- or un-counted"
    assert registry.get("curation_admitted") == len(want)
    assert n_in == sum(
        registry.get(k)
        for k in (
            "curation_admitted", "curation_gated", "curation_contaminated",
            "curation_duplicate", "curation_rate_dropped",
        )
    )


def test_curation_sha_history_never_shuffles(spark, sf_dir, tmpdir):
    """The accumulated sha index is a BUCKETED table, so the cross-batch
    anti-join's history side must read co-located: exactly ONE Exchange
    in the plan (the increment pinned to the bucket count) and none
    above the index scan — the streaming twin of
    test_incremental_dedup_bucketed_history_never_shuffles. Also pins
    that the replay exclusion is a PARTITION filter (pruned at the
    scan, not applied per row after a full read)."""
    from pulsar_elasticsearch_sync_rs_spark.sources.batch import read_table
    from pulsar_elasticsearch_sync_rs_spark.streaming.curation import (
        _sha_table_name,
        _write_sha_slice,
        prior_sha_anti_join,
    )

    docs = read_table(spark, sf_dir, "documents")
    pairs = docs.select(F.sha2(F.col("text"), 256).alias("sha"), F.col("doc_id"))
    sha_dir = os.path.join(tmpdir, "sha_tbl")
    table = _sha_table_name(sha_dir)
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        _write_sha_slice(pairs.filter(F.col("doc_id") % 3 == 0), table, sha_dir, 0, 16)
        _write_sha_slice(pairs.filter(F.col("doc_id") % 3 == 1), table, sha_dir, 1, 16)
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        batch = docs.filter(F.col("doc_id") % 3 == 2).withColumn(
            "__sha", F.sha2(F.col("text"), 256)
        )
        out = prior_sha_anti_join(spark, table, batch, exclude_batch=2, n_buckets=16)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 1, f"history side shuffled:\n{plan}"
        assert "SortMergeJoin" in plan
        assert "Bucketed: true" in plan, plan
        # replay exclusion pruned at planning: a partition filter on the
        # scan, and the excluded slice's directory absent from the scan
        assert "PartitionFilters" in plan and "batch" in plan

        # semantics: admitted shas are exactly those absent from history
        got = {r["doc_id"] for r in out.select("doc_id").collect()}
        hist = {r["sha"] for r in spark.table(table).select("sha").collect()}
        want = {
            r["doc_id"]
            for r in batch.filter(~F.col("__sha").isin(hist)).collect()
        } if len(hist) < 10000 else None
        if want is not None:
            assert got == want

        # exclusion works: anti-joining with exclude_batch=1 admits the
        # batch-1 duplicates (its slice is invisible to the join)
        dup_batch = pairs.filter(F.col("doc_id") % 3 == 1).withColumnRenamed(
            "sha", "__sha"
        )
        readmitted = prior_sha_anti_join(
            spark, table, dup_batch, exclude_batch=1, n_buckets=16
        )
        assert readmitted.count() == dup_batch.count()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_curation_ingest_rejects_replay_unsafe_transports(spark, sf_dir, tmpdir):
    """The ingest job's writes are per-batch overwrites, but a
    caller-supplied transport can still duplicate on replay: an append
    parquet transport or an id-less ES transport must be refused up
    front with the remedy in the message."""
    from pulsar_elasticsearch_sync_rs_spark.sources.batch import read_table
    from pulsar_elasticsearch_sync_rs_spark.streaming.curation import (
        run_curation_ingest,
    )
    from pulsar_elasticsearch_sync_rs_spark.streaming.sink import EsBulkTransport

    docs = read_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    src = os.path.join(tmpdir, "never_read")
    os.makedirs(src)
    stream = spark.readStream.schema(
        "doc_id long, text string, lang string, source string, n_chars long"
    ).parquet(src)

    with pytest.raises(ValueError, match="IdempotentParquetBulkTransport"):
        run_curation_ingest(
            stream, bench, os.path.join(tmpdir, "o"), os.path.join(tmpdir, "s"),
            os.path.join(tmpdir, "c"),
            transport=ParquetBulkTransport(os.path.join(tmpdir, "t")),
        )
    with pytest.raises(ValueError, match="id_col='sha'"):
        run_curation_ingest(
            stream, bench, os.path.join(tmpdir, "o"), os.path.join(tmpdir, "s"),
            os.path.join(tmpdir, "c"),
            transport=EsBulkTransport("http://localhost:9"),
        )


def test_supervisor_budget_is_per_incident(spark, sf_dir, tmpdir):
    """A query that ran healthily before failing gets a FRESH restart
    budget (the reference's retry policy resets once a reconnect
    succeeds, src/pulsar.rs:86-94): two failures separated by healthy
    runtime both recover under max_restarts=1, where a lifetime budget
    would abandon the job on the second."""
    src_dir = os.path.join(tmpdir, "pi_src")
    _split_events_files(spark, sf_dir, src_dir, n_files=2)
    ckpt = os.path.join(tmpdir, "pi_ckpt")
    out = os.path.join(tmpdir, "pi_out")
    faults = [os.path.join(tmpdir, "pi_f1"), os.path.join(tmpdir, "pi_f2")]

    def sink(batch_df, batch_id):
        import time as _t

        _t.sleep(0.4)  # stretch each attempt past healthy_reset_ms
        batch_df.write.mode("overwrite").parquet(
            os.path.join(out, f"batch={batch_id}")
        )
        for f in faults:
            if not os.path.exists(f):
                with open(f, "w", encoding="utf-8") as fh:
                    fh.write("fired")
                raise RuntimeError("injected failure " + f)

    def start_query():
        stream = spark.readStream.schema(
            "event_id long, event_type string, value double"
        ).option("maxFilesPerTrigger", 1).parquet(src_dir)
        return (
            stream.writeStream.foreachBatch(sink)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )

    from pulsar_elasticsearch_sync_rs_spark.streaming.supervisor import (
        run_supervised,
    )

    run = run_supervised(
        start_query, max_restarts=1, backoff_initial_ms=1,
        healthy_reset_ms=200, name="per_incident",
    )
    # both faults fired, each consumed a fresh single-restart budget
    assert all(os.path.exists(f) for f in faults)
    assert run.restarts <= 1  # budget was reset between incidents
    got = spark.read.parquet(out)
    want = spark.read.parquet(src_dir)
    assert got.count() == want.count()


def test_ivfpq_append_empty_batch_short_circuits(spark, tmpdir):
    """An empty maintenance batch must not NaN the drift report (NaN
    compares False against every threshold and silently disables the
    retrain signal) — it short-circuits with needs_retrain=False."""
    import numpy as np

    from pulsar_elasticsearch_sync_rs_spark.operators.pq import (
        append_to_ivfpq_index,
        persist_ivfpq_index,
    )

    rng = np.random.default_rng(7)
    rows = [(int(i), rng.normal(size=16).astype(float).tolist()) for i in range(64)]
    emb = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    path = os.path.join(tmpdir, "ivfpq_e")
    persist_ivfpq_index(emb, path, nlist=4, m=4, ksub=8)

    report = append_to_ivfpq_index(spark, emb.limit(0), path)
    assert report["n_appended"] == 0
    assert report["needs_retrain"] is False
    assert report["qerr_ratio"] is None and report["cell_skew"] is None


def test_metrics_http_server_serves_exposition_and_stops(spark):
    """K4 live: MetricsHttpServer bound on an ephemeral port serves the
    registry's Prometheus exposition at /metrics (200, labeled
    families, text/plain content type), 404s every other path, and
    stops cleanly releasing the socket - the server loop itself under
    test, not just the render function."""
    import socket
    import urllib.error
    import urllib.request

    from pulsar_elasticsearch_sync_rs_spark.streaming.side_outputs import (
        MetricsHttpServer,
    )

    registry = MetricsRegistry()
    registry.inc("sync_rs_total", 41.0, topic="app-log")
    registry.inc("sync_rs_total", 1.0, topic="app-log")
    registry.inc("query_restarts_total", 2.0, query="curation")

    srv = MetricsHttpServer(registry, host="127.0.0.1", port=0).start()
    try:
        port = srv.port
        with urllib.request.urlopen(
            f"http://127.0.0.1:{port}/metrics", timeout=10
        ) as resp:
            assert resp.status == 200
            assert resp.headers["Content-Type"].startswith("text/plain")
            body = resp.read().decode()
        assert 'sync_rs_total{topic="app-log"} 42' in body
        assert 'query_restarts_total{query="curation"} 2' in body

        # live counter: a later scrape sees later increments
        registry.inc("sync_rs_total", 8.0, topic="app-log")
        body2 = urllib.request.urlopen(
            f"http://127.0.0.1:{port}/metrics", timeout=10
        ).read().decode()
        assert 'sync_rs_total{topic="app-log"} 50' in body2

        with pytest.raises(urllib.error.HTTPError) as exc:
            urllib.request.urlopen(f"http://127.0.0.1:{port}/elsewhere", timeout=10)
        assert exc.value.code == 404
    finally:
        srv.stop()

    # socket released: a fresh bind on the SAME port succeeds
    s = socket.socket()
    s.setsockopt(socket.SOL_SOCKET, socket.SO_REUSEADDR, 1)
    s.bind(("127.0.0.1", port))
    s.close()
    with pytest.raises((ConnectionError, urllib.error.URLError)):
        urllib.request.urlopen(f"http://127.0.0.1:{port}/metrics", timeout=2)


def test_supervised_curation_soak_chaos(spark, sf_dir, tmpdir):
    """SOAK (round-8 brief): the full deployment composition under
    repeated chaos - supervised curation ingest over 8 micro-batches
    with THREE injected incidents (two one-shot transport failures
    after their batch's data writes, the worst case, plus one
    watch-driven recreation mid-run) while the Prometheus metrics
    server serves the same registry. Afterwards: corpus == the batch
    pipeline prefix exactly, the bulk sink holds exactly one action
    per admitted doc (no replay duplicates), stage counters tie out
    counted-once, the supervisor counters read 2 restarts + >=1
    recreation, and the /metrics endpoint exposes them."""
    import time
    import urllib.request

    from pulsar_elasticsearch_sync_rs_spark.sources.batch import read_table
    from pulsar_elasticsearch_sync_rs_spark.streaming.curation import (
        run_curation_ingest,
    )
    from pulsar_elasticsearch_sync_rs_spark.streaming.side_outputs import (
        MetricsHttpServer,
    )
    from pulsar_elasticsearch_sync_rs_spark.streaming.supervisor import (
        run_supervised,
    )

    docs = read_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    max_id = corpus.agg(F.max("doc_id")).first()[0]

    # 8 doc_id-ordered files -> 8 micro-batches
    src_dir = os.path.join(tmpdir, "soak_src")
    n_files = 8
    step = max_id // n_files + 1
    for i in range(n_files):
        part = corpus.filter(
            (F.col("doc_id") >= i * step) & (F.col("doc_id") < (i + 1) * step)
        )
        part.coalesce(1).write.mode("append").parquet(src_dir)
        time.sleep(1.05)  # distinct mtimes: files admitted oldest-first

    sink_dir = os.path.join(tmpdir, "soak_es")
    fault_dir = os.path.join(tmpdir, "soak_faults")
    os.makedirs(fault_dir)

    class ChaosTransport:
        """Idempotent per-batch-overwrite sink that dies ONCE each on
        batches 2 and 5, after the write landed."""

        def write(self, batch_df, batch_id):
            batch_df.write.mode("overwrite").parquet(
                os.path.join(sink_dir, f"batch={batch_id}")
            )
            marker = os.path.join(fault_dir, f"fired-{batch_id}")
            if batch_id in (2, 5) and not os.path.exists(marker):
                with open(marker, "w", encoding="utf-8") as fh:
                    fh.write("fired")
                raise RuntimeError(f"injected chaos failure on batch {batch_id}")

    out_dir = os.path.join(tmpdir, "soak_out")
    registry = MetricsRegistry()
    srv = MetricsHttpServer(registry, host="127.0.0.1", port=0).start()

    def start():
        stream = (
            spark.readStream.schema(
                "doc_id long, text string, lang string, source string, n_chars long"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        return run_curation_ingest(
            stream,
            bench,
            out_dir,
            os.path.join(tmpdir, "soak_sha"),
            os.path.join(tmpdir, "soak_ckpt"),
            transport=ChaosTransport(),
            available_now=True,
            registry=registry,
        )

    watch_state = {"fired": False}

    def watch():
        # one watch-driven recreation once batch 1 has landed
        if not watch_state["fired"] and os.path.isdir(
            os.path.join(out_dir, "batch=1")
        ):
            watch_state["fired"] = True
            return True
        return False

    try:
        run = run_supervised(
            start,
            max_restarts=3,
            backoff_initial_ms=10,
            watch=watch,
            poll_interval_ms=150,
            registry=registry,
            name="soak",
        )
        assert run.restarts == 2, run
        assert run.recreations >= 1, run
        assert os.path.exists(os.path.join(fault_dir, "fired-2"))
        assert os.path.exists(os.path.join(fault_dir, "fired-5"))

        # corpus == batch prefix, across 8 batches + 3 incidents
        got = {r["doc_id"] for r in spark.read.parquet(out_dir).collect()}
        want = {
            r["doc_id"] for r in _curation_batch_prefix(corpus, bench).collect()
        }
        assert got == want and got

        # bulk sink: exactly one action per admitted doc, unique shas
        indexed = spark.read.parquet(sink_dir)
        assert indexed.count() == len(want)
        assert indexed.select("sha").distinct().count() == len(want)

        # counters: counted exactly once despite replays + recreation
        n_in = registry.get("curation_input")
        assert n_in == corpus.count()
        assert registry.get("curation_admitted") == len(want)
        assert n_in == sum(
            registry.get(k)
            for k in (
                "curation_admitted", "curation_gated", "curation_contaminated",
                "curation_duplicate", "curation_rate_dropped",
            )
        )
        assert registry.get("query_restarts_total", query="soak") == 2.0
        assert registry.get("query_recreations_total", query="soak") >= 1.0

        # the metrics server exposes the same counters live
        body = urllib.request.urlopen(
            f"http://127.0.0.1:{srv.port}/metrics", timeout=10
        ).read().decode()
        assert 'query_restarts_total{query="soak"} 2' in body
        assert "curation_admitted" in body
    finally:
        srv.stop()


def test_curation_sha_index_survives_catalog_loss(spark, sf_dir, tmpdir):
    """Cross-PROCESS restart: the session catalog is in-memory, so a
    new driver forgets the sha table while sha_dir still holds the
    history. The index check is filesystem-truth - the restarted job
    must RE-REGISTER the surviving bucketed table (not skip dedup, not
    clobber the files) and keep rejecting cross-batch duplicates."""
    import time

    from pulsar_elasticsearch_sync_rs_spark.sources.batch import read_table
    from pulsar_elasticsearch_sync_rs_spark.streaming.curation import (
        _sha_table_name,
        run_curation_ingest,
    )

    docs = read_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    max_id = corpus.agg(F.max("doc_id")).first()[0]

    src_dir = os.path.join(tmpdir, "cl_src")
    out_dir = os.path.join(tmpdir, "cl_out")
    sha_dir = os.path.join(tmpdir, "cl_sha")
    ckpt = os.path.join(tmpdir, "cl_ckpt")

    corpus.coalesce(1).write.mode("append").parquet(src_dir)

    def run_once():
        stream = (
            spark.readStream.schema(
                "doc_id long, text string, lang string, source string, n_chars long"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        q = run_curation_ingest(
            stream, bench, out_dir, sha_dir, ckpt, available_now=True
        )
        q.awaitTermination(300)

    run_once()
    admitted1 = {r["doc_id"] for r in spark.read.parquet(out_dir).collect()}
    n_sha1 = spark.read.parquet(sha_dir).count()
    assert admitted1 and n_sha1 == len(admitted1)

    # simulate the new process: external table's catalog entry gone,
    # files intact
    table = _sha_table_name(sha_dir)
    spark.sql(f"DROP TABLE {table}")
    assert spark.read.parquet(sha_dir).count() == n_sha1, "drop removed data"

    # a restart with a DIFFERENT bucket config must refuse to
    # re-register (bucket-id file layout would no longer match the
    # catalog spec the co-located join trusts)
    from pulsar_elasticsearch_sync_rs_spark.streaming.curation import (
        _bucketed_table_ready,
    )

    with pytest.raises(ValueError, match="INTO 16 BUCKETS"):
        _bucketed_table_ready(
            spark, table, sha_dir, 8, "sha STRING, doc_id BIGINT", "sha"
        )

    # second arrival: clones of 5 admitted docs under fresh ids - only
    # the accumulated index can reject them after the restart
    originals = (
        spark.read.parquet(out_dir).orderBy("doc_id").limit(5).drop("batch")
    )
    clones = originals.select(
        (F.col("doc_id") + max_id + 1).alias("doc_id"),
        "text", "lang", "source", "n_chars",
    )
    time.sleep(1.05)
    clones.coalesce(1).write.mode("append").parquet(src_dir)
    run_once()

    got = {r["doc_id"] for r in spark.read.parquet(out_dir).collect()}
    clone_ids = {r["doc_id"] for r in clones.collect()}
    assert got == admitted1, "restart lost or duplicated history"
    assert not (got & clone_ids), "cross-batch duplicate admitted after restart"
    # history preserved AND the new batch's (empty) slice coexists
    sha_ids = {r["doc_id"] for r in spark.read.parquet(sha_dir).collect()}
    assert sha_ids == admitted1
    spark.sql(f"DROP TABLE IF EXISTS {table}")


def _sha_index_rows(spark, table):
    return {
        (r["sha"], r["doc_id"])
        for r in spark.table(table).select("sha", "doc_id").collect()
    }


def test_compact_index_batches_bounds_files_and_preserves_dedup(spark, sf_dir, tmpdir):
    """The streaming indexes grow one batch=<id> partition x n_buckets
    files per trigger FOREVER; compaction must fold closed slices into
    one consolidated generation with (a) partition count ~(1+retain),
    (b) <= n_buckets part files in the consolidated slice, (c) the
    index's (sha, doc_id) SET byte-identical, and (d) the anti-join's
    co-located one-Exchange plan intact (same _BUCKET_SPEC)."""
    from pulsar_elasticsearch_sync_rs_spark.sources.batch import read_table
    from pulsar_elasticsearch_sync_rs_spark.streaming.curation import (
        _list_partition_ids,
        _read_compact_state,
        _sha_table_name,
        _write_sha_slice,
        compact_sha_index,
        prior_sha_anti_join,
    )

    docs = read_table(spark, sf_dir, "documents")
    pairs = docs.select(F.sha2(F.col("text"), 256).alias("sha"), F.col("doc_id"))
    sha_dir = os.path.join(tmpdir, "ci_sha")
    table = _sha_table_name(sha_dir)
    prev_bc = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        for b in range(6):
            _write_sha_slice(pairs.filter(F.col("doc_id") % 6 == b), table, sha_dir, b, 16)
        before = _sha_index_rows(spark, table)
        assert len(_list_partition_ids(spark, sha_dir)) == 6

        # retain >= open-slice count folds NOTHING — a bare negative
        # slice bound would wrap end-relative and fold the oldest
        # slices the contract promises to keep (round-9 review finding)
        rep_over = compact_sha_index(spark, sha_dir, retain=10)
        assert rep_over["folded_batches"] == []
        assert len(_list_partition_ids(spark, sha_dir)) == 6

        rep = compact_sha_index(spark, sha_dir, retain=1)
        assert rep["folded_batches"] == [0, 1, 2, 3, 4]
        assert rep["slot"] == -1 and rep["watermark"] == 4
        assert rep["slot_files"] <= 16, rep
        parts = _list_partition_ids(spark, sha_dir)
        assert set(parts) == {-1, 5}, sorted(parts)
        assert _sha_index_rows(spark, table) == before, "compaction changed the index"

        # dedup results byte-identical: known shas rejected, fresh admitted
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        dup = pairs.filter(F.col("doc_id") < 20).withColumnRenamed("sha", "__sha")
        out = prior_sha_anti_join(spark, table, dup, exclude_batch=99, n_buckets=16)
        plan = out._jdf.queryExecution().executedPlan().toString()
        assert plan.count("Exchange") == 1, f"history shuffled post-compact:\n{plan}"
        assert "Bucketed: true" in plan, plan
        assert out.count() == 0
        fresh = spark.range(10).select(
            F.sha2((F.col("id") + 10_000_000).cast("string"), 256).alias("__sha"),
            F.col("id").alias("doc_id"),
        )
        assert (
            prior_sha_anti_join(spark, table, fresh, 99, 16).count() == 10
        )

        # idempotent no-op: nothing newly closed
        rep2 = compact_sha_index(spark, sha_dir, retain=1)
        assert rep2["folded_batches"] == []
        assert set(_list_partition_ids(spark, sha_dir)) == {-1, 5}

        # next generation: new batches fold TOGETHER WITH the previous
        # consolidated slot; partition count stays bounded
        for b in (6, 7):
            _write_sha_slice(pairs.filter(F.col("doc_id") % 6 == b - 6).select(
                F.concat(F.lit("g2"), F.col("sha")).alias("sha"), "doc_id"
            ), table, sha_dir, b, 16)
        before2 = _sha_index_rows(spark, table)
        rep3 = compact_sha_index(spark, sha_dir, retain=1)
        assert rep3["folded_batches"] == [5, 6] and rep3["previous_slot"] == -1
        assert rep3["slot"] == -2 and rep3["slot_files"] <= 16
        assert set(_list_partition_ids(spark, sha_dir)) == {-2, 7}
        assert _sha_index_rows(spark, table) == before2

        # defensive state-less path: losing _COMPACT_STATE folds
        # everything present into a fresh generation, losslessly
        fs_path = os.path.join(sha_dir, "_COMPACT_STATE")
        os.remove(fs_path)
        rep4 = compact_sha_index(spark, sha_dir, retain=0)
        assert rep4["slot"] == -3
        assert set(_list_partition_ids(spark, sha_dir)) == {-3}
        assert _sha_index_rows(spark, table) == before2
        assert _read_compact_state(spark, sha_dir) == (-3, 7)
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev_bc)
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_compact_crash_between_state_and_deletes_converges(spark, sf_dir, tmpdir, monkeypatch):
    """Crash window 3 of the compaction protocol: the new generation +
    state committed but the folded sources were not yet deleted. Reads
    in that window see duplicates (harmless: the index is a SET); the
    NEXT run's cleanup phase must remove the leftovers WITHOUT reading
    them and converge to the bounded layout with the set unchanged."""
    from pulsar_elasticsearch_sync_rs_spark.sources.batch import read_table
    from pulsar_elasticsearch_sync_rs_spark.streaming import curation as cur

    docs = read_table(spark, sf_dir, "documents")
    pairs = docs.select(F.sha2(F.col("text"), 256).alias("sha"), F.col("doc_id"))
    sha_dir = os.path.join(tmpdir, "crash_sha")
    table = cur._sha_table_name(sha_dir)
    try:
        for b in range(4):
            cur._write_sha_slice(
                pairs.filter(F.col("doc_id") % 4 == b), table, sha_dir, b, 16
            )
        before = _sha_index_rows(spark, table)

        # simulate the crash: deletes never happen this run
        monkeypatch.setattr(cur, "_drop_slice", lambda *a, **k: None)
        rep = cur.compact_sha_index(spark, sha_dir, retain=1)
        assert rep["folded_batches"] == [0, 1, 2]
        monkeypatch.undo()

        # window state: sources still on disk beside the new generation
        parts = cur._list_partition_ids(spark, sha_dir)
        assert set(parts) == {-1, 0, 1, 2, 3}
        # duplicated rows, but the SET the anti-join consumes is intact
        assert _sha_index_rows(spark, table) == before

        # recovery run: cleanup drops the provably-folded leftovers
        rep2 = cur.compact_sha_index(spark, sha_dir, retain=1)
        assert set(cur._list_partition_ids(spark, sha_dir)) == {-1, 3} or set(
            cur._list_partition_ids(spark, sha_dir)
        ) == {-2, 3}
        assert _sha_index_rows(spark, table) == before
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_replayed_slice_immune_to_partition_overwrite_mode_flip(spark, sf_dir, tmpdir):
    """Regression pin for the static-partition INSERT OVERWRITE route:
    the per-batch slice write must replace exactly its own partition —
    never duplicate, never clobber siblings — REGARDLESS of the
    session's partitionOverwriteMode, which a concurrent writer on a
    shared session can flip at any time (the documented race that
    made the dynamic-mode route unacceptable). Fails loudly if Spark's
    catalog-insert semantics ever change under us."""
    from pulsar_elasticsearch_sync_rs_spark.sources.batch import read_table
    from pulsar_elasticsearch_sync_rs_spark.streaming.curation import (
        _sha_table_name,
        _write_sha_slice,
    )

    docs = read_table(spark, sf_dir, "documents")
    pairs = docs.select(F.sha2(F.col("text"), 256).alias("sha"), F.col("doc_id"))
    sha_dir = os.path.join(tmpdir, "flip_sha")
    table = _sha_table_name(sha_dir)
    conf_key = "spark.sql.sources.partitionOverwriteMode"
    prev = spark.conf.get(conf_key)
    try:
        _write_sha_slice(pairs.filter("doc_id % 3 = 0"), table, sha_dir, 0, 16)
        _write_sha_slice(pairs.filter("doc_id % 3 = 1"), table, sha_dir, 1, 16)
        before = _sha_index_rows(spark, table)
        b0 = {r for r in before}
        for mode in ("dynamic", "static"):
            spark.conf.set(conf_key, mode)
            # replay batch 1 under the flipped conf
            _write_sha_slice(
                pairs.filter("doc_id % 3 = 1"), table, sha_dir, 1, 16
            )
            assert _sha_index_rows(spark, table) == before, (
                f"replay under {mode} mode duplicated or clobbered"
            )
        assert b0 == before
    finally:
        spark.conf.set(conf_key, prev)
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_curation_ingest_compact_every_keeps_results_and_bounds_partitions(
    spark, sf_dir, tmpdir
):
    """e2e: the compact_every hook folds the index between micro-batches
    while the stream keeps rejecting cross-batch duplicates; the final
    corpus equals the uncompacted run's and the index partition count
    stays bounded instead of one-per-trigger."""
    import time

    from pulsar_elasticsearch_sync_rs_spark.sources.batch import read_table
    from pulsar_elasticsearch_sync_rs_spark.streaming.curation import (
        _list_partition_ids,
        _sha_table_name,
        run_curation_ingest,
    )

    docs = read_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter((F.col("doc_id") % 97 != 0) & (F.col("doc_id") < 400))
    max_id = docs.agg(F.max("doc_id")).first()[0]

    src = os.path.join(tmpdir, "ce_src")
    outs = {}
    # five source files: four distinct quarters + one clone file that
    # duplicates quarter-0 texts under fresh ids (must be rejected by
    # the COMPACTED index, proving the fold preserved dedup)
    for i in range(4):
        corpus.filter(F.col("doc_id") % 4 == i).coalesce(1).write.mode(
            "append"
        ).parquet(src)
        time.sleep(1.05)
    clones = corpus.filter(F.col("doc_id") % 4 == 0).select(
        (F.col("doc_id") + max_id + 1).alias("doc_id"),
        "text", "lang", "source", "n_chars",
    )
    clones.coalesce(1).write.mode("append").parquet(src)

    for variant, compact_every in (("plain", None), ("compact", 2)):
        out_dir = os.path.join(tmpdir, f"ce_out_{variant}")
        sha_dir = os.path.join(tmpdir, f"ce_sha_{variant}")
        ckpt = os.path.join(tmpdir, f"ce_ckpt_{variant}")
        stream = (
            spark.readStream.schema(
                "doc_id long, text string, lang string, source string, n_chars long"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = run_curation_ingest(
            stream, bench, out_dir, sha_dir, ckpt,
            available_now=True, compact_every=compact_every,
        )
        q.awaitTermination(300)
        outs[variant] = {
            "docs": {r["doc_id"] for r in spark.read.parquet(out_dir).collect()},
            "parts": len(_list_partition_ids(spark, sha_dir)),
        }
        spark.sql(f"DROP TABLE IF EXISTS {_sha_table_name(sha_dir)}")

    clone_ids = {r["doc_id"] for r in clones.collect()}
    assert outs["compact"]["docs"] == outs["plain"]["docs"], "compaction changed results"
    assert not (outs["compact"]["docs"] & clone_ids), "compacted index admitted a dup"
    # 5 triggers: plain = one partition per batch; compacted stays bounded
    assert outs["plain"]["parts"] == 5
    assert outs["compact"]["parts"] <= 3, outs["compact"]["parts"]


def test_bucketed_index_table_name_collision_is_loud(spark, tmpdir):
    """A catalog HIT alone is not proof the registered table IS this
    index: a table name already bound (say, by another job sharing the
    session) to a different directory or bucket count must fail loudly
    instead of silently reading/writing the WRONG table (the
    _BUCKET_SPEC sidecar only guards the re-registration path; this
    pins the catalog-hit path)."""
    from pulsar_elasticsearch_sync_rs_spark.streaming.curation import (
        _bucketed_table_ready,
    )

    table = "collision_sha_idx"
    path_a = os.path.join(tmpdir, "idx_a")
    path_b = os.path.join(tmpdir, "idx_b")
    ddl = "sha STRING, doc_id BIGINT"
    pairs = spark.createDataFrame([("s1", 1)], "sha string, doc_id long")
    (
        pairs.withColumn("batch", F.lit(0).cast("int"))
        .repartition(4, "sha")
        .write.mode("overwrite")
        .partitionBy("batch")
        .bucketBy(4, "sha")
        .sortBy("sha")
        .option("path", path_a)
        .saveAsTable(table)
    )
    try:
        # matching config: the catalog hit is accepted
        assert _bucketed_table_ready(spark, table, path_a, 4, ddl, "sha")
        # same name, different directory: loud, never the wrong files
        with pytest.raises(ValueError, match="already taken"):
            _bucketed_table_ready(spark, table, path_b, 4, ddl, "sha")
        # same name + directory, drifted bucket count: loud
        with pytest.raises(ValueError, match="already taken"):
            _bucketed_table_ready(spark, table, path_a, 8, ddl, "sha")
        # drifted bucket column: loud
        with pytest.raises(ValueError, match="already taken"):
            _bucketed_table_ready(
                spark, table, path_a, 4, "doc_id BIGINT, sha STRING", "doc_id"
            )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_curation_ingest_near_dup_against_accumulated_bands(
    spark, sf_dir, tmpdir, monkeypatch
):
    """Opt-in MinHash near-dup dedup-on-arrival: within a batch the
    min-id member of a verified near-dup group survives; across
    batches an arriving perturbed copy of an already-ingested doc is
    dropped by the accumulated BAND index + exact-Jaccard verify
    (first-arrival wins). Planted twins are single-token perturbations
    (J >> threshold, different sha - invisible to exact dedup, proven
    by the near-dup-OFF baseline run admitting all of them), counters
    gain the near_duplicate bucket and still tie out, and admitted
    docs land their band slice per batch. The run is repeated with
    ``_HIST_ISIN_MAX = 0``, which sends the history candidate ids down
    the broadcast-semi-join branch instead of the In-filter: it must
    admit and count the same."""
    import time

    from pulsar_elasticsearch_sync_rs_spark.functions.text import (
        quality_score,
        repetition_signals,
    )
    from pulsar_elasticsearch_sync_rs_spark.sources.batch import read_table
    from pulsar_elasticsearch_sync_rs_spark.streaming import curation
    from pulsar_elasticsearch_sync_rs_spark.streaming.curation import (
        run_curation_ingest,
    )

    docs = read_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    max_id = corpus.agg(F.max("doc_id")).first()[0]

    # donor: a long doc that passes the gate with margin (so one-token
    # perturbations still pass) AND has no NATURAL near-dup in the
    # corpus — the synthetic fixture contains genuine templated twins,
    # and a donor with a smaller-id twin would itself be suppressed
    from pulsar_elasticsearch_sync_rs_spark.operators.dedup import (
        dedup_minhash_verified,
    )

    paired = {
        i
        for r in dedup_minhash_verified(corpus, threshold=0.45).collect()
        for i in (r["id_a"], r["id_b"])
    }
    _, dwf, tbf = repetition_signals("text")
    cut = max_id // 2
    donor = (
        corpus.withColumn("q", quality_score("text"))
        .withColumn("dw", dwf)
        .withColumn("tb", tbf)
        .filter(
            (F.col("n_chars") > 300)
            & (F.col("q") >= 0.70)
            & (F.col("dw") <= 0.58)
            & (F.col("tb") <= 0.08)
            & ~F.col("doc_id").isin(sorted(paired))
            # donor must arrive in the FIRST batch: near-dup is
            # first-arrival-wins, so a later-batch donor would lose to
            # its own batch-0 perturbation (by design)
            & (F.col("doc_id") <= cut)
        )
        .orderBy("doc_id")
        .first()
    )
    assert donor is not None, "no comfortable donor in fixture"

    def perturb(text, tag):
        toks = text.split()
        toks[-1] = tag
        return " ".join(toks)

    x1, x2, x3 = max_id + 1, max_id + 2, max_id + 3
    plants01 = spark.createDataFrame(
        [
            (x1, perturb(donor["text"], "zalpha"), donor["lang"], donor["source"], 0),
            (x2, perturb(donor["text"], "zbeta"), donor["lang"], donor["source"], 0),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).withColumn("n_chars", F.length("text"))
    plant2 = spark.createDataFrame(
        [(x3, perturb(donor["text"], "zgamma"), donor["lang"], donor["source"], 0)],
        "doc_id long, text string, lang string, source string, n_chars long",
    ).withColumn("n_chars", F.length("text"))

    parts = [
        corpus.filter(F.col("doc_id") <= cut).unionByName(plants01),
        corpus.filter(F.col("doc_id") > cut).unionByName(plant2),
    ]

    def run(tag, **kw):
        src = os.path.join(tmpdir, f"{tag}_src")
        for p in parts:
            p.coalesce(1).write.mode("append").parquet(src)
            time.sleep(1.05)
        stream = (
            spark.readStream.schema(
                "doc_id long, text string, lang string, source string, n_chars long"
            )
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        out = os.path.join(tmpdir, f"{tag}_out")
        q = run_curation_ingest(
            stream,
            bench,
            out,
            os.path.join(tmpdir, f"{tag}_sha"),
            os.path.join(tmpdir, f"{tag}_ckpt"),
            available_now=True,
            **kw,
        )
        q.awaitTermination(300)
        return {r["doc_id"] for r in spark.read.parquet(out).collect()}

    # baseline: near-dup OFF admits every plant (distinct shas)
    off = run("ndoff")
    assert {x1, x2, x3} <= off, "plants blocked before the near-dup stage"
    assert donor["doc_id"] in off

    keys = (
        "curation_admitted", "curation_gated", "curation_contaminated",
        "curation_duplicate", "curation_near_duplicate",
        "curation_rate_dropped",
    )
    results = []
    for tag, isin_max in (("ndon", curation._HIST_ISIN_MAX), ("ndfb", 0)):
        monkeypatch.setattr(curation, "_HIST_ISIN_MAX", isin_max)
        registry = MetricsRegistry()
        bands_dir = os.path.join(tmpdir, f"{tag}_bands")
        on = run(
            tag,
            near_dup_threshold=0.5,
            bands_dir=bands_dir,
            registry=registry,
        )
        # donor (min id of the within-batch group) survives; both
        # batch-0 perturbations drop within-batch; the batch-1
        # perturbation drops against the ACCUMULATED band index
        assert donor["doc_id"] in on
        assert not ({x1, x2, x3} & on), "planted near-dup admitted"
        assert on <= off
        # every extra drop is near-dup-verified by construction;
        # counters tie out with the new bucket and count at least the
        # three plants
        counts = {k: registry.get(k) for k in keys}
        assert counts["curation_near_duplicate"] >= 3
        assert registry.get("curation_input") == sum(counts.values())
        # band slices: one per batch, admitted ids only (no dropped plant)
        batches = {d for d in os.listdir(bands_dir) if d.startswith("batch=")}
        assert batches == {"batch=0", "batch=1"}, batches
        band_ids = {r["doc_id"] for r in spark.read.parquet(bands_dir).collect()}
        assert donor["doc_id"] in band_ids
        assert not ({x1, x2, x3} & band_ids)
        assert band_ids <= on
        results.append((on, counts))
    assert results[1] == results[0]


def test_curation_ingest_leaves_no_cached_gram_set(spark, sf_dir, tmpdir):
    """The bench gram set every micro-batch probes is stored as files
    under the checkpoint, not as a CacheManager entry: once the query
    ends, an identical gram-set plan finds nothing cached. (A persisted
    set stays cached for the session's life, shared by every identical
    plan, so no query could safely unpersist it.)"""
    from pyspark import StorageLevel

    from pulsar_elasticsearch_sync_rs_spark.operators.decontaminate import (
        bench_gram_set,
    )
    from pulsar_elasticsearch_sync_rs_spark.sources.batch import read_table
    from pulsar_elasticsearch_sync_rs_spark.streaming.curation import (
        run_curation_ingest,
    )

    docs = read_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    src = os.path.join(tmpdir, "src")
    docs.orderBy("doc_id").limit(60).coalesce(1).write.parquet(src)
    stream = spark.readStream.schema(spark.read.parquet(src).schema).parquet(src)
    q = run_curation_ingest(
        stream,
        bench,
        os.path.join(tmpdir, "out"),
        os.path.join(tmpdir, "sha"),
        os.path.join(tmpdir, "ckpt"),
        available_now=True,
    )
    q.awaitTermination(300)
    assert q.exception() is None
    assert bench_gram_set(bench, 5, "text").storageLevel == StorageLevel.NONE


def test_compact_soak_50_batches_bounded_and_flat(spark, sf_dir, tmpdir):
    """Round-10 brief #8: the long-horizon witness for 'compaction
    kills partition listing long before data volume' — 50 micro-batch
    slices with a fold every 5 (retain=1), 10× the e2e's horizon.
    Driven at the INDEX level (_write_sha_slice + compact_sha_index,
    exactly what the compact_every hook runs between batches): the
    foreachBatch plumbing is already pinned by the 5-batch e2e above;
    the horizon claims are the index's. Pins, throughout the run:
    (a) partition count ≤ 1 + retain + compact_every at every step
        (consolidated + the retained slice + up to compact_every new
        slices since the last fold) and exactly {consolidated,
        retained} right after each fold;
    (b) the index (sha, doc_id) SET equals the no-compaction twin's
        (the union of all slices written so far) after every fold;
    (c) wall-per-fold and wall-per-slice-write stay FLAT: median of the
        last 5 ≤ 4× median of the first 5 (the host's documented 3–9×
        burstiness is why this is a median-vs-median bound, and the
        failure mode guarded — cost growing with total batches ever
        folded — is linear, far outside 4×)."""
    import statistics
    import time

    from pulsar_elasticsearch_sync_rs_spark.sources.batch import read_table
    from pulsar_elasticsearch_sync_rs_spark.streaming.curation import (
        _list_partition_ids,
        _sha_table_name,
        _write_sha_slice,
        compact_sha_index,
    )

    docs = read_table(spark, sf_dir, "documents")
    pairs = docs.select(F.sha2(F.col("text"), 256).alias("sha"), F.col("doc_id"))
    sha_dir = os.path.join(tmpdir, "soak_sha")
    table = _sha_table_name(sha_dir)
    compact_every, retain = 5, 1
    bound = 1 + retain + compact_every
    expected: set = set()
    write_walls, fold_walls = [], []
    try:
        for b in range(50):
            sl = pairs.filter(F.col("doc_id") % 50 == b)
            t0 = time.perf_counter()
            _write_sha_slice(sl, table, sha_dir, b, 16)
            write_walls.append(time.perf_counter() - t0)
            expected |= {(r["sha"], r["doc_id"]) for r in sl.collect()}
            parts = _list_partition_ids(spark, sha_dir)
            assert len(parts) <= bound, (
                f"batch {b}: {len(parts)} partitions > bound {bound}"
            )
            if b > 0 and b % compact_every == 0:
                t0 = time.perf_counter()
                rep = compact_sha_index(spark, sha_dir, retain=retain)
                fold_walls.append(time.perf_counter() - t0)
                parts = _list_partition_ids(spark, sha_dir)
                assert sorted(parts) == [rep["slot"], b], sorted(parts)
                got = _sha_index_rows(spark, table)
                assert got == expected, (
                    f"fold at batch {b} changed the index set "
                    f"(+{len(got - expected)}/-{len(expected - got)})"
                )
        assert len(fold_walls) == 9
        # flatness: medians, 4x headroom (see docstring)
        for name, walls in (("write", write_walls), ("fold", fold_walls)):
            head = statistics.median(walls[:5])
            tail = statistics.median(walls[-5:])
            assert tail <= 4 * head, (
                f"{name} wall grew: median first5={head:.3f}s last5={tail:.3f}s "
                f"(all: {[round(w, 2) for w in walls]})"
            )
    finally:
        spark.sql(f"DROP TABLE IF EXISTS {table}")


def test_curation_ingest_fuzzy_decontamination_matches_batch(spark, sf_dir, tmpdir):
    """Round-10 composition: run_curation_ingest(contamination_max_frac=τ)
    applies the CONTAINMENT rule inside the streaming topology and must
    reproduce the batch contamination_fraction decision exactly. The
    fixture plants both flavors: a near-copy of a bench doc (containment
    1.0 → dropped by BOTH rules) and a one-shared-phrase doc
    (containment < τ → dropped by the any-hit rule but KEPT by the
    fuzzy rule — the discriminating witness)."""
    import time

    from pulsar_elasticsearch_sync_rs_spark.functions.text import (
        quality_score,
        repetition_signals,
    )
    from pulsar_elasticsearch_sync_rs_spark.operators.decontaminate import (
        contamination_fraction,
    )
    from pulsar_elasticsearch_sync_rs_spark.sources.batch import read_table
    from pulsar_elasticsearch_sync_rs_spark.streaming.curation import (
        run_curation_ingest,
    )

    docs = read_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus0 = docs.filter(F.col("doc_id") % 97 != 0)
    max_id = docs.agg(F.max("doc_id")).first()[0]
    bench_text = bench.orderBy("doc_id").first()["text"]
    one_phrase = " ".join(bench_text.split()[:5])
    # planted docs: near-copy (first 60 bench tokens + a stopword-rich
    # fresh tail — the synthetic corpus is stopword-poor and the gate's
    # stopword term would otherwise reject the plant) and a long
    # stopword-rich doc quoting ONE 5-token bench phrase
    near_copy = (
        " ".join(bench_text.split()[:60]) + " the of and in to a zq1 zq2"
    )
    quoter = (
        "the quick brown fox and the lazy dog ran in a warm field of "
        "tall grass to see " + one_phrase + " while many other words "
        "follow here and more filler text runs along the page until "
        "all of it is done for now"
    )
    planted = spark.createDataFrame(
        [
            (max_id + 10, near_copy, "en", "plant", len(near_copy)),
            (max_id + 11, quoter, "en", "plant", len(quoter)),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    corpus = corpus0.unionByName(planted)
    # preflight: both plants must survive the GATE (else the witness is
    # vacuous) and sit on opposite sides of the containment threshold
    _, dwf, tbf = repetition_signals("text")
    gate_ok = planted.filter(
        (quality_score("text") >= 0.65) & (dwf <= 0.6) & (tbf <= 0.1)
    )
    assert gate_ok.count() == 2, "planted docs must pass the gate"
    fr = {
        r["doc_id"]: r["frac"]
        for r in contamination_fraction(planted, bench, n=5, threshold=0.0).collect()
    }
    assert fr[max_id + 10] >= 0.5 and 0 < fr.get(max_id + 11, 0) < 0.5, fr

    # expected = batch prefix with the FUZZY rule
    gated = corpus.filter(
        (quality_score("text") >= 0.65) & (dwf <= 0.6) & (tbf <= 0.1)
    )
    flagged = contamination_fraction(gated, bench, n=5, threshold=0.5).select(
        "doc_id"
    )
    clean = gated.join(flagged, "doc_id", "left_anti")
    surv = (
        clean.select(F.sha2("text", 256).alias("sha"), "doc_id")
        .groupBy("sha").agg(F.min("doc_id").alias("doc_id")).select("doc_id")
    )
    want = {
        r["doc_id"]
        for r in clean.join(surv, "doc_id", "left_semi").collect()
    }
    assert (max_id + 11) in want and (max_id + 10) not in want

    src_dir = os.path.join(tmpdir, "fz_src")
    for pred in (F.col("doc_id") <= max_id // 2, F.col("doc_id") > max_id // 2):
        corpus.filter(pred).coalesce(1).write.mode("append").parquet(src_dir)
        time.sleep(1.1)
    stream = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string, n_chars long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    out_dir = os.path.join(tmpdir, "fz_out")
    q = run_curation_ingest(
        stream,
        bench,
        out_dir,
        os.path.join(tmpdir, "fz_sha"),
        os.path.join(tmpdir, "fz_ckpt"),
        available_now=True,
        contamination_max_frac=0.5,
    )
    q.awaitTermination(300)
    got = {r["doc_id"] for r in spark.read.parquet(out_dir).collect()}
    assert got == want, (
        f"+{sorted(got - want)[:5]} -{sorted(want - got)[:5]}"
    )


def test_curation_ingest_learned_gate_matches_batch(spark, sf_dir, tmpdir):
    """Round-10 composition #2: the LEARNED gate — a distributed-IRLS
    logistic model (operators/lr) distilling the rule gate, applied in
    the streaming topology as a pure-JVM predicate
    (run_curation_ingest(gate_pred=lr_score_expr(...) ≥ p)). The stream
    must reproduce the batch twin's survivor set exactly (same model
    literals, same threshold — the decision is deterministic even
    though the FIT is summation-order-wiggly, because both sides use
    the SAME fitted weights)."""
    import time

    from pulsar_elasticsearch_sync_rs_spark.functions.text import (
        punct_ratio,
        quality_score,
        stopword_ratio,
        token_count_ws,
    )
    from pulsar_elasticsearch_sync_rs_spark.operators.decontaminate import (
        decontaminate,
    )
    from pulsar_elasticsearch_sync_rs_spark.operators.lr import (
        lr_fit,
        lr_score_expr,
    )
    from pulsar_elasticsearch_sync_rs_spark.sources.batch import read_table
    from pulsar_elasticsearch_sync_rs_spark.streaming.curation import (
        run_curation_ingest,
    )

    docs = read_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    max_id = corpus.agg(F.max("doc_id")).first()[0]

    # fit ONCE on the corpus (weak label = the rule gate's quality term)
    feats = corpus.select(
        "doc_id",
        token_count_ws("text").cast("double").alias("f_ntok"),
        punct_ratio("text").alias("f_punct"),
        stopword_ratio("text").alias("f_stop"),
        (quality_score("text") >= 0.65).cast("int").alias("label"),
    ).localCheckpoint(eager=False)
    model = lr_fit(feats, ["f_ntok", "f_punct", "f_stop"], "label", iters=5)
    gate = (
        lr_score_expr(
            model,
            [token_count_ws("text").cast("double"), punct_ratio("text"),
             stopword_ratio("text")],
        )
        >= 0.6
    )

    # batch twin with the SAME predicate
    gated = corpus.filter(gate)
    clean = decontaminate(gated, bench, n=5)
    surv = (
        clean.select(F.sha2("text", 256).alias("sha"), "doc_id")
        .groupBy("sha").agg(F.min("doc_id").alias("doc_id")).select("doc_id")
    )
    want = {
        r["doc_id"] for r in clean.join(surv, "doc_id", "left_semi").collect()
    }
    assert want, "learned gate must keep a non-empty survivor set"
    # and the learned gate must actually DIFFER from trivial accept-all
    assert len(want) < corpus.count()

    src_dir = os.path.join(tmpdir, "lg_src")
    for pred in (F.col("doc_id") <= max_id // 2, F.col("doc_id") > max_id // 2):
        corpus.filter(pred).coalesce(1).write.mode("append").parquet(src_dir)
        time.sleep(1.1)
    stream = (
        spark.readStream.schema(
            "doc_id long, text string, lang string, source string, n_chars long"
        )
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    out_dir = os.path.join(tmpdir, "lg_out")
    q = run_curation_ingest(
        stream,
        bench,
        out_dir,
        os.path.join(tmpdir, "lg_sha"),
        os.path.join(tmpdir, "lg_ckpt"),
        available_now=True,
        gate_pred=gate,
    )
    q.awaitTermination(300)
    got = {r["doc_id"] for r in spark.read.parquet(out_dir).collect()}
    assert got == want, f"+{sorted(got - want)[:5]} -{sorted(want - got)[:5]}"


def test_sessionize_state_eviction_plateau(spark, tmpdir):
    """Round-11 brief #7: the bench's short sessionize run never closes
    a session (state_rows_max ≈ #sessions, rows_dropped 0) — eviction
    was untested at steady state. Drive 12 micro-batches whose event
    time advances one hour per batch (gap 2 min, watermark 1 min): the
    watermark sweeps past each batch's sessions as later batches
    arrive, so state must PLATEAU at O(concurrently-open sessions) —
    not grow O(batches) — with evictions (numRowsRemoved) actually
    witnessed and every closed session emitted exactly once with its
    full event count."""
    import datetime as dt

    from pulsar_elasticsearch_sync_rs_spark.streaming.sessions import (
        sessionize_stream,
    )

    src_dir = os.path.join(tmpdir, "sess_soak_src")
    os.makedirs(src_dir)
    U, B = 200, 12
    t0 = dt.datetime(2024, 1, 1)
    for b in range(B):
        rows = []
        base = t0 + dt.timedelta(hours=b)
        for u in range(U):
            for j in range(3):  # 3 events within the 2-min gap
                rows.append((u, base + dt.timedelta(seconds=u % 60 + 10 * j)))
        (
            spark.createDataFrame(rows, "user_id long, ts timestamp")
            .coalesce(1)
            .write.mode("append")
            .parquet(src_dir)
        )
    stream = (
        spark.readStream.schema("user_id long, ts timestamp")
        .option("maxFilesPerTrigger", 1)
        .parquet(src_dir)
    )
    out_dir = os.path.join(tmpdir, "sess_soak_out")
    q = (
        sessionize_stream(stream, gap="2 minutes", watermark_delay="1 minute")
        .writeStream.outputMode("append")
        .option("checkpointLocation", os.path.join(tmpdir, "sess_soak_ckpt"))
        .trigger(availableNow=True)
        .format("parquet")
        .option("path", out_dir)
        .start()
    )
    q.awaitTermination(300)
    state_rows = []
    removed = 0
    for p in q.recentProgress:
        for so in p.get("stateOperators") or []:
            state_rows.append(so["numRowsTotal"])
            removed += so.get("numRowsRemoved", 0)
    assert state_rows, "no state-operator progress captured"
    # PLATEAU: the ceiling is O(open sessions) — at most the current
    # batch's U sessions plus the previous batch's not-yet-swept U —
    # and categorically not O(B·U) (= 2400 here, the no-eviction shape
    # the bench's short run cannot distinguish)
    assert max(state_rows) <= 2 * U + 50, (
        f"state ceiling {max(state_rows)} suggests eviction is not "
        f"happening (cumulative would be {B * U})"
    )
    assert removed >= (B - 2) * U, f"only {removed} state rows evicted"
    # every swept session emitted exactly once, with all 3 events
    got = spark.read.parquet(out_dir)
    n_out = got.count()
    assert n_out >= (B - 2) * U, f"only {n_out} sessions emitted"
    assert got.filter("n_events != 3").count() == 0
    assert got.groupBy("user_id", "session_start").count().filter(
        "count > 1"
    ).count() == 0


def test_streaming_cdc_ingest_out_of_order_and_replay(spark, tmpdir):
    """streaming/cdc_ingest.run_cdc_ingest: a CDC stream merged into
    the partitioned SCD2 snapshot per micro-batch with splice
    semantics. Pins (1) stream ≡ one-shot ordered batch apply even when
    batches ARRIVE out of chronological order (including a D-before-I
    orphan whose insert comes in a later trigger), (2) replaying the
    whole stream against a FRESH checkpoint leaves the snapshot
    byte-identical (splice idempotency — the foreachBatch exactly-once
    story), and (3) only-splice is accepted."""
    import datetime as dt
    from collections import Counter

    from pulsar_elasticsearch_sync_rs_spark.operators.cdc import (
        persist_scd2_partitioned,
        scd2_apply,
    )
    from pulsar_elasticsearch_sync_rs_spark.streaming.cdc_ingest import (
        run_cdc_ingest,
    )

    T0 = dt.datetime(2020, 1, 1)
    T1 = dt.datetime(2021, 1, 1)
    T2 = dt.datetime(2022, 1, 1)
    T3 = dt.datetime(2023, 1, 1)
    base = spark.createDataFrame(
        [(k, 10.0 * k, T0, None, True) for k in (1, 2, 3, 4)],
        "k long, v double, valid_from timestamp, valid_to timestamp, is_current boolean",
    )
    base_dir = os.path.join(tmpdir, "scd2")
    persist_scd2_partitioned(base, base_dir, key="k", n_parts=4)

    # arrival order != ts order: the LATER events land first, and key
    # 9's delete (T3) arrives one trigger before its insert (T1)
    batches = [
        [(1, 12.0, "U", T2), (9, 0.0, "D", T3)],
        [(1, 11.5, "U", T1), (9, 90.0, "I", T1)],
        [(2, 0.0, "D", T2)],
    ]
    src_dir = os.path.join(tmpdir, "cdc_src")
    for i, rows in enumerate(batches):
        (
            spark.createDataFrame(rows, "k long, v double, op string, ts timestamp")
            .coalesce(1)
            .write.mode("append" if i else "overwrite")
            .parquet(src_dir)
        )

    def start(ckpt):
        stream = (
            spark.readStream.schema("k long, v double, op string, ts timestamp")
            .option("maxFilesPerTrigger", 1)
            .parquet(src_dir)
        )
        q = run_cdc_ingest(
            stream,
            base_dir,
            ckpt,
            key="k",
            attrs=["v"],
            n_parts=4,
            available_now=True,
        )
        q.awaitTermination(120)
        return q

    start(os.path.join(tmpdir, "ckpt1"))

    def snap():
        return Counter(
            (r.k, r.v, r.valid_from, r.valid_to, r.is_current)
            for r in spark.read.parquet(base_dir)
            .select("k", "v", "valid_from", "valid_to", "is_current")
            .collect()
        )

    got = snap()
    ordered = spark.createDataFrame(
        sorted(sum(batches, []), key=lambda r: r[3]),
        "k long, v double, op string, ts timestamp",
    )
    want = Counter(
        (r.k, r.v, r.valid_from, r.valid_to, r.is_current)
        for r in scd2_apply(base, ordered, key="k", attrs=["v"]).collect()
    )
    assert got == want
    # the out-of-order pair resolved chronologically: 9 = [T1, T3)
    assert (9, 90.0, T1, T3, False) in got

    # replay: fresh checkpoint re-processes every file; splice
    # idempotency must leave the snapshot unchanged
    start(os.path.join(tmpdir, "ckpt2"))
    assert snap() == got

    # only splice is replay-safe under foreachBatch
    with pytest.raises(ValueError, match="splice"):
        run_cdc_ingest(
            spark.readStream.schema("k long, v double, op string, ts timestamp").parquet(src_dir),
            base_dir,
            os.path.join(tmpdir, "ckpt3"),
            key="k",
            attrs=["v"],
            on_late="error",
        )


def test_streaming_cdc_tombstone_backlog_census_and_ceiling(spark, tmpdir):
    """Round-12 VERDICT item 5: splice persists zero-length orphan
    tombstones until the matching insert arrives — under a buggy
    upstream they accumulate WITHOUT BOUND and nothing surfaced it.
    Pins: (a) CdcIngestStats reports the at-rest backlog after a
    D-only soak, (b) the census DRAINS to zero when the inserts land
    in a later run, (c) max_orphan_tombstones is an enforced ceiling —
    the query fails loudly (pq.py max_pending pattern), and the
    already-applied batches stay durable/replay-safe."""
    import datetime as dt

    from pulsar_elasticsearch_sync_rs_spark.operators.cdc import (
        persist_scd2_partitioned,
    )
    from pulsar_elasticsearch_sync_rs_spark.streaming.cdc_ingest import (
        CdcIngestStats,
        run_cdc_ingest,
    )

    T0 = dt.datetime(2020, 1, 1)
    T1 = dt.datetime(2021, 1, 1)
    T2 = dt.datetime(2022, 1, 1)
    base = spark.createDataFrame(
        [(k, 10.0 * k, T0, None, True) for k in (1, 2)],
        "k long, v double, valid_from timestamp, valid_to timestamp, is_current boolean",
    )
    base_dir = os.path.join(tmpdir, "scd2")
    persist_scd2_partitioned(base, base_dir, key="k", n_parts=4)

    schema = "k long, v double, op string, ts timestamp"

    def run(src, ckpt, stats, **kw):
        stream = (
            spark.readStream.schema(schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(src)
        )
        q = run_cdc_ingest(
            stream,
            base_dir,
            ckpt,
            key="k",
            attrs=["v"],
            n_parts=4,
            available_now=True,
            stats=stats,
            **kw,
        )
        q.awaitTermination(120)
        return q

    # soak 1: five deletes whose inserts never arrive
    d_src = os.path.join(tmpdir, "d_only")
    (
        spark.createDataFrame(
            [(100 + i, 0.0, "D", T1) for i in range(5)], schema
        )
        .coalesce(1)
        .write.parquet(d_src)
    )
    s1 = CdcIngestStats()
    run(d_src, os.path.join(tmpdir, "ck1"), s1)
    assert s1.orphan_tombstones == 5 and s1.batches_applied == 1
    # and the census matches what is actually at rest
    at_rest = (
        spark.read.parquet(base_dir)
        .filter("valid_to is not null and valid_to = valid_from")
        .count()
    )
    assert at_rest == 5

    # soak 2: the inserts land — backlog drains to 0 and the pairs
    # rebuild chronologically
    i_src = os.path.join(tmpdir, "i_late")
    (
        spark.createDataFrame(
            [(100 + i, 1.0 * i, "I", T0) for i in range(5)], schema
        )
        .coalesce(1)
        .write.parquet(i_src)
    )
    s2 = CdcIngestStats()
    run(i_src, os.path.join(tmpdir, "ck2"), s2)
    assert s2.orphan_tombstones == 0
    rebuilt = spark.read.parquet(base_dir).filter("k >= 100")
    assert rebuilt.filter("valid_to = valid_from").count() == 0
    assert rebuilt.count() == 5  # one closed [T0, T1) version each

    # ceiling: a fresh orphan burst past max fails the query loudly
    d2_src = os.path.join(tmpdir, "d_burst")
    (
        spark.createDataFrame(
            [(200 + i, 0.0, "D", T2) for i in range(4)], schema
        )
        .coalesce(1)
        .write.parquet(d2_src)
    )
    s3 = CdcIngestStats()
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(d2_src)
    )
    q = run_cdc_ingest(
        stream,
        base_dir,
        os.path.join(tmpdir, "ck3"),
        key="k",
        attrs=["v"],
        n_parts=4,
        available_now=True,
        stats=s3,
        max_orphan_tombstones=2,
    )
    with pytest.raises(Exception, match="max_orphan_tombstones"):
        q.awaitTermination(120)
        if q.exception() is not None:
            raise q.exception()
    # the batch that tripped the ceiling is still durably applied
    # (splice is idempotent — a post-fix restart resumes cleanly)
    assert s3.orphan_tombstones == 4 and s3.last_batch_growth == 4

    # restart lifecycle (round-13 review: the ceiling must fire on
    # GROWTH, not on the at-rest total — an at-rest trigger would
    # poison checkpoint replay forever): the upstream is 'fixed' (the
    # late inserts land as a new source file), the stream restarts on
    # the SAME checkpoint with the SAME ceiling. The replayed D batch
    # re-merges idempotently (mints nothing → passes), the insert
    # batch drains the backlog, and the query completes cleanly.
    (
        spark.createDataFrame(
            [(200 + i, 2.0 * i, "I", T1) for i in range(4)], schema
        )
        .coalesce(1)
        .write.mode("append")
        .parquet(d2_src)
    )
    s4 = CdcIngestStats()
    run(
        d2_src,
        os.path.join(tmpdir, "ck3"),  # same checkpoint — replay path
        s4,
        max_orphan_tombstones=2,
    )
    assert s4.orphan_tombstones == 0
    fixed = spark.read.parquet(base_dir).filter("k >= 200")
    assert fixed.filter("valid_to = valid_from").count() == 0
    assert fixed.count() == 4  # one closed [T1, T2) version each


def test_cdc_census_growth_is_per_bucket_positive_deltas():
    """Round-13 ADVICE: a batch that drains N tombstones in bucket A
    while minting N fresh D-before-I orphans in bucket B must report
    growth N, not a netted 0 — the ceiling exists to catch NEW orphan
    creation regardless of concurrent drainage elsewhere."""
    from pulsar_elasticsearch_sync_rs_spark.streaming.cdc_ingest import (
        CdcIngestStats,
    )

    s = CdcIngestStats()
    # seed: bucket 0 holds 3 orphans, bucket 1 holds 0
    s._absorb({0: 3, 1: 0}, {0: 0, 1: 0})
    assert s.last_batch_growth == 3 and s.orphan_tombstones == 3
    # drain 3 in bucket 0, mint 3 in bucket 1: net 0 across buckets,
    # but the ceiling signal must see the 3 NEW orphans
    s._absorb({0: 0, 1: 3}, {0: 3, 1: 0})
    assert s.last_batch_growth == 3
    assert s.orphan_tombstones == 3
    # pure drainage reports zero growth (replay-safe: ceiling silent)
    s._absorb({1: 0}, {1: 3})
    assert s.last_batch_growth == 0 and s.orphan_tombstones == 0
    # a bucket absent from pre (first touch) counts fully as growth
    s._absorb({2: 2}, {})
    assert s.last_batch_growth == 2 and s.orphan_tombstones == 2


def test_pulsar_connector_columns_run_through_the_runner(spark, tmpdir):
    """S1: a stream carrying the pulsar-spark connector's columns
    (``value`` bytes, ``__topic``, ``__publishTime``, ``__messageId``
    bytes), projected by ``pulsar_records`` as ``read_pulsar_stream``
    does, runs through the whole runner. The hex message id is the
    rate limiter's tiebreaker: of three same-timestamp messages under a
    2/s cap, the two lowest ids ("0100" and "02") are kept whatever
    their arrival order; an unconfigured app passes."""
    import datetime
    import json

    from pulsar_elasticsearch_sync_rs_spark.streaming.runner import pulsar_records

    src_dir = os.path.join(tmpdir, "src")
    t0 = datetime.datetime(2024, 1, 1, tzinfo=datetime.timezone.utc)
    topic = "persistent://public/default/orders-partition-1"
    msgs = [
        ({"app": "a1", "k": 0}, t0, b"\x0a"),
        ({"app": "a1", "k": 1}, t0, b"\x02"),
        ({"app": "a1", "k": 2}, t0, b"\x01\x00"),
        ({"app": "a2", "k": 3}, t0, b"\x03"),
        ({"app": "a1", "k": 4}, t0 + datetime.timedelta(seconds=1), b"\x09"),
    ]
    schema = "value binary, __topic string, __publishTime timestamp, __messageId binary"
    spark.createDataFrame(
        [(bytearray(json.dumps(p).encode()), topic, ts, bytearray(mid)) for p, ts, mid in msgs],
        schema,
    ).coalesce(1).write.parquet(src_dir)
    out_dir = os.path.join(tmpdir, "out")
    source = pulsar_records(spark.readStream.schema(schema).parquet(src_dir))
    registry = MetricsRegistry()
    q = run_pipeline_stream(
        spark, PipelineConfig(rate_limits={"a1": 2}), source, ParquetBulkTransport(out_dir),
        os.path.join(tmpdir, "ckpt"), available_now=True, registry=registry,
    )
    q.awaitTermination(120)
    assert q.exception() is None
    got = {
        r["event_id"]: (r["index"], r["doc"]["k"])
        for r in spark.read.parquet(out_dir).collect()
    }
    assert got == {
        "0100": ("orders-2024.01.01", "2"),
        "02": ("orders-2024.01.01", "1"),
        "03": ("orders-2024.01.01", "3"),
        "09": ("orders-2024.01.01", "4"),
    }
    assert registry.get("pulsar_received_messages", topic="orders-partition-1") == 5
