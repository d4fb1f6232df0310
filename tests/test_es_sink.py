"""K1 — EsBulkTransport exercised against an in-process HTTP server
that captures ``_bulk`` requests (no real Elasticsearch in this
environment; the transport's NDJSON protocol + chunking is what's
under test)."""

from __future__ import annotations

import json
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from pulsar_elasticsearch_sync_rs_spark.streaming.sink import EsBulkTransport

captured: list[bytes] = []


class _BulkCapture(BaseHTTPRequestHandler):
    def do_POST(self):  # noqa: N802
        n = int(self.headers.get("Content-Length", 0))
        captured.append(self.rfile.read(n))
        body = b'{"took": 1, "errors": false, "items": []}'
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *args):
        pass


class _BulkReject(BaseHTTPRequestHandler):
    """Accepts every doc except ones whose target index contains
    'reject' — those come back as per-item mapper failures inside an
    HTTP 200 (the partial-failure shape the reference accounts for,
    reference src/es.rs:155-188)."""

    def do_POST(self):  # noqa: N802
        n = int(self.headers.get("Content-Length", 0))
        payload = self.rfile.read(n)
        captured.append(payload)
        actions = [
            json.loads(line)
            for line in payload.decode().strip().split("\n")[::2]  # action lines
        ]
        items = []
        any_err = False
        for a in actions:
            idx = a["index"]["_index"]
            if "reject" in idx:
                any_err = True
                items.append(
                    {"index": {"_index": idx, "status": 400,
                               "error": {"type": "mapper_parsing_exception"}}}
                )
            else:
                items.append({"index": {"_index": idx, "status": 201}})
        body = json.dumps({"took": 1, "errors": any_err, "items": items}).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *args):
        pass


def test_es_bulk_transport(spark):
    captured.clear()
    server = ThreadingHTTPServer(("127.0.0.1", 0), _BulkCapture)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    try:
        url = f"http://127.0.0.1:{server.server_address[1]}"
        rows = [
            Row(index="app-2024.01.01", doc={"msg": "a"}),
            Row(index="app-2024.01.01", doc={"msg": "b"}),
            Row(index="web-2024.01.02", doc={"msg": "c"}),
        ]
        df = spark.createDataFrame(rows).coalesce(1)
        EsBulkTransport(es_url=url, buffer_size=2).write(df, batch_id=0)

        assert captured, "no bulk request received"
        lines = [
            json.loads(line)
            for payload in captured
            for line in payload.decode().strip().split("\n")
        ]
        actions = [l for l in lines if "index" in l and "_index" in l.get("index", {})]
        docs = [l for l in lines if "msg" in l]
        assert len(actions) == 3 and len(docs) == 3
        assert {a["index"]["_index"] for a in actions} == {
            "app-2024.01.01",
            "web-2024.01.02",
        }
        assert all("_id" not in a["index"] for a in actions)  # auto-id parity
        # buffer_size=2 → first request carries 2 docs, second carries 1
        assert len(captured) == 2
    finally:
        server.shutdown()
        server.server_close()


def test_es_bulk_deterministic_id(spark):
    """Opt-in deterministic _id: actions carry _id so a retried
    micro-batch overwrites instead of duplicating (effectively-once);
    default stays id-less (reference auto-id parity, src/es.rs:364)."""
    captured.clear()
    server = ThreadingHTTPServer(("127.0.0.1", 0), _BulkCapture)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    try:
        url = f"http://127.0.0.1:{server.server_address[1]}"
        rows = [
            Row(index="app-2024.01.01", rid="r1", doc={"msg": "a"}),
            Row(index="app-2024.01.01", rid="r2", doc={"msg": "b"}),
        ]
        df = spark.createDataFrame(rows).coalesce(1)
        EsBulkTransport(es_url=url, buffer_size=10, id_col="rid").write(df, batch_id=0)
        actions = [
            json.loads(line)
            for payload in captured
            for line in payload.decode().strip().split("\n")[::2]
        ]
        assert {a["index"]["_id"] for a in actions} == {"r1", "r2"}
    finally:
        server.shutdown()
        server.server_close()


def test_es_bulk_error_accounting(spark):
    """K1 parity: a partially-failed _bulk (HTTP 200 + errors:true)
    must split es_write_success / es_write_failure per index in the
    registry, and strict mode must raise (foreachBatch retry path)."""
    import pytest

    from pulsar_elasticsearch_sync_rs_spark.streaming.metrics import MetricsRegistry

    captured.clear()
    server = ThreadingHTTPServer(("127.0.0.1", 0), _BulkReject)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    try:
        url = f"http://127.0.0.1:{server.server_address[1]}"
        rows = [
            Row(index="app-2024.01.01", doc={"msg": "a"}),
            Row(index="reject-2024.01.01", doc={"msg": "bad1"}),
            Row(index="app-2024.01.01", doc={"msg": "b"}),
            Row(index="reject-2024.01.01", doc={"msg": "bad2"}),
            Row(index="web-2024.01.02", doc={"msg": "c"}),
        ]
        df = spark.createDataFrame(rows).coalesce(2)
        registry = MetricsRegistry()
        transport = EsBulkTransport(es_url=url, buffer_size=2, registry=registry)
        transport.write(df, batch_id=7)

        assert registry.get("es_write_success", index="app-2024.01.01") == 2
        assert registry.get("es_write_success", index="web-2024.01.02") == 1
        assert registry.get("es_write_failure", index="reject-2024.01.01") == 2
        assert registry.get("es_write_failure", index="app-2024.01.01") == 0
        assert transport.last_stats["reject-2024.01.01"] == [0, 2]

        strict = EsBulkTransport(es_url=url, buffer_size=2, strict=True)
        with pytest.raises(RuntimeError, match="rejected"):
            strict.write(df, batch_id=8)
    finally:
        server.shutdown()
        server.server_close()


class _FlakyBulk(BaseHTTPRequestHandler):
    """Fails the FIRST bulk request (HTTP 200 + per-item 503s — the
    transient-overload shape), accepts everything after. Successful
    actions land in ``es_state`` keyed by _id, modeling ES index
    semantics: same _id ⇒ overwrite, not duplicate."""

    fail_first = [True]  # shared mutable flag
    es_state: dict = {}

    def do_POST(self):  # noqa: N802
        n = int(self.headers.get("Content-Length", 0))
        payload = self.rfile.read(n)
        captured.append(payload)
        lines = payload.decode().strip().split("\n")
        actions = [json.loads(l) for l in lines[::2]]
        docs = lines[1::2]
        if self.fail_first[0]:
            self.fail_first[0] = False
            items = [
                {"index": {"_index": a["index"]["_index"], "status": 503,
                           "error": {"type": "es_rejected_execution_exception"}}}
                for a in actions
            ]
            body = json.dumps({"took": 1, "errors": True, "items": items}).encode()
        else:
            items = []
            for a, d in zip(actions, docs):
                self.es_state[a["index"]["_id"]] = d
                items.append({"index": {"_index": a["index"]["_index"], "status": 201}})
            body = json.dumps({"took": 1, "errors": False, "items": items}).encode()
        self.send_response(200)
        self.send_header("Content-Type", "application/json")
        self.send_header("Content-Length", str(len(body)))
        self.end_headers()
        self.wfile.write(body)

    def log_message(self, *args):
        pass


def test_es_sink_crash_replay_effectively_once(spark, tmpdir):
    """The effectively-once claim, end-to-end: a checkpointed streaming
    query whose first micro-batch attempt is rejected by ES (strict
    mode raises → the query DIES mid-batch, registry untouched), then a
    RESTART from the same checkpoint replays the same batch_id. Pinned:
    (1) zero duplicate docs — deterministic _id means the replay
    overwrites, the modeled index holds exactly one doc per row;
    (2) no counter inflation — es_write_success counts each doc exactly
    once because the strict raise happens BEFORE the registry fold."""
    import os

    import pytest
    from pyspark.sql import functions as F
    from pyspark.sql.utils import StreamingQueryException

    from pulsar_elasticsearch_sync_rs_spark.streaming.metrics import MetricsRegistry

    captured.clear()
    _FlakyBulk.fail_first[0] = True
    _FlakyBulk.es_state = {}
    server = ThreadingHTTPServer(("127.0.0.1", 0), _FlakyBulk)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    try:
        url = f"http://127.0.0.1:{server.server_address[1]}"
        src_dir = os.path.join(tmpdir, "src")
        rows = [Row(rid=f"r{i}", index="app-2024.01.01", msg=f"m{i}") for i in range(20)]
        spark.createDataFrame(rows).coalesce(1).write.parquet(src_dir)

        registry = MetricsRegistry()
        transport_kwargs = dict(
            es_url=url, buffer_size=1000, strict=True, id_col="rid", registry=registry
        )
        from pulsar_elasticsearch_sync_rs_spark.streaming.sink import EsBulkTransport

        transport = EsBulkTransport(**transport_kwargs)
        ckpt = os.path.join(tmpdir, "ckpt_es")

        def run():
            stream = (
                spark.readStream.schema("rid string, index string, msg string")
                .parquet(src_dir)
                .withColumn("doc", F.struct(F.col("msg")))
                .select("rid", "index", "doc")
                .coalesce(1)
            )
            return (
                stream.writeStream.foreachBatch(transport.write)
                .option("checkpointLocation", ckpt)
                .trigger(availableNow=True)
                .start()
            )

        # attempt 1: ES rejects → strict raise kills the query mid-batch
        q = run()
        with pytest.raises(StreamingQueryException, match="rejected"):
            q.awaitTermination()
        assert registry.get("es_write_success", index="app-2024.01.01") == 0, (
            "counters must not fold for a failed attempt"
        )
        assert not _FlakyBulk.es_state, "rejected attempt must index nothing"

        # restart: same checkpoint replays the SAME batch_id; server now accepts
        q = run()
        q.awaitTermination()

        # zero duplicates: one doc per source row, ids exactly r0..r19
        assert set(_FlakyBulk.es_state) == {f"r{i}" for i in range(20)}
        # the replay carried the same deterministic _ids as the failed
        # attempt — byte-identical action streams across both attempts
        first, second = captured[0], captured[-1]
        ids = lambda p: [json.loads(l)["index"]["_id"] for l in p.decode().strip().split("\n")[::2]]
        assert ids(first) == ids(second)
        # no inflation: each doc counted exactly once across both attempts
        assert registry.get("es_write_success", index="app-2024.01.01") == 20
        assert registry.get("es_write_failure", index="app-2024.01.01") == 0
    finally:
        server.shutdown()
        server.server_close()


def _bulk_actions(payload: bytes) -> int:
    return payload.count(b"\n") // 2


def test_es_bulk_chunks_on_the_driver_in_row_order(spark):
    """The driver cuts the collected micro-batch into ``buffer_size``
    bodies whatever its partitioning: 500 docs in 25 partitions reach
    ES as ONE request at buffer_size=1000 (a per-partition sender would
    send 25), as 200/200/100 actions at buffer_size=200, in row order.
    An empty batch sends nothing and leaves no registry entry."""
    from pyspark.sql import functions as F

    from pulsar_elasticsearch_sync_rs_spark.streaming.metrics import MetricsRegistry

    captured.clear()
    server = ThreadingHTTPServer(("127.0.0.1", 0), _BulkCapture)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    try:
        url = f"http://127.0.0.1:{server.server_address[1]}"
        df = spark.range(500, numPartitions=25).select(
            F.concat(F.lit("app-"), (F.col("id") % 3).cast("string")).alias("index"),
            F.struct(F.col("id").alias("n")).alias("doc"),
        )
        assert df.rdd.getNumPartitions() == 25

        registry = MetricsRegistry()
        EsBulkTransport(es_url=url, buffer_size=1000, registry=registry).write(df, 0)
        assert [_bulk_actions(p) for p in captured] == [500]
        assert sum(
            registry.get("es_write_success", index=f"app-{k}") for k in range(3)
        ) == 500

        captured.clear()
        EsBulkTransport(es_url=url, buffer_size=200).write(df, 1)
        assert [_bulk_actions(p) for p in captured] == [200, 200, 100]
        docs = [
            json.loads(line)["n"]
            for payload in captured
            for line in payload.decode().strip().split("\n")[1::2]
        ]
        assert docs == list(range(500))

        captured.clear()
        registry = MetricsRegistry()
        empty = EsBulkTransport(es_url=url, buffer_size=200, registry=registry)
        empty.write(df.filter(F.lit(False)), 2)
        assert captured == []
        assert empty.last_stats == {}
        assert registry.render_prometheus(include_process=False).strip() == ""
    finally:
        server.shutdown()
        server.server_close()


def test_strict_replay_folds_labeled_counters_once(spark, tmpdir):
    """The runner's labeled consumed counters fold only after the sink
    delivered the batch: a strict transport whose first attempt ES
    rejects kills the query with the registry untouched, and the
    restart's replay counts every row exactly once."""
    import os

    import pytest
    from pyspark.sql.utils import StreamingQueryException

    from pulsar_elasticsearch_sync_rs_spark.config import PipelineConfig
    from pulsar_elasticsearch_sync_rs_spark.streaming.metrics import MetricsRegistry
    from pulsar_elasticsearch_sync_rs_spark.streaming.runner import (
        read_events_stream,
        run_pipeline_stream,
    )

    captured.clear()
    _FlakyBulk.fail_first[0] = True
    _FlakyBulk.es_state = {}
    server = ThreadingHTTPServer(("127.0.0.1", 0), _FlakyBulk)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    try:
        url = f"http://127.0.0.1:{server.server_address[1]}"
        src_dir = os.path.join(tmpdir, "src")
        ts0 = 1_704_067_200 * 10**9  # 2024-01-01T00:00:00Z in ns
        rows = [
            Row(event_id=i, ts=ts0 + i * 10**9, user_id=i,
                event_type="alpha" if i < 12 else "beta", value=1.0,
                props=json.dumps({"app": "a1", "k": i}))
            for i in range(20)
        ]
        spark.createDataFrame(rows).coalesce(1).write.parquet(src_dir)

        registry = MetricsRegistry()
        transport = EsBulkTransport(
            es_url=url, buffer_size=1000, strict=True, id_col="event_id", registry=registry
        )
        ckpt = os.path.join(tmpdir, "ckpt_labeled")

        def run():
            return run_pipeline_stream(
                spark, PipelineConfig(), read_events_stream(spark, src_dir),
                transport, ckpt, available_now=True, registry=registry,
            )

        q = run()
        with pytest.raises(StreamingQueryException, match="rejected"):
            q.awaitTermination()
        assert registry.get("pulsar_received_messages", topic="alpha") == 0
        assert registry.get("es_write_success", index="alpha-2024.01.01") == 0

        q = run()
        q.awaitTermination()
        assert len(_FlakyBulk.es_state) == 20
        for topic, n in (("alpha", 12), ("beta", 8)):
            assert registry.get("pulsar_received_messages", topic=topic) == n
            assert registry.get(
                "pulsar_received_messages_by_date", topic=topic, date="2024.01.01"
            ) == n
            assert registry.get("es_write_success", index=f"{topic}-2024.01.01") == n
    finally:
        server.shutdown()
        server.server_close()


def _etl_source(spark, src_dir: str, files: list[list[tuple]]) -> None:
    """One parquet file per micro-batch of ``(event_id, ts_ns, app)``
    records on topic ``t``; each payload carries its ``eid``."""
    for recs in files:
        rows = [
            Row(event_id=eid, ts=ts, user_id=eid, event_type="t", value=1.0,
                props=json.dumps({"app": app, "eid": eid}))
            for eid, ts, app in recs
        ]
        spark.createDataFrame(rows).coalesce(1).write.mode("append").parquet(src_dir)


def _posted_eids(payloads: list[bytes]) -> list[int]:
    return [
        int(json.loads(line)["eid"])
        for payload in payloads
        for line in payload.decode().strip().split("\n")[1::2]
    ]


@pytest.mark.parametrize("rate_limits", [{"a1": 1}, {}])
def test_es_micro_batch_is_one_spark_job(spark, tmpdir, rate_limits):
    """The runner's bulk path is the reference's single sink loop: each
    micro-batch into ``EsBulkTransport`` runs exactly ONE Spark job (the
    collect that feeds the labeled counters, the K2 echo, the driver-side
    rate limiter and the ``_bulk`` bodies), with or without limits, and
    ``observe("etl_metrics")`` still reaches its listener. The docs
    posted are exactly the rows ``rate_limit_per_second`` keeps:
    five same-second records per batch, the first two sharing a
    timestamp with event ids against arrival order (so the tiebreaker
    picks the one kept under a 1/s cap), one unconfigured app."""
    import os

    from pulsar_elasticsearch_sync_rs_spark.config import PipelineConfig
    from pulsar_elasticsearch_sync_rs_spark.plans.pipeline import etl_transform
    from pulsar_elasticsearch_sync_rs_spark.sources.batch import normalize_events_ts
    from pulsar_elasticsearch_sync_rs_spark.streaming.metrics import (
        MetricsRegistry,
        ObservedMetricsListener,
    )
    from pulsar_elasticsearch_sync_rs_spark.streaming.runner import (
        read_events_stream,
        run_pipeline_stream,
    )

    src_dir = os.path.join(tmpdir, "src")
    ts0 = 1_704_067_200 * 10**9  # 2024-01-01T00:00:00Z in ns
    _etl_source(spark, src_dir, [
        [(f * 10 + 4 - i, ts0 + f * 10**9 + (i // 2) * 1000, "a2" if i == 4 else "a1")
         for i in range(5)]
        for f in range(4)
    ])
    cfg = PipelineConfig(debug_topics=("t",), rate_limits=rate_limits)
    captured.clear()
    server = ThreadingHTTPServer(("127.0.0.1", 0), _BulkCapture)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    registry = MetricsRegistry()
    listener = ObservedMetricsListener(registry)
    spark.streams.addListener(listener)
    try:
        transport = EsBulkTransport(
            es_url=f"http://127.0.0.1:{server.server_address[1]}", registry=registry
        )
        q = run_pipeline_stream(
            spark, cfg, read_events_stream(spark, src_dir, max_files_per_trigger=1),
            transport, os.path.join(tmpdir, "ckpt"), available_now=True, registry=registry,
        )
        q.awaitTermination(120)
        posted = _posted_eids(captured)
        sc = spark.sparkContext
        sc._jsc.sc().listenerBus().waitUntilEmpty()
    finally:
        spark.streams.removeListener(listener)
        server.shutdown()
        server.server_close()

    batches = [p for p in q.recentProgress if p.numInputRows > 0]
    assert len(batches) == 4
    assert len(sc.statusTracker().getJobIdsForGroup(str(q.runId))) == len(batches)

    ev = normalize_events_ts(spark.read.parquet(src_dir))
    records = ev.select(
        "event_id", F.col("props").alias("value"),
        F.concat(F.lit("persistent://public/default/"), F.col("event_type")).alias("topic"),
        F.col("ts").alias("publish_time"),
    )
    kept = [r["event_id"] for r in etl_transform(records, cfg).select("event_id").collect()]
    assert len(kept) == (8 if rate_limits else 20)
    assert sorted(posted) == sorted(kept)
    assert registry.get("pulsar_received_messages", topic="t") == 20
    assert registry.get("pulsar_received_messages") == 20  # observe("etl_metrics")
    assert sum(ok for ok, _ in transport.last_stats.values()) == len(kept) // 4


@pytest.mark.parametrize("sink", ["es", "parquet"])
def test_debug_files_read_the_pre_limit_batch(spark, tmpdir, sink):
    """K3 writes every record the batch consumed, before the rate limiter
    (the reference writes its debug files in the consume loop,
    src/pulsar.rs:290-300, ahead of its sink-side limiter): four
    same-second records of one app capped at 1/s give four
    ``topic|publish_ms|date|payload`` lines and one delivered doc, for
    the bulk transport and for a DataFrame transport alike."""
    import os

    from pulsar_elasticsearch_sync_rs_spark.config import PipelineConfig
    from pulsar_elasticsearch_sync_rs_spark.streaming.runner import (
        read_events_stream,
        run_pipeline_stream,
    )
    from pulsar_elasticsearch_sync_rs_spark.streaming.sink import ParquetBulkTransport

    src_dir = os.path.join(tmpdir, "src")
    ts0 = 1_704_067_200 * 10**9  # 2024-01-01T00:00:00Z in ns
    _etl_source(spark, src_dir, [[(i, ts0 + i * 1000, "a1") for i in range(4)]])
    debug_dir = os.path.join(tmpdir, "debug")
    out_dir = os.path.join(tmpdir, "out")
    cfg = PipelineConfig(inject_key=True, rate_limits={"a1": 1})
    captured.clear()
    server = ThreadingHTTPServer(("127.0.0.1", 0), _BulkCapture)
    threading.Thread(target=server.serve_forever, daemon=True).start()
    try:
        if sink == "es":
            transport = EsBulkTransport(es_url=f"http://127.0.0.1:{server.server_address[1]}")
        else:
            transport = ParquetBulkTransport(out_dir)
        q = run_pipeline_stream(
            spark, cfg, read_events_stream(spark, src_dir), transport,
            os.path.join(tmpdir, "ckpt"), available_now=True, debug_files_dir=debug_dir,
        )
        q.awaitTermination(120)
    finally:
        server.shutdown()
        server.server_close()

    lines = sorted(r["value"] for r in spark.read.text(debug_dir).collect())
    assert len(lines) == 4
    assert all(line.startswith("t|1704067200000|2024.01.01|{") for line in lines)
    if sink == "es":
        assert _posted_eids(captured) == [0]
    else:
        assert [r["event_id"] for r in spark.read.parquet(out_dir).collect()] == [0]
