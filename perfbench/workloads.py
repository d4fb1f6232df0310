"""The benchmark workloads and the harness that sets each up, times it
and checks its outputs.

Each workload drives the program only through its public functions
(``session.get_spark``, ``streaming.runner``, ``plans.pipeline``,
``streaming.sink.EsBulkTransport``, the ``streaming.*`` state operators
and ``plans.llm_queries``). Sizes, rates and watermarks are the design
recorded in ``BENCHMARK.json``; change them only together with it.
"""

from __future__ import annotations

import bisect
import collections
import json
import os
import random
import statistics
import threading
import time

from perfbench import gen, procstat
from perfbench.stub import BulkStub, check_delivery, parse_bulk
from perfbench.trace import ProgressListener, StatusApi, Tracer, parse_spark_time

N_SETUPS = 3  # set-ups per run; setup_s is their median
# untimed load between the set-ups and an untraced run's window: the JVM
# keeps speeding up for about 30 s after the set-ups (JIT compilation of
# the chain), and the window should not sit on the steepest part of that
RAMP_S = 10


def pct(values: list[float], q: float) -> float:
    """q-th percentile (0-100), linear interpolation."""
    xs = sorted(values)
    if not xs:
        return 0.0
    k = (len(xs) - 1) * q / 100
    lo = int(k)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (k - lo)


def tail_pct(n: int, want: float = 99.0) -> float:
    """The highest percentile up to ``want`` that leaves at least ten
    of ``n`` samples beyond it; 100 (the maximum) when none does."""
    if n <= 10:
        return 100.0
    return min(want, 100.0 * (n - 10) / n)


def host_heap_mb() -> int:
    """Driver heap from the host's RAM: an eighth of it, 1-2 GiB (the
    workloads' state and batches are small; a larger heap only grows
    the JVM's resident set, and with it the cost of every fork the
    local file system makes)."""
    with open("/proc/meminfo") as f:
        total_kb = int(next(line for line in f if line.startswith("MemTotal")).split()[1])
    return max(1024, min(2048, total_kb // 8 // 1024))


class Context:
    """Run-wide settings and paths shared by the harness and a workload."""

    def __init__(self, work: str, seed: int, seconds: int, trace: bool) -> None:
        self.work = work
        self.seed, self.seconds, self.trace = seed, seconds, trace
        self.cpus = len(os.sched_getaffinity(0))
        self.heap_mb = host_heap_mb()
        self.tracer = Tracer(enabled=False)
        self.spark = None
        self._n_dirs = 0

    def fresh_dir(self, tag: str) -> str:
        self._n_dirs += 1
        path = os.path.join(self.work, f"{tag}-{self._n_dirs}")
        os.makedirs(path)
        return path

    def session(self, cpus: int | None = None):
        """A new SparkSession from ``get_spark``; the previous one (if
        any) is stopped first. The JVM survives a stop, so only the
        first call of a run pays its launch."""
        from pulsar_elasticsearch_sync_rs_spark.session import get_spark

        if self.spark is not None:
            for q in self.spark.streams.active:
                q.stop()
            self.spark.stop()
        tmp = os.path.join(self.work, "tmp")
        os.makedirs(tmp, exist_ok=True)
        conf = {
            "spark.driver.memory": f"{self.heap_mb}m",
            "spark.local.dir": os.path.join(self.work, "spark-local"),
            # no hsperfdata file: the JVM would write it under /tmp
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
            "spark.sql.warehouse.dir": os.path.join(self.work, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
            "spark.sql.streaming.numRecentProgressUpdates": "1000",
            "spark.ui.enabled": "true" if self.trace else "false",
            "spark.ui.port": "0",
            "spark.ui.retainedJobs": "20000",
            "spark.ui.retainedStages": "20000",
        }
        with self.tracer.span("get_spark"):
            self.spark = get_spark(app_name="perfbench", cpus=cpus or self.cpus, extra_conf=conf)
        return self.spark


class Workload:
    name = ""

    def __init__(self, ctx: Context) -> None:
        self.ctx = ctx
        self.rng = random.Random(f"{self.name}:{ctx.seed}")
        self.layers: dict[str, float] = {}

    # -- contract with the harness
    def generate(self) -> None:
        raise NotImplementedError

    def warm_up(self, spark) -> None:
        """Per set-up: build session-bound objects and run the workload
        once, untimed."""
        self.iterate(spark, warm=True)

    def measure(self, spark, seconds: float) -> list[dict]:
        """Timed window: whole iterations until ``seconds`` have passed.
        Each result has ``rows``, ``wall_s``, ``cpu_s`` and ``lat_ms``."""
        out = []
        t0 = time.perf_counter()
        # start another iteration only if it should end within the
        # window (a quarter of it as slack)
        while not out or (time.perf_counter() - t0) * (len(out) + 1) / len(out) <= 1.25 * seconds:
            cpu0 = procstat.cpu_seconds()
            res = self.iterate(spark, warm=False)
            res["cpu_s"] = procstat.cpu_seconds() - cpu0
            out.append(res)
        return out

    def iterate(self, spark, warm: bool) -> dict:
        raise NotImplementedError

    def check(self, spark) -> dict:
        """``{"correct", "attempted", "failed", ...}`` after the window."""
        raise NotImplementedError

    def close(self) -> None:
        pass

    def set_tracing(self, spark, on: bool) -> None:
        """Spans and the progress listener on or off between windows."""
        if on:
            self.progress = ProgressListener()
            spark.streams.addListener(self.progress)
        else:
            time.sleep(1.0)  # let the listener bus deliver the last progress
            spark.streams.removeListener(self.progress)
        self.ctx.tracer.enabled = on

    def trace_layers(self, spark, iters: list[dict], t0: float, t1: float) -> None:
        """Per-layer metrics from the traced window into ``self.layers``."""

    def inputs(self) -> dict:
        return {}


# ------------------------------------------------------------------ ETL


class TimedTransport:
    """Timing proxy around ``EsBulkTransport.write`` in traced runs:
    while tracing is on, one span per micro-batch, under a job group
    naming the batch; otherwise a plain pass-through."""

    def __init__(self, inner, ctx: Context) -> None:
        self.inner, self.ctx = inner, ctx
        self.write_ms: list[float] = []
        self.retries = 0
        self._seen: set[int] = set()

    def write(self, batch_df, batch_id: int) -> None:
        if not self.ctx.tracer.enabled:
            self.inner.write(batch_df, batch_id)
            return
        sc = self.ctx.spark.sparkContext
        group = sc.getLocalProperty("spark.jobGroup.id")
        desc = sc.getLocalProperty("spark.job.description")
        sc.setJobGroup(f"sink-batch-{batch_id}", f"EsBulkTransport.write batch {batch_id}")
        self.retries += batch_id in self._seen
        self._seen.add(batch_id)
        t0 = time.perf_counter()
        try:
            with self.ctx.tracer.span("EsBulkTransport.write", batch=batch_id):
                self.inner.write(batch_df, batch_id)
        finally:
            self.write_ms.append((time.perf_counter() - t0) * 1e3)
            sc.setLocalProperty("spark.jobGroup.id", group)
            sc.setLocalProperty("spark.job.description", desc)


def es_totals(registry) -> tuple[float, float]:
    """(es_write_success, es_write_failure) summed over every index."""
    ok = failed = 0.0
    for line in registry.render_prometheus(include_process=False).splitlines():
        if line.startswith("es_write_success"):
            ok += float(line.rsplit(" ", 1)[1])
        elif line.startswith("es_write_failure"):
            failed += float(line.rsplit(" ", 1)[1])
    return ok, failed


class EtlLive(Workload):
    """Open loop: one file per tick at a fixed rate into the runner's
    file source, a processingTime trigger, the full chain and
    ``EsBulkTransport`` into the stub. Latency is receipt at the stub
    minus the message's scheduled creation. After the live part, the
    window's files run once more as a closed backlog (an availableNow
    pass through the same chain), whose rows per second of wall is the
    chain's throughput."""

    name = "etl_live"
    RATE = 200  # messages per second offered
    TICK_S = 0.1
    TRIGGER_MS = 250
    WARM_TICKS = 5  # written at once by each set-up's warm-up
    DRAIN_TIMEOUT_S = 60
    BACKFILL_FILES_PER_TRIGGER = 25
    SCALE_FILES = 50  # the scaling passes take the traced window's first 50 ticks

    def __init__(self, ctx: Context) -> None:
        super().__init__(ctx)
        self.stub = BulkStub().__enter__()
        self.registry = self.observer = self.proxy = self.query = None
        self.late_s: list[float] = []
        self.checks: list[dict] = []

    def generate(self) -> None:
        # payloads are drawn up front from the seed, on a nominal clock;
        # their publish times are stamped when their tick is due
        self.per_tick = int(self.RATE * self.TICK_S)
        live_s = 2 * self.ctx.seconds if self.ctx.trace else RAMP_S + self.ctx.seconds
        n = self.per_tick * (int(live_s / self.TICK_S) + self.WARM_TICKS * N_SETUPS + 1)
        nominal = [gen.EPOCH_MS + int(i // self.per_tick * self.TICK_S * 1000) for i in range(n)]
        self.rows, self.all_labels = gen.log_messages(self.rng, n, nominal, "l")
        self.next_tick = 0
        from pulsar_elasticsearch_sync_rs_spark.config import PipelineConfig, RewriteRule

        self.cfg = PipelineConfig(
            global_filters=gen.GLOBAL_FILTERS,
            namespace_filters=gen.namespace_filters(),
            time_key=gen.TIME_KEY,
            inject_key=True,
            rewrite_rules=tuple(RewriteRule(p, t) for p, t in gen.REWRITE_RULES),
            debug_log_patterns=gen.DEBUG_PATTERNS,
            debug_topics=("audit-partition-0",),
            # every message of one second, plus one: nothing can exceed it
            rate_limits={a: self.RATE + 1 for a in gen.APPS[:6]},
            es_addr=self.stub.url,
            buffer_size=1000,
            flush_interval_ms=self.TRIGGER_MS,
        )

    def inputs(self) -> dict:
        labels = self.all_labels
        return {"rate_msgs_s": self.RATE, "tick_s": self.TICK_S, "msgs_per_tick": self.per_tick,
                "kept_share": round(sum(lab["kept"] for lab in labels) / len(labels), 4),
                "rejected_share": round(sum(lab["rejected"] for lab in labels) / len(labels), 4),
                "trigger_ms": self.TRIGGER_MS, "backlog_files_per_trigger": self.BACKFILL_FILES_PER_TRIGGER}

    def close(self) -> None:
        if self.query is not None:
            self.query.stop()
        self.stub.__exit__(None, None, None)

    # -- program calls
    def _session_objects(self, spark) -> None:
        from pulsar_elasticsearch_sync_rs_spark.streaming.metrics import (
            MetricsRegistry,
            ObservedMetricsListener,
        )

        if self.observer is not None:
            spark.streams.removeListener(self.observer)
        self.registry = MetricsRegistry()
        self.observer = ObservedMetricsListener(self.registry)
        spark.streams.addListener(self.observer)

    def _start(self, spark, src_dir: str, available_now: bool, max_files: int | None = None):
        from pulsar_elasticsearch_sync_rs_spark.streaming.runner import (
            read_events_stream,
            run_pipeline_stream,
        )
        from pulsar_elasticsearch_sync_rs_spark.streaming.sink import EsBulkTransport

        tr = self.ctx.tracer
        transport = EsBulkTransport(self.cfg.es_addr, buffer_size=self.cfg.buffer_size, registry=self.registry)
        if self.ctx.trace:
            transport = TimedTransport(transport, self.ctx)
            if not available_now:
                self.proxy = transport  # the sink layer is read off the live query
        with tr.span("read_events_stream"):
            src = read_events_stream(spark, src_dir, max_files_per_trigger=max_files)
        with tr.span("run_pipeline_stream"):
            return run_pipeline_stream(
                spark, self.cfg, src, transport, self.ctx.fresh_dir("ckpt"),
                available_now=available_now, observe_metrics=True, registry=self.registry,
            )

    def _backlog(self, first: int, last: int) -> str:
        """A new directory holding ticks ``first`` to ``last - 1``."""
        path = self.ctx.fresh_dir("backlog")
        for k in range(first, last):
            name = f"tick-{k:06d}.parquet"
            os.link(os.path.join(self.src, name), os.path.join(path, name))
        return path

    def _backfill_pass(self, spark, src_dir: str) -> tuple[float, list, int]:
        """One availableNow pass over ``src_dir`` into the stub: (wall
        seconds, the requests the stub received, its data batches)."""
        self.stub.take()
        t0 = time.time()
        with self.ctx.tracer.span("backfill_pass"):
            q = self._start(spark, src_dir, True, self.BACKFILL_FILES_PER_TRIGGER)
            q.awaitTermination()
        wall = time.time() - t0
        batches = sum(1 for p in q.recentProgress if p.numInputRows > 0)
        return wall, self.stub.take(), batches

    # -- load generator
    def _emit(self, src_dir: str, due: float) -> list[dict]:
        """Write the next tick's file, stamped with its due time."""
        k = self.next_tick
        self.next_tick += 1
        sl = slice(k * self.per_tick, (k + 1) * self.per_tick)
        rows, labels = self.rows[sl], self.all_labels[sl]
        ms = int(due * 1000)
        date = time.strftime("%Y.%m.%d", time.gmtime(due))
        for r, lab in zip(rows, labels):
            r["ts"] = ms * 1_000_000
            lab["created_ms"] = ms
            if lab["kept"]:
                lab["index"] = lab["index"].rsplit("-", 1)[0] + "-" + date
        gen.write_events(os.path.join(src_dir, f"tick-{k:06d}.parquet"), rows)
        return labels

    def _loadgen(self, src_dir: str, t0: float, n_ticks: int, out: list[dict]) -> None:
        for k in range(n_ticks):
            due = t0 + k * self.TICK_S
            delay = due - time.time()
            if delay > 0:
                time.sleep(delay)
            out.extend(self._emit(src_dir, due))
            self.late_s.append(time.time() - due)

    def _drain(self, labels: list[dict], base: tuple[float, float]) -> list:
        """Wait until every kept message has reached the stub and the
        registry has counted it; returns the requests received."""
        want = sum(lab["kept"] for lab in labels)
        reqs: list = []
        deadline = time.time() + self.DRAIN_TIMEOUT_S
        while time.time() < deadline:
            reqs.extend(self.stub.take())
            n = sum(body.count(b"\n") // 2 for _, body in reqs)
            if n >= want and sum(es_totals(self.registry)) - sum(base) >= n:
                break
            time.sleep(0.05)
        return reqs

    def _check(self, reqs: list, labels: list[dict], base: tuple[float, float]) -> tuple[list, dict]:
        """Check one pass's deliveries, and the registry's success and
        failure counts against what the stub accepted and rejected."""
        docs = parse_bulk(reqs)
        chk = check_delivery(docs, labels)
        ok, bad = es_totals(self.registry)
        chk["es_success_vs_stub"] = int(ok - base[0]) - (len(docs) - chk["rejected"])
        chk["es_failures"] = int(bad - base[1])
        chk["es_failure_vs_stub"] = chk["es_failures"] - chk["rejected"]
        chk["failed"] += abs(chk["es_success_vs_stub"]) + abs(chk["es_failure_vs_stub"])
        self.checks.append(chk)
        return docs, chk

    # -- harness contract
    def warm_up(self, spark) -> None:
        """A new live query, a burst of ticks drained through it, and a
        backfill pass over the same ticks."""
        self._session_objects(spark)
        self.src = self.ctx.fresh_dir("src")
        self.stub.take()
        self.query = self._start(spark, self.src, available_now=False)
        first, labels, now = self.next_tick, [], time.time()
        for _ in range(self.WARM_TICKS):
            labels += self._emit(self.src, now)
        self._drain(labels, (0.0, 0.0))
        self.warm_ticks = (first, self.next_tick)
        self._backfill_pass(spark, self._backlog(*self.warm_ticks))

    def measure(self, spark, seconds: float) -> list[dict]:
        self.stub.take()
        base = es_totals(self.registry)
        first, labels = self.next_tick, []
        cpu0 = procstat.cpu_seconds()
        t0 = time.time() + self.TICK_S
        # the generator runs on its own thread so that a slow batch
        # cannot delay the schedule (open loop)
        g = threading.Thread(target=self._loadgen, args=(self.src, t0, int(seconds / self.TICK_S), labels),
                             name="loadgen")
        g.start()
        g.join()
        reqs = self._drain(labels, base)
        t1 = time.time()
        docs, chk = self._check(reqs, labels, base)
        created = {lab["id"]: lab["created_ms"] for lab in labels}
        lat = [(r * 1e3 - created[i]) for i, _, _, r in docs if i in created]
        live_batches = sum(1 for p in self.query.recentProgress
                           if p.numInputRows > 0 and parse_spark_time(p.timestamp) >= t0 - self.TICK_S)
        # the same ticks again, as a closed backlog: throughput
        base = es_totals(self.registry)
        pass_s, pass_reqs, pass_batches = self._backfill_pass(spark, self._backlog(first, self.next_tick))
        self._check(pass_reqs, labels, base)
        if self.ctx.tracer.enabled:
            self.window = {"labels": labels, "reqs": reqs, "docs": docs, "check": chk, "t0": t0, "t1": t1,
                           "first": first}
        return [{"rows": len(labels), "wall_s": pass_s, "lat_ms": lat, "cpu_s": procstat.cpu_seconds() - cpu0,
                 "batches": live_batches + pass_batches}]

    def check(self, spark) -> dict:
        failed = sum(c["failed"] for c in self.checks)
        attempted = sum(c["attempted"] for c in self.checks)
        return {"correct": failed == 0, "attempted": attempted, "failed": failed, "passes": self.checks}

    # -- traced run
    def trace_layers(self, spark, iters, t0, t1) -> None:
        L, w = self.layers, self.window
        live = str(self.query.id)  # the backfill pass's queries report under the same (empty) name
        progress = [p for p in self.progress.by_query.get("", [])
                    if p["id"] == live and parse_spark_time(p["timestamp"]) >= w["t0"] - self.TICK_S]
        data = [p for p in progress if p.get("numInputRows", 0) > 0]
        dur = [p.get("durationMs", {}) for p in data]
        trig = [d.get("triggerExecution", 0) for d in dur]
        L["runner.batches"] = len(data)
        L["runner.batch_ms_p50"] = pct(trig, 50)
        L["runner.batch_ms_max"] = max(trig, default=0)
        for key, phase in (("runner.query_planning_ms", "queryPlanning"), ("runner.wal_commit_ms", "walCommit"),
                           ("runner.commit_offsets_ms", "commitOffsets"),
                           ("sources.latest_offset_ms", "latestOffset"), ("sources.get_batch_ms", "getBatch")):
            L[key] = pct([d.get(phase, 0) for d in dur], 50)
        busy = sum(p.get("durationMs", {}).get("triggerExecution", 0) for p in progress) / 1e3
        L["runner.idle_frac"] = max(0.0, 1 - busy / (w["t1"] - w["t0"]))
        # rows written but not yet admitted, at the start of each batch
        written = sorted(lab["created_ms"] / 1e3 for lab in w["labels"])
        admitted, lag = 0, []
        for p in progress:
            ts = parse_spark_time(p["timestamp"])
            lag.append(sum(1 for x in written if x <= ts) - admitted)
            admitted += p.get("numInputRows", 0)
        L["sources.lag_rows"] = max(lag, default=0)
        L["loadgen.late_ms_p99"] = pct([x * 1e3 for x in self.late_s], 99)
        L["loadgen.rows"] = len(w["labels"])
        ms = self.proxy.write_ms
        L["sink.write_ms_total"] = sum(ms)
        L["sink.write_ms_p50"] = pct(ms, 50)
        L["sink.bulk_requests"] = len(w["reqs"])
        L["sink.bulk_items"] = len(w["docs"])
        L["sink.bulk_mb"] = sum(len(b) for _, b in w["reqs"]) / 1e6
        L["sink.item_failures"] = w["check"]["es_failures"]
        L["sink.batch_retries"] = self.proxy.retries
        L["sink.stub_busy_s"] = self.stub.busy_s
        L["metrics.es_success_vs_stub"] = abs(w["check"]["es_success_vs_stub"])
        self.query.stop()
        self.query = None
        self.replay_layers(spark)

    def replay_layers(self, spark) -> None:
        """Batch replays of the chain's layers over this run's input,
        each into a noop sink, for their self time."""
        import dataclasses

        from pyspark.sql import functions as F

        from pulsar_elasticsearch_sync_rs_spark.operators.rate_limit import rate_limit_per_second
        from pulsar_elasticsearch_sync_rs_spark.plans.pipeline import etl_transform
        from pulsar_elasticsearch_sync_rs_spark.sources.batch import normalize_events_ts
        from pulsar_elasticsearch_sync_rs_spark.streaming.metrics import (
            MetricsRegistry,
            record_batch_labeled_counters,
        )

        tr, L = self.ctx.tracer, self.layers
        ev = normalize_events_ts(spark.read.parquet(self.src))
        records = ev.select(
            "event_id", F.col("props").alias("value"),
            F.concat(F.lit("persistent://public/default/"), F.col("event_type")).alias("topic"),
            F.col("ts").alias("publish_time"), "user_id",
        )
        n_in = records.count()
        with tr.span("replay.etl_transform") as sp:
            out = etl_transform(records, dataclasses.replace(self.cfg, rate_limits={}), tiebreaker="event_id")
            out.write.format("noop").mode("overwrite").save()
        L["pipeline.transform_s"] = sp["end"] - sp["start"]
        kept = out.localCheckpoint(eager=True)
        n_kept = kept.count()
        L["pipeline.rows_in"] = n_in
        L["pipeline.keep_ratio"] = n_kept / n_in if n_in else 0.0
        with tr.span("replay.rate_limit_per_second") as sp:
            limited = rate_limit_per_second(kept, self.cfg.rate_limits, app="app", ts="publish_time",
                                            tiebreaker="event_id")
            limited.write.format("noop").mode("overwrite").save()
        L["rate_limit.s"] = sp["end"] - sp["start"]
        L["rate_limit.shuffle_mb"] = StatusApi(spark).window(sp["start"], sp["end"])["shuffle_write_mb"]
        L["rate_limit.rows_dropped"] = n_kept - limited.count()
        with tr.span("replay.record_batch_labeled_counters") as sp:
            record_batch_labeled_counters(MetricsRegistry(), kept)
        L["metrics.record_s"] = sp["end"] - sp["start"]

    def scale_baseline(self) -> None:
        """A backfill pass over the traced window's first ``SCALE_FILES``
        ticks, in a new session at local[cpus] and at local[1], each
        after a warm-up pass over the set-up's ticks; reports
        throughput(cpus) / throughput(1)."""
        first = self.window["first"]
        thr = {}
        for cpus in (self.ctx.cpus, 1):
            spark = self.ctx.session(cpus=cpus)
            self._session_objects(spark)
            self._backfill_pass(spark, self._backlog(*self.warm_ticks))
            with self.ctx.tracer.span(f"scale.local[{cpus}]"):
                wall, *_ = self._backfill_pass(spark, self._backlog(first, first + self.SCALE_FILES))
            thr[cpus] = self.SCALE_FILES * self.per_tick / wall
        self.layers["etl_backfill.scale_1c_to_nc"] = thr[self.ctx.cpus] / thr[1]


# ------------------------------------------------------------- stateful

STATE_OPS = ("dedup", "sessionize", "interval_join", "counters")


class StatefulStream(Workload):
    """Event backlog through the four state operators: one availableNow
    query each, run side by side, a few files per epoch."""

    name = "stateful_stream"
    N_EVENTS = 4_000
    N_FILES = 4
    MAX_FILES_PER_TRIGGER = 2
    SPAN_S = 6 * 3600
    DISORDER_MS = 30_000  # below every watermark delay: nothing is late
    SESSION_GAP_S = 300
    JOIN_WINDOW_S = 600
    WATERMARK = {"dedup": 600, "sessionize": 60, "interval_join": 60, "counters": 120}

    def generate(self) -> None:
        self.n_users = self.rng.choice([300, 400, 500])
        self.dup_share = self.rng.choice([0.15, 0.2, 0.25])
        self.events = gen.state_events(self.rng, self.N_EVENTS, self.n_users, self.dup_share,
                                       self.DISORDER_MS, self.SPAN_S, gen.EPOCH_MS)
        self.src = self.ctx.fresh_dir("src")
        gen.write_backlog(self.src, self.events, self.N_FILES)
        self.warm_src = self.ctx.fresh_dir("warm-src")
        gen.write_backlog(self.warm_src, self.events[: len(self.events) // self.N_FILES], 1)
        self.outputs: list[dict[str, str]] = []
        self.curation: dict | None = None

    def inputs(self) -> dict:
        return {"events": self.N_EVENTS, "users": self.n_users, "dup_share": self.dup_share,
                "disorder_ms": self.DISORDER_MS, "files": self.N_FILES}

    def _query(self, spark, op: str, src_dir: str, out: str):
        from pyspark.sql import functions as F

        from pulsar_elasticsearch_sync_rs_spark.functions.debug import is_debug_log
        from pulsar_elasticsearch_sync_rs_spark.streaming.counters import windowed_counters
        from pulsar_elasticsearch_sync_rs_spark.streaming.interval_join import stream_interval_join
        from pulsar_elasticsearch_sync_rs_spark.streaming.runner import read_events_stream
        from pulsar_elasticsearch_sync_rs_spark.streaming.sessions import sessionize_stream
        from pulsar_elasticsearch_sync_rs_spark.streaming.stream_dedup import dedup_stream_by_content

        wm = f"{self.WATERMARK[op]} seconds"
        src = read_events_stream(spark, src_dir, max_files_per_trigger=self.MAX_FILES_PER_TRIGGER)
        if op == "dedup":
            df = dedup_stream_by_content(src, text_col="value", watermark_delay=wm)
        elif op == "sessionize":
            df = sessionize_stream(src.select("user_id", F.col("publish_time").alias("ts")),
                                   gap=f"{self.SESSION_GAP_S} seconds", watermark_delay=wm)
        elif op == "interval_join":
            base = src.select("event_id", F.element_at(F.split("topic", "/"), -1).alias("app"),
                              F.col("publish_time").alias("ts"))
            ivs = base.filter(F.col("app") == "error").select(
                F.col("event_id").alias("error_id"), F.col("ts").alias("w_start"))
            pts = base.filter(F.col("app") == "signup").select(
                F.col("event_id").alias("signup_id"), F.col("ts").alias("s_ts"))
            df = stream_interval_join(pts, ivs, "s_ts", "w_start", self.JOIN_WINDOW_S,
                                      watermark_delay=wm).select("error_id", "signup_id")
        else:
            enriched = src.withColumn("topic_short", F.element_at(F.split("topic", "/"), -1)) \
                .withColumn("is_debug", is_debug_log("value", None))
            df = windowed_counters(enriched, window_duration="1 minute", watermark_delay=wm)
        return (df.writeStream.queryName(op).outputMode("append")
                .option("checkpointLocation", self.ctx.fresh_dir("ckpt"))
                .trigger(availableNow=True).format("parquet").option("path", out).start())

    def iterate(self, spark, warm: bool) -> dict:
        """All four queries side by side over the backlog (the warm-up
        runs them over its first files only)."""
        src = self.warm_src if warm else self.src
        t_start = time.time()
        queries = {}
        for op in STATE_OPS:
            out = self.ctx.fresh_dir(f"out-{op}")
            with self.ctx.tracer.span(f"{op}.start"):
                queries[op] = (self._query(spark, op, src, out), out)
        lat, walls, progress = [], {}, {}
        for op, (q, _) in queries.items():
            with self.ctx.tracer.span(f"{op}.await"):
                q.awaitTermination()
            progress[op] = [json.loads(p.json) for p in q.recentProgress]
            done = [parse_spark_time(p["timestamp"]) + p["durationMs"].get("triggerExecution", 0) / 1e3
                    for p in progress[op]]
            walls[op] = max(done, default=t_start) - t_start
            for p, end in zip(progress[op], done):
                lat += [(end - t_start) * 1e3] * p.get("numInputRows", 0)
        wall = time.time() - t_start
        if not warm:
            self.outputs.append({op: out for op, (_, out) in queries.items()})
        batches = sum(1 for ps in progress.values() for p in ps if p.get("numInputRows", 0) > 0)
        return {"rows": self.N_EVENTS, "wall_s": wall, "lat_ms": lat, "walls": walls, "progress": progress,
                "batches": batches}

    # exact replay of each operator's semantics over the generated input
    def expected(self) -> dict[str, list]:
        ev = [(e["event_id"], e["ts"] // 1_000_000, e["user_id"], e["event_type"], e["props"])
              for e in self.events]
        max_ms = max(t for _, t, *_ in ev)
        exp = {"dedup": sorted(collections.Counter(p for *_, p in ev))}
        wm = max_ms - self.WATERMARK["sessionize"] * 1000
        gap = self.SESSION_GAP_S * 1000
        sessions = []
        by_user: dict[int, list[int]] = {}
        for _, t, u, _, _ in ev:
            by_user.setdefault(u, []).append(t)
        for u, ts in by_user.items():
            ts.sort()
            start, end, n = ts[0], ts[0] + gap, 1
            for t in ts[1:]:
                if t < end:
                    end, n = max(end, t + gap), n + 1
                else:
                    sessions.append((u, start, end, n))
                    start, end, n = t, t + gap, 1
            sessions.append((u, start, end, n))
        exp["sessionize"] = sorted(s for s in sessions if s[2] <= wm)
        errors = sorted((t, i) for i, t, _, ty, _ in ev if ty == "error")
        signups = [(t, i) for i, t, _, ty, _ in ev if ty == "signup"]
        w = self.JOIN_WINDOW_S * 1000
        starts = [t for t, _ in errors]
        pairs = []
        for st, sid in signups:
            lo = bisect.bisect_right(starts, st - w)
            hi = bisect.bisect_right(starts, st)
            pairs += [(errors[k][1], sid) for k in range(lo, hi)]
        exp["interval_join"] = sorted(pairs)
        wm = max_ms - self.WATERMARK["counters"] * 1000
        counts: dict[tuple, list[int]] = {}
        for _, t, _, ty, p in ev:
            c = counts.setdefault((ty, t - t % 60_000), [0, 0])
            c[0] += 1
            c[1] += json.loads(p).get("level") == "debug"
        exp["counters"] = sorted((ty, s, s + 60_000, c, d) for (ty, s), (c, d) in counts.items()
                                 if s + 60_000 <= wm)
        return exp

    def _read(self, spark, op: str, path: str) -> list:
        from pyspark.sql import functions as F

        df = spark.read.parquet(path)
        if op == "dedup":
            return sorted(r[0] for r in df.select("value").collect())
        if op == "sessionize":
            return sorted(tuple(r) for r in df.select(
                "user_id", F.unix_millis("session_start"), F.unix_millis("session_end"), "n_events").collect())
        if op == "interval_join":
            return sorted(tuple(r) for r in df.select("error_id", "signup_id").collect())
        return sorted(tuple(r) for r in df.select(
            "topic", F.unix_millis("window_start"), F.unix_millis("window_end"),
            "consumed", "consumed_debug").collect())

    def check(self, spark) -> dict:
        exp = self.expected()
        failed, attempted, detail = 0, 0, {}
        for outs in self.outputs:
            for op in STATE_OPS:
                got = self._read(spark, op, outs[op])
                want = exp[op]
                attempted += len(want)
                if got != want:
                    g, w = collections.Counter(got), collections.Counter(want)
                    bad = sum(((g - w) + (w - g)).values())
                    failed += bad
                    detail[op] = {"got": len(got), "want": len(want), "diff": bad}
        detail["expected_rows"] = {op: len(v) for op, v in exp.items()}
        if self.curation is not None:
            detail["curation"] = self.curation
            attempted += self.curation["attempted"]
            failed += self.curation["failed"]
        return {"correct": failed == 0, "attempted": attempted, "failed": failed, "detail": detail}

    def trace_layers(self, spark, iters, t0, t1) -> None:
        L = self.layers
        for op in STATE_OPS:
            prog = self.progress.by_query.get(op, [])
            ops = [p.get("stateOperators") or [] for p in prog]
            n_it = len(iters)
            L[f"{op}.state_commit_ms"] = sum(o.get("commitTimeMs", 0) for s in ops for o in s) / n_it
            L[f"{op}.add_batch_ms"] = sum(p["durationMs"].get("addBatch", 0) for p in prog) / n_it
            L[f"{op}.state_rows_max"] = max((sum(o.get("numRowsTotal", 0) for o in s) for s in ops), default=0)
            L[f"{op}.state_mem_mb_max"] = max((sum(o.get("memoryUsedBytes", 0) for o in s) for s in ops),
                                             default=0) / 1e6
            L[f"{op}.state_partitions"] = max((sum(o.get("numShufflePartitions", 0) for o in s) for s in ops),
                                             default=0)
            L[f"{op}.wm_dropped_rows"] = sum(o.get("numRowsDroppedByWatermark", 0) for s in ops for o in s)
            L[f"{op}.wall_s"] = statistics.median(it["walls"][op] for it in iters)
        self.curation = CurationPass(self.ctx, self.rng).run(spark, L)


# -------------------------------------------------------------- curation


class CurationPass:
    """``q_llm_pipeline`` then ``q_bm25_topk`` over a seeded corpus: the
    operators/plans layer, measured in the stateful_stream traced run
    (one untraced warm-up over the first documents, one traced pass)
    and hash-checked against the DuckDB oracles."""

    N_DOCS = 1_500
    N_WARM_DOCS = 100

    def __init__(self, ctx: Context, rng: random.Random) -> None:
        self.ctx = ctx
        self.docs = gen.documents(rng, self.N_DOCS)
        self.sf = ctx.fresh_dir("sf")
        gen.write_documents(os.path.join(self.sf, "documents.parquet"), self.docs)
        self.warm_sf = ctx.fresh_dir("warm-sf")
        gen.write_documents(os.path.join(self.warm_sf, "documents.parquet"), self.docs[: self.N_WARM_DOCS])

    def _queries(self, spark, sf: str) -> list[tuple[list, list]]:
        from pulsar_elasticsearch_sync_rs_spark.plans.llm_queries import q_bm25_topk, q_llm_pipeline

        out = []
        for call, query in (("q_llm_pipeline", q_llm_pipeline), ("q_bm25_topk", q_bm25_topk)):
            with self.ctx.tracer.span(f"{call}.build"):
                df = query(spark, sf)
            with self.ctx.tracer.span(f"{call}.action"):
                out.append((df.collect(), df.columns))
        return out

    def run(self, spark, layers: dict) -> dict:
        """The ``llm_pipeline.*`` and ``bm25_topk.*`` layers into
        ``layers``; returns the oracle check."""
        tr = self.ctx.tracer
        tr.enabled = False
        self._queries(spark, self.warm_sf)
        tr.enabled = True
        got = self._queries(spark, self.sf)
        api = StatusApi(spark)
        for call, key in (("q_llm_pipeline", "llm_pipeline"), ("q_bm25_topk", "bm25_topk")):
            layers[f"{key}.build_s"] = tr.total(f"{call}.build")
            layers[f"{key}.action_s"] = tr.total(f"{call}.action")
            layers[f"{key}.jobs"] = sum(api.window(s["start"], s["end"], settle_s=0)["jobs"]
                                        for s in tr.spans if s["name"].startswith(call + "."))
        return self.check(got)

    def check(self, got: list[tuple[list, list]]) -> dict:
        """Row count, column names and value hash of both queries against
        their DuckDB oracles, as tools/check_oracle.py compares them."""
        import duckdb

        from pulsar_elasticsearch_sync_rs_spark.plans.llm_queries import (
            ORACLE_BM25_TOPK,
            ORACLE_LLM_PIPELINE,
        )
        from tools.check_oracle import table_hash

        con = duckdb.connect()
        con.execute(f"CREATE VIEW documents AS SELECT * FROM '{self.sf}/documents.parquet/*.parquet'")
        failed = 0
        for sql, (rows, cols) in zip((ORACLE_LLM_PIPELINE, ORACLE_BM25_TOPK), got):
            cur = con.execute(sql)
            want_rows, want_cols = cur.fetchall(), [d[0] for d in cur.description]
            want = (len(want_rows), sorted(want_cols), table_hash(want_rows, want_cols))
            failed += (len(rows), sorted(cols), table_hash(rows, cols)) != want
        con.close()
        return {"correct": failed == 0, "attempted": 2, "failed": failed, "documents": self.N_DOCS}


WORKLOADS = {w.name: w for w in (EtlLive, StatefulStream)}
