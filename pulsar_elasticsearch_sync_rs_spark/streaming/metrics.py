"""G3/K4 — streaming metrics parity (SURVEY.md §2.4/§2.6).

The reference exposes Prometheus counters (consumed / consumed-debug /
write success-failure, by topic and (topic, date)) via a warp HTTP
endpoint (reference ``src/prometheus.rs:7-194``). Spark-natively:

- per-micro-batch aggregates ride the stream itself via
  ``DataFrame.observe`` (no extra pass over the data);
- a ``StreamingQueryListener`` collects each batch's observed values
  into an in-process registry;
- text exposition renders the registry in Prometheus format (the
  cluster deployment would instead flip
  ``spark.ui.prometheus.enabled=true`` and scrape the driver; this
  registry keeps the custom counter names of the reference).
"""

from __future__ import annotations

import threading
from collections import defaultdict
from typing import NamedTuple

from pyspark.sql.streaming import StreamingQueryListener


class MetricsRegistry:
    """Monotonic counters + settable gauges keyed by (name, labels
    tuple) — the reference keeps the same two families (counters
    ``src/prometheus.rs:7-126``, the field-count gauge
    ``src/es.rs:353-355``)."""

    def __init__(self) -> None:
        self._lock = threading.Lock()
        self._counters: dict[tuple, float] = defaultdict(float)
        self._gauges: dict[tuple, float] = {}

    @staticmethod
    def _key(name: str, labels: dict) -> tuple:
        return (name, tuple(sorted(labels.items())))

    def inc(self, name: str, value: float, **labels) -> None:
        with self._lock:
            self._counters[self._key(name, labels)] += value

    def set_gauge(self, name: str, value: float, **labels) -> None:
        with self._lock:
            self._gauges[self._key(name, labels)] = value

    def get(self, name: str, **labels) -> float:
        key = self._key(name, labels)
        with self._lock:
            if key in self._counters:
                return self._counters[key]
            return self._gauges.get(key, 0.0)

    @staticmethod
    def _render_family(items) -> list[str]:
        lines = []
        for (name, labels), value in sorted(items):
            if labels:
                lbl = ",".join(f'{k}="{v}"' for k, v in labels)
                lines.append(f"{name}{{{lbl}}} {value}")
            else:
                lines.append(f"{name} {value}")
        return lines

    def render_prometheus(self, include_process: bool = True) -> str:
        """Text exposition format (the reference's /metrics payload
        shape, reference ``src/prometheus.rs:157-164``). The reference
        also encodes the default process registry alongside the custom
        one — mirrored here with stdlib-derived process metrics."""
        with self._lock:
            lines = self._render_family(self._counters.items())
            lines += self._render_family(self._gauges.items())
        if include_process:
            lines += _process_metrics()
        return "\n".join(lines) + "\n"


_PROCESS_START = None


def _process_metrics() -> list[str]:
    """Default-registry parity (reference ``src/prometheus.rs:157-164``):
    CPU seconds, RSS bytes, start time — all stdlib, no psutil."""
    import resource
    import time

    global _PROCESS_START
    if _PROCESS_START is None:
        _PROCESS_START = time.time()
    ru = resource.getrusage(resource.RUSAGE_SELF)
    lines = [
        f"process_cpu_seconds_total {ru.ru_utime + ru.ru_stime:.3f}",
        f"process_start_time_seconds {_PROCESS_START:.3f}",
    ]
    try:
        with open("/proc/self/statm") as f:
            rss_pages = int(f.read().split()[1])
        page = resource.getpagesize()
        lines.append(f"process_resident_memory_bytes {rss_pages * page}")
    except (OSError, ValueError, IndexError):
        pass
    return lines


class LabeledCounts(NamedTuple):
    """One micro-batch's labeled registry updates, computed but not yet
    folded: ``(name, value, labels)`` counter increments and gauge
    settings."""

    counters: list[tuple[str, float, dict]]
    gauges: list[tuple[str, float, dict]]


def batch_labeled_counters(
    batch_df,
    topic: str = "topic_short",
    date: str = "date_str",
    is_debug: str = "is_debug",
    index: str = "index",
    app: str = "app",
    n_fields: str = "n_fields",
    max_label_values: int = 100,
) -> LabeledCounts:
    """G3 parity — per-(topic) and per-(topic, date) consumed/debug
    counters plus the per-(index, app) field-count gauge, computed in
    ONE tiny aggregation over the micro-batch (reference increments
    these per record, ``src/prometheus.rs:7-126``, gauge
    ``src/es.rs:353-355``).

    The collect is O(topics × dates × indexes × apps) rows of scalars —
    label cardinality, not data volume. ``app`` and ``index`` are
    user-data-derived and therefore UNBOUNDED; only the
    ``max_label_values`` highest-volume values of each keep their own
    gauge label, the tail is folded into ``__OTHER__`` so the registry
    (and the driver heap) stays bounded no matter what the stream
    carries. The gauge itself is the batch-volume-weighted mean of
    ``n_fields`` per (index, app) — deterministic regardless of
    collect row order. Call on a persisted batch_df inside foreachBatch
    (the runner handles persist/unpersist) and fold the result with
    :func:`fold_labeled_counters` once the batch has been delivered, so
    a failed attempt that the checkpoint replays is counted once."""
    from pyspark.sql import functions as F

    rows = (
        batch_df.groupBy(topic, date, index, app)
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.when(F.col(is_debug), 1).otherwise(0)).alias("n_debug"),
            F.avg(n_fields).alias("avg_fields"),
        )
        .collect()
    )
    per_topic: dict[str, list[float]] = {}
    per_topic_date: dict[tuple, list[float]] = {}
    app_volume: dict[str, int] = {}
    index_volume: dict[str, int] = {}
    for r in rows:
        t = per_topic.setdefault(r[topic], [0, 0])
        t[0] += r["n"]
        t[1] += r["n_debug"] or 0
        td = per_topic_date.setdefault((r[topic], r[date]), [0, 0])
        td[0] += r["n"]
        td[1] += r["n_debug"] or 0
        app_volume[r[app]] = app_volume.get(r[app], 0) + r["n"]
        index_volume[r[index]] = index_volume.get(r[index], 0) + r["n"]
    # top-N by batch volume keep their label value (ties broken by name
    # for determinism); everything else folds into __OTHER__
    keep_apps = set(
        sorted(app_volume, key=lambda a: (-app_volume[a], a))[:max_label_values]
    )
    keep_indexes = set(
        sorted(index_volume, key=lambda i: (-index_volume[i], i))[:max_label_values]
    )
    per_index_app: dict[tuple, list[float]] = {}
    for r in rows:
        key = (
            r[index] if r[index] in keep_indexes else "__OTHER__",
            r[app] if r[app] in keep_apps else "__OTHER__",
        )
        ia = per_index_app.setdefault(key, [0.0, 0])
        ia[0] += (r["avg_fields"] or 0.0) * r["n"]
        ia[1] += r["n"]
    gauges = [
        ("es_index_doc_fields", weighted / n if n else 0.0, {"index": i, "app": a})
        for (i, a), (weighted, n) in per_index_app.items()
    ]
    counters = []
    for t, (n, nd) in per_topic.items():
        counters.append(("pulsar_received_messages", n, {"topic": t}))
        counters.append(("pulsar_received_debug_messages", nd, {"topic": t}))
    for (t, d), (n, nd) in per_topic_date.items():
        counters.append(("pulsar_received_messages_by_date", n, {"topic": t, "date": d}))
        counters.append(
            ("pulsar_received_debug_messages_by_date", nd, {"topic": t, "date": d})
        )
    return LabeledCounts(counters, gauges)


def fold_labeled_counters(registry: MetricsRegistry, counts: LabeledCounts) -> None:
    """Apply one batch's :func:`batch_labeled_counters` to ``registry``."""
    for name, value, labels in counts.gauges:
        registry.set_gauge(name, value, **labels)
    for name, value, labels in counts.counters:
        registry.inc(name, value, **labels)


def record_batch_labeled_counters(registry: MetricsRegistry, batch_df, **columns) -> None:
    """Compute and fold in one step; ``columns`` are
    :func:`batch_labeled_counters`' keyword arguments."""
    fold_labeled_counters(registry, batch_labeled_counters(batch_df, **columns))


class ObservedMetricsListener(StreamingQueryListener):
    """Bridges ``observe()`` results into the registry. The reference's
    counter names are kept: pulsar_received_messages /
    pulsar_received_debug_messages (reference ``src/prometheus.rs:7-33``)."""

    def __init__(self, registry: MetricsRegistry, observation_name: str = "etl_metrics"):
        self.registry = registry
        self.observation_name = observation_name

    def onQueryStarted(self, event) -> None:  # noqa: N802
        pass

    def onQueryProgress(self, event) -> None:  # noqa: N802
        observed = event.progress.observedMetrics or {}
        row = observed.get(self.observation_name)
        if row is None:
            return
        d = row.asDict()
        self.registry.inc("pulsar_received_messages", d.get("consumed") or 0)
        self.registry.inc("pulsar_received_debug_messages", d.get("consumed_debug") or 0)

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        pass
