"""G3/K4 — streaming metrics parity (SURVEY.md §2.4/§2.6).

The reference exposes Prometheus counters (consumed / consumed-debug /
write success-failure, by topic and (topic, date)) via a warp HTTP
endpoint (reference ``src/prometheus.rs:7-194``). Spark-natively:

- the unlabeled consumed counters ride the stream itself via
  ``DataFrame.observe`` (no extra pass over the data), and a
  ``StreamingQueryListener`` collects each batch's observed values
  into an in-process registry;
- the labeled counters and the field gauge come from
  :func:`labeled_counts` over the rows of the runner's ONE collect of
  the micro-batch (``runner.sink_fn``), which also feeds the K2 debug
  echo and, for the bulk sink, the rate limiter and the ``_bulk``
  bodies — no second source scan, no aggregation job. The counters
  add six scalars per admitted row (plus the payloads of debug-topic
  rows) to what the driver holds, bounded by source admission like
  the sink's NDJSON;
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


def _escape_label(value) -> str:
    """Label value escaping of the text format 0.0.4: ``app`` comes
    from the log payload, and a raw quote or newline would let one
    message forge series on ``/metrics``."""
    return str(value).replace("\\", "\\\\").replace('"', '\\"').replace("\n", "\\n")


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
                lbl = ",".join(f'{k}="{_escape_label(v)}"' for k, v in labels)
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


LABEL_COLUMNS = ("topic_short", "date_str", "index", "app", "is_debug", "n_fields")


def labeled_counts(rows, max_label_values: int = 100) -> LabeledCounts:
    """G3 parity — per-(topic) and per-(topic, date) consumed/debug
    counters plus the per-(index, app) field-count gauge of one
    micro-batch (reference increments these per record,
    ``src/prometheus.rs:7-126``, gauge ``src/es.rs:353-355``).

    ``rows`` is a list of collected rows that start with
    :data:`LABEL_COLUMNS`, in that order; it is read twice. ``app`` and
    ``index`` are user-data-derived and therefore UNBOUNDED: only the
    ``max_label_values`` highest-volume values of each (ties broken by
    name) keep their own gauge label, the tail folds into ``__OTHER__``
    so the registry stays bounded no matter what the stream carries.
    The gauge is the mean of the non-null ``n_fields`` per (index, app).
    Fold the result with :func:`fold_labeled_counters` once the batch
    has been delivered, so a failed attempt that the checkpoint replays
    is counted once."""
    per_topic: dict[str, list[int]] = defaultdict(lambda: [0, 0])
    per_topic_date: dict[tuple, list[int]] = defaultdict(lambda: [0, 0])
    app_volume: dict[str, int] = defaultdict(int)
    index_volume: dict[str, int] = defaultdict(int)
    for topic, date, index, app, is_debug, *_ in rows:
        debug = 1 if is_debug else 0
        for c in (per_topic[topic], per_topic_date[(topic, date)]):
            c[0] += 1
            c[1] += debug
        app_volume[app] += 1
        index_volume[index] += 1

    def top(volume: dict) -> set:
        return set(sorted(volume, key=lambda v: (-volume[v], v))[:max_label_values])

    keep_apps, keep_indexes = top(app_volume), top(index_volume)
    per_index_app: dict[tuple, list[int]] = defaultdict(lambda: [0, 0])
    for _, _, index, app, _, n_fields, *_ in rows:
        ia = per_index_app[
            (
                index if index in keep_indexes else "__OTHER__",
                app if app in keep_apps else "__OTHER__",
            )
        ]
        if n_fields is not None:
            ia[0] += n_fields
            ia[1] += 1
    gauges = [
        ("es_index_doc_fields", total / n if n else 0.0, {"index": i, "app": a})
        for (i, a), (total, n) in per_index_app.items()
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


def batch_labeled_counters(batch_df) -> LabeledCounts:
    """:func:`labeled_counts` of a DataFrame carrying :data:`LABEL_COLUMNS`."""
    return labeled_counts(batch_df.select(*LABEL_COLUMNS).collect())


def fold_labeled_counters(registry: MetricsRegistry, counts: LabeledCounts) -> None:
    """Apply one batch's :func:`labeled_counts` to ``registry``."""
    for name, value, labels in counts.gauges:
        registry.set_gauge(name, value, **labels)
    for name, value, labels in counts.counters:
        registry.inc(name, value, **labels)


def record_batch_labeled_counters(registry: MetricsRegistry, batch_df) -> None:
    """Compute and fold in one step."""
    fold_labeled_counters(registry, batch_labeled_counters(batch_df))


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
