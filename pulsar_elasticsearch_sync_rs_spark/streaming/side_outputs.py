"""Debug side outputs K2/K3 and the metrics HTTP endpoint K4
(SURVEY.md §2.6).

- K2: topics listed in ``--debug-topics`` get their records echoed to
  the log (reference ``src/pulsar.rs:186-191,256-259``).
- K3: when UUID injection is on, each record is appended to a
  per-namespace(topic) text file (reference ``src/pulsar.rs:125-152,
  290-300``; Display format ``src/pulsar.rs:46-56``).
- K4: Prometheus text exposition over HTTP (reference warp server on
  :3030, ``src/prometheus.rs:157-194``).

Spark-first: K2/K3 run inside the runner's foreachBatch over the
pre-rate-limit micro-batch (persisted when K3 makes it a second pass)
— no second source scan, no extra shuffle. K2 reads the echo column
of the runner's one collect, which also feeds the labeled counters
(``metrics.labeled_counts``); K3's text write partitions by the
already-computed topic column. K4 serves the in-process registry.
"""

from __future__ import annotations

import logging
import threading
from http.server import BaseHTTPRequestHandler, ThreadingHTTPServer
from itertools import islice

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from pulsar_elasticsearch_sync_rs_spark.streaming.metrics import MetricsRegistry

log = logging.getLogger("pulsar_es_sync_spark")


ECHO_COLUMN = "echo_value"


def echo_column(debug_topics: tuple[str, ...]) -> Column:
    """K2's column of the runner's collect: the payload of debug-topic
    records, NULL for every other record."""
    return F.when(F.col("topic_short").isin(list(debug_topics)), F.col("value")).alias(
        ECHO_COLUMN
    )


def echo_debug_rows(rows, max_rows: int = 100) -> None:
    """K2 — log the records whose :func:`echo_column` is set (bounded
    sample per batch; the reference logs every record at info,
    unbounded — capped here so a hot topic can't flood the driver
    log)."""
    echoed = (r for r in rows if r[ECHO_COLUMN] is not None)
    for r in islice(echoed, max_rows):
        log.info("debug topic %s: %s", r["topic_short"], r[ECHO_COLUMN])


def write_debug_files(batch_df: DataFrame, out_dir: str) -> None:
    """K3 — per-topic text side output of the ChannelPayload display
    form ``topic|publish_time|date_str|value`` (reference
    ``src/pulsar.rs:46-56``), partitioned by topic (one directory per
    namespace file, append mode)."""
    (
        batch_df.select(
            F.col("topic_short"),
            F.concat_ws(
                "|",
                F.col("topic_short"),
                (F.unix_millis("publish_time")).cast("string"),
                F.col("date_str"),
                F.col("value"),
            ).alias("value_line"),
        )
        .withColumnRenamed("value_line", "value")
        .write.mode("append")
        .partitionBy("topic_short")
        .text(out_dir)
    )


class MetricsHttpServer:
    """K4 — ``GET /metrics`` in Prometheus text exposition, default
    port 3030 like the reference. Runs on a daemon thread."""

    def __init__(self, registry: MetricsRegistry, host: str = "0.0.0.0", port: int = 3030):
        registry_ref = registry

        class Handler(BaseHTTPRequestHandler):
            def do_GET(self):  # noqa: N802
                if self.path != "/metrics":
                    self.send_response(404)
                    self.end_headers()
                    return
                body = registry_ref.render_prometheus().encode()
                self.send_response(200)
                self.send_header("Content-Type", "text/plain; version=0.0.4")
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

            def log_message(self, *args):  # silence per-request lines
                pass

        self._server = ThreadingHTTPServer((host, port), Handler)
        self._thread: threading.Thread | None = None

    @property
    def port(self) -> int:
        return self._server.server_address[1]

    def start(self) -> "MetricsHttpServer":
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)
        self._thread.start()
        return self

    def stop(self) -> None:
        self._server.shutdown()
        self._server.server_close()
