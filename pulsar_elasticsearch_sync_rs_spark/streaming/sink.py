"""Bulk sink (K1/G1/G2 of SURVEY.md §2.4/§2.6) — the Spark-native
replacement for the reference's Elasticsearch ``_bulk`` writer
(reference ``src/es.rs:109-191``).

Design: ``foreachBatch`` receives each micro-batch (the flush unit —
G2's hybrid count/time policy maps to trigger interval + source
admission limits), groups by the dynamic ``index`` routing column
(G1's BufferMap), and hands every (index → rows) group to a pluggable
bulk transport:

- ``ParquetBulkTransport`` — the test/verification sink: one parquet
  dataset partitioned by index (file layout ≡ index routing).
- ``EsBulkTransport`` — real Elasticsearch ``_bulk`` over HTTP, sent
  from the driver inside the ``foreachBatch`` callback like the
  reference's single sink loop; the NDJSON lines are built JVM-side
  and collected in one job, so the per-batch path starts no Python
  worker. The ETL runner folds that collect into its own, the one
  Spark job of an ETL micro-batch (``runner.run_pipeline_stream``).
  Unlike the reference (ack-before-write, at-most-once, no retry —
  ``src/pulsar.rs:227-232``, ``src/es.rs:165``), checkpointed
  foreachBatch gives at-least-once; documents carry no _id, matching
  the reference's auto-id behavior.

Scale: the partitionBy write shuffles nothing (dynamic partition write
is a per-task file split). The ES transport holds one micro-batch of
NDJSON on the driver (about 1.1 MB per 1,000 log-sized docs; under the
runner, the rows its rate limiter drops are collected too); source
admission (``maxEntriesPerTrigger`` / ``maxFilesPerTrigger``) bounds
that batch, the port's equivalent of the reference's bounded channel
(X1), and the body is cut into ``buffer_size``-doc bulk calls, exactly
the reference's buffering.
"""

from __future__ import annotations

import json
from dataclasses import dataclass, field

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass
class ParquetBulkTransport:
    """Test sink: write each micro-batch to parquet partitioned by the
    routing column — the observable equivalent of per-index bulk
    indexing. APPEND semantics: a replayed micro-batch duplicates its
    rows, mirroring an id-less ES bulk (auto-ids duplicate on retry).
    For a job that may be restarted/replayed, use
    :class:`IdempotentParquetBulkTransport`."""

    path: str
    index_col: str = "index"

    def write(self, batch_df: DataFrame, batch_id: int) -> None:
        (
            batch_df.write.mode("append")
            .partitionBy(self.index_col)
            .parquet(self.path)
        )


@dataclass
class IdempotentParquetBulkTransport:
    """Replay-safe parquet sink: each micro-batch OVERWRITES its own
    ``.../batch=<id>`` slice, so an at-least-once replay rewrites
    identical files instead of appending duplicates — the parquet
    analog of ``EsBulkTransport(id_col=...)``'s overwrite-by-id. Read
    the whole dataset back with one ``spark.read.parquet(path)``
    (``batch`` becomes a partition column)."""

    path: str
    index_col: str = "index"

    def write(self, batch_df: DataFrame, batch_id: int) -> None:
        import os

        (
            batch_df.write.mode("overwrite")
            .partitionBy(self.index_col)
            .parquet(os.path.join(self.path, f"batch={batch_id}"))
        )


@dataclass
class EsBulkTransport:
    """Real ES bulk transport: the driver collects the micro-batch's
    pre-serialized ``{"index": {"_index": idx}}\\n{doc}`` NDJSON pairs
    (one JVM job) and POSTs them in row order, in sequence, as bodies
    of ``buffer_size`` actions (reference default 1000,
    ``src/args.rs:105-107``). Sending from the driver keeps Python
    workers off the per-batch path: every Python-worker task costs a
    fixed ~0.2 s of CPU before user code runs (PySpark's per-task
    import-cache invalidation), more than the whole send of a
    log-sized micro-batch.

    ``write`` is the two halves in one call: collect
    :meth:`payload_columns`, then :meth:`post` the rows. The ETL runner
    calls the halves itself: it collects the payload in the same job as
    its accounting and rate-limit columns, and posts the rows its
    driver-side limiter keeps.

    Memory bound: the driver holds one micro-batch of NDJSON, about
    1.1 KB per log-sized doc. Source admission bounds the batch —
    ``maxEntriesPerTrigger = cfg.batch_size`` for the pulsar source
    (``runner.pulsar_reader_options``), ``maxFilesPerTrigger`` for the
    file source — the port's equivalent of the reference's bounded
    channel (X1, ``src/main.rs:61``).

    K1 parity — per-item error accounting: Elasticsearch returns HTTP
    200 with ``"errors": true`` when individual items were rejected;
    the reference walks the response items and splits success/failure
    counts per index (reference ``src/es.rs:155-188``, counters
    ``src/prometheus.rs:35-126``). Each response's items are counted
    as they arrive into per-index ``[ok, failed]`` stats (kept as
    ``last_stats``) and folded into ``registry`` as
    ``es_write_success`` / ``es_write_failure`` labeled by index.

    ``strict=True`` raises on any item failure so the checkpointed
    foreachBatch retries the micro-batch (at-least-once); the default
    mirrors the reference (count and continue).

    ``id_col`` (opt-in): use a row column as the document ``_id``. The
    reference sends id-less actions so ES auto-generates ids and any
    retry duplicates (``src/es.rs:364,372``; SURVEY.md §1.4). With a
    deterministic id (e.g. the injected UUID or a content sha), replays
    of a retried micro-batch overwrite instead of duplicating —
    at-least-once delivery becomes effectively-once in the index. Kept
    off by default for reference parity."""

    es_url: str
    index_col: str = "index"
    doc_col: str = "doc"
    buffer_size: int = 1000
    registry: object | None = None  # MetricsRegistry, driver-side only
    strict: bool = False
    id_col: str | None = None
    last_stats: dict = field(default_factory=dict, compare=False)

    def payload_columns(self) -> list[Column]:
        """The two columns :meth:`post` reads, built JVM-side (to_json
        and concat run in whole-stage codegen; the reference serializes
        in-process, src/es.rs:129-191): ``__idx``, the routing index,
        and ``__line``, the action line (with ``_id`` when ``id_col`` is
        set), a newline and the doc."""
        meta = [F.col(self.index_col).alias("_index")]
        if self.id_col is not None:
            meta.append(F.col(self.id_col).cast("string").alias("_id"))
        action = F.to_json(F.struct(F.struct(*meta).alias("index")))
        doc = F.coalesce(F.to_json(F.col(self.doc_col)), F.lit("{}"))
        return [
            F.col(self.index_col).alias("__idx"),
            F.concat(action, F.lit("\n"), doc).alias("__line"),
        ]

    def write(self, batch_df: DataFrame, batch_id: int) -> None:
        """Collect the batch's :meth:`payload_columns` (one job) and
        :meth:`post` them."""
        self.post(batch_df.select(*self.payload_columns()).collect(), batch_id)

    def post(self, rows, batch_id: int) -> None:
        """POST ``(__idx, __line)`` rows in order as ``buffer_size``-action
        bodies, then fold the per-index results into ``registry``."""
        stats: dict[str, list[int]] = {}
        for start in range(0, len(rows), self.buffer_size):
            self._post(rows[start : start + self.buffer_size], stats)
        self.last_stats = stats
        n_failed_total = sum(f for _, f in stats.values())
        if self.strict and n_failed_total:
            # raise BEFORE touching the registry: foreachBatch will retry
            # this micro-batch, and counters already folded in would be
            # incremented again on the replay, inflating es_write_success
            # for the items that were accepted the first time
            raise RuntimeError(
                f"bulk batch {batch_id}: {n_failed_total} item(s) rejected by ES"
            )
        if self.registry is not None:
            for idx, (n_ok, n_failed) in stats.items():
                if n_ok:
                    self.registry.inc("es_write_success", n_ok, index=idx)
                if n_failed:
                    self.registry.inc("es_write_failure", n_failed, index=idx)

    def _post(self, chunk: list, stats: dict[str, list[int]]) -> None:
        """POST one ``_bulk`` body of (index, "action\\ndoc") rows and
        count each item's result into ``stats[index] = [ok, failed]``."""
        import urllib.request

        body = "\n".join(row[1] for row in chunk) + "\n"
        req = urllib.request.Request(
            f"{self.es_url}/_bulk",
            data=body.encode(),
            headers={"Content-Type": "application/x-ndjson"},
        )
        with urllib.request.urlopen(req, timeout=30) as http_resp:
            raw = http_resp.read()
        try:
            resp = json.loads(raw) if raw else {}
        except ValueError:
            resp = {"errors": True, "items": []}
        # items are positionally parallel to the actions sent
        items = (resp.get("items") or []) if resp.get("errors") else None
        for pos, row in enumerate(chunk):
            s = stats.setdefault(row[0], [0, 0])
            if items is not None:
                op = items[pos].get("index", {}) if pos < len(items) else {}
                if op.get("error") is not None or int(op.get("status", 599)) >= 300:
                    s[1] += 1
                    continue
            s[0] += 1

