"""Streaming end-to-end curation ingestion — the reference's topology
(consume → filter → transform → rate-limit → bulk sink; reference
``src/main.rs:27-77`` wiring ``consume_loop`` →
``sink_elasticsearch_loop``, transform chain ``src/pulsar.rs:227-318``,
buffered bulk sink ``src/es.rs:109-191``, per-app limiter
``src/ratelimiter.rs``) carrying the LLM curation operators instead of
the log-ETL chain: ONE checkpointed ``foreachBatch`` job that gates,
decontaminates, dedups (within-batch AND against everything already
ingested), rate-limits and lands each arriving micro-batch of
documents.

This composes pieces that are individually tested elsewhere —
``functions.text.quality_score`` / ``repetition_signals`` (gate),
``operators.decontaminate`` (bench-gram anti-join with the measured
broadcast guard), the min-id exact-dedup survivor rule of
``plans.llm_queries.q_llm_pipeline``, and the bulk-transport sink of
``streaming/sink.py`` — into the shape a real ingest deployment runs.

Cross-batch dedup state is the ACCUMULATED SHA INDEX — a Spark-native
BUCKETED table (``bucketBy(N_BUCKETS, sha)``, partitioned by
``batch``) at ``sha_dir``, the streaming twin of
``operators.dedup.persist_sha_index``: every admitted batch lands its
(sha, doc_id) pairs as one ``batch=<id>`` partition written in bucket
layout, and the next batch's anti-join reads the history CO-LOCATED —
the increment repartitions its (bounded, per-batch) rows to the bucket
count while the accumulated history, which grows without bound, never
re-shuffles (plan-pinned in tests, same invariant as
``test_incremental_dedup_bucketed_history_never_shuffles``). At 100 TB
the history side is the scale term; paying a shuffle proportional to
the micro-batch instead of the corpus is the difference between a
constant-cost trigger and one that degrades linearly with ingest age.

Idempotency: checkpointed foreachBatch is at-least-once, so every
write is a per-batch OVERWRITE into ``.../batch=<id>`` — a replayed
micro-batch rewrites identical files instead of duplicating (the same
recipe as the mview/ES crash-replay lanes). The sha index a replayed
batch N reads may already contain batch N's own shas from the first
attempt; the anti-join would then drop ALL its rows, so the index
read explicitly excludes the ``batch=<N>`` slice being rewritten.

Survivor-rule parity with the batch pipeline: within a micro-batch
the survivor is min(doc_id) per sha (deterministic); across batches
it is first-arrival (earlier batch wins). When arrival order is
doc_id-ordered — the replay/backfill case — this equals the batch
``q_llm_pipeline`` min-id rule exactly; under out-of-order arrival it
is the standard streaming first-wins divergence, same as
``dedup_stream_against_corpus``.
"""

from __future__ import annotations

import hashlib
import os
from typing import NamedTuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..functions.json_fns import json_literal
from ..functions.text import shingles_from_tokens, ws_tokens
from ..operators.decontaminate import stored_gram_set
from ..operators.layout_io import hadoop_fs
from ..sources.batch import parquet_schema

# The fixed curation dataflow: every ingest runs with these values.
GRAM_N = 5  # decontamination word n-gram length
QUALITY_MIN = 0.65  # default gate: quality score floor
DUP_WORD_MAX = 0.6  # default gate: duplicate-word fraction ceiling
TOP_BIGRAM_MAX = 0.1  # default gate: top-bigram fraction ceiling
RATE_KEY = "source"  # the column ``rate_limits`` caps per micro-batch
ID_COL = "doc_id"
TEXT_COL = "text"
N_BUCKETS = 16  # bucket count of the sha and band indexes
ND_NUM_HASHES = 32  # near-dup MinHash signature length
ND_BANDS = 8  # near-dup LSH bands
ND_SHINGLE_K = 3  # near-dup verify shingle length (exact Jaccard)
ND_MAX_BUCKET = 1024  # near-dup band bucket size before hub degrade


class _Index(NamedTuple):
    """The fixed layout of one accumulated bucketed index: every slice
    write, re-registration and compaction of it reads this one spec."""

    prefix: str  # catalog table name = prefix + md5(directory)[:12]
    bucket_col: str
    cols: tuple[str, ...]
    ddl: str

    def table(self, path: str) -> str:
        """Deterministic catalog name for the index rooted at ``path``
        — bucket metadata lives in the metastore, so the index must be
        a named table; deriving the name from the path keeps concurrent
        jobs with distinct state dirs from colliding, and the ingest
        job and the compactor from targeting different entries."""
        return self.prefix + hashlib.md5(path.encode()).hexdigest()[:12]


_SHA = _Index(
    "curation_sha_", "sha", ("sha", ID_COL), f"sha STRING, {ID_COL} BIGINT"
)
_BANDS = _Index(
    "curation_bands_",
    "band_hash",
    ("band_id", "band_hash", ID_COL),
    f"band_id INT, band_hash STRING, {ID_COL} BIGINT",
)


def _run_overlapped(thunks) -> None:
    """Run independent per-batch actions CONCURRENTLY (guide §2.6 —
    overlap independent jobs so one write's straggler tail back-fills
    with the next write's tasks), sequentially when there is only one.
    Exceptions propagate exactly as the sequential shape's would: the
    first failure raises out of the micro-batch after every in-flight
    action has finished (no half-submitted work left racing the
    foreachBatch replay)."""
    if len(thunks) == 1:
        thunks[0]()
        return
    from concurrent.futures import ThreadPoolExecutor

    with ThreadPoolExecutor(max_workers=len(thunks)) as pool:
        futures = [pool.submit(t) for t in thunks]
        errs = [f.exception() for f in futures]
    for e in errs:
        if e is not None:
            raise e


# history-verify candidate ids at or below this count ride an In-filter
# pushed into the corpus parquet scan (row-group pruning on the id
# column's footer stats); above it, the broadcast-semi-join fallback
# (still ids only — never pair×text rows). The cap bounds both the
# driver collect and the literal list Catalyst has to carry.
_HIST_ISIN_MAX = 10_000

def _read_history(spark, out_dir: str) -> DataFrame:
    # the near-dup verify re-reads out_dir every batch; every batch
    # lands the same admitted projection, so the corpus schema is fixed
    # for the stream's lifetime: no per-batch inference job
    return spark.read.schema(parquet_schema(spark, out_dir)).parquet(out_dir)


def _sha_table_name(sha_dir: str) -> str:
    """Catalog name of the sha index rooted at ``sha_dir``."""
    return _SHA.table(sha_dir)


def _dir_has_batches(spark, path: str) -> bool:
    fs, hpath = hadoop_fs(spark, path)
    if not fs.exists(hpath):
        return False
    return any(
        st.getPath().getName().startswith("batch=")
        for st in fs.listStatus(hpath)
    )


_SPEC_FILE = "_BUCKET_SPEC"


def _write_bucket_spec(spark, path: str, bucket_col: str, n_buckets: int) -> None:
    fs, hpath = hadoop_fs(spark, f"{path.rstrip('/')}/{_SPEC_FILE}")
    out = fs.create(hpath, True)
    out.write(bytearray(f"{bucket_col}:{int(n_buckets)}".encode("utf-8")))
    out.close()


def _read_bucket_spec(spark, path: str) -> tuple[str, int] | None:
    fs, hpath = hadoop_fs(spark, f"{path.rstrip('/')}/{_SPEC_FILE}")
    if not fs.exists(hpath):
        return None
    jvm = spark._jvm
    reader = jvm.java.io.BufferedReader(jvm.java.io.InputStreamReader(fs.open(hpath)))
    try:
        line = reader.readLine() or ""
    finally:
        reader.close()
    col, _, n = line.partition(":")
    return (col, int(n)) if n.isdigit() else None


def _assert_catalog_entry_matches(
    spark, table: str, path: str, bucket_col: str, n_buckets: int
) -> None:
    """A catalog hit alone is not proof the registered table IS this
    index: a table name bound to a different directory or bucket count
    (say, by another job sharing the session) would silently read and
    write the WRONG table — bypassing the ``_BUCKET_SPEC`` sidecar
    guard entirely (the sidecar is only consulted on the
    re-registration path). Assert the catalog entry's location and
    bucket spec against the caller's config; a mismatch is the same
    loud drift error as the sidecar check, never a guess.

    Deliberately NOT cached: the CALLER's config cannot drift within a
    session, but the CATALOG side can — a concurrent DROP + saveAsTable
    on a shared session re-binds the name to a different location, and
    a once-validated cache would wave the stale binding through (the
    exact silent wrong-table outcome this assert exists to prevent).
    The DESCRIBE is a driver-side catalog lookup, a few ms against a
    multi-second trigger."""
    rows = {
        r.col_name: (r.data_type or "")
        for r in spark.sql(f"DESCRIBE TABLE EXTENDED {table}").collect()
    }
    fs, hpath = hadoop_fs(spark, path)
    want_loc = str(fs.makeQualified(hpath)).rstrip("/")
    got_loc = rows.get("Location", "").rstrip("/")
    got_n = rows.get("Num Buckets", "")
    got_cols = [
        c.strip().strip("`")
        for c in rows.get("Bucket Columns", "").strip("[]").split(",")
        if c.strip()
    ]
    if got_loc != want_loc or got_n != str(int(n_buckets)) or got_cols != [bucket_col]:
        raise ValueError(
            f"catalog table {table} is registered at location "
            f"'{got_loc}' CLUSTERED BY ({', '.join(got_cols)}) INTO "
            f"{got_n or '?'} BUCKETS but this job is configured for "
            f"location '{want_loc}' ({bucket_col}, {n_buckets}) - the "
            "table name is already taken by a different index; use a "
            "different index directory, or drop the stale catalog entry"
        )


def _bucketed_table_ready(
    spark, table: str, path: str, n_buckets: int, ddl_cols: str, bucket_col: str
) -> bool:
    """Whether an accumulated per-batch bucketed index EXISTS — decided
    by filesystem truth (Hadoop FS API — remote paths included), not
    the catalog alone: the default session catalog is in-memory, so a
    cross-process restart forgets every saveAsTable registration while
    ``path`` still holds the full history. A catalog-only check would
    then silently skip cross-batch dedup (re-admitting every
    previously-ingested duplicate) AND route the next write down the
    CREATE path, clobbering the history. If the directory has data but
    the catalog doesn't know it, RE-REGISTER the same external
    bucketed table over the existing files (DDL + partition recovery)
    and carry on — validating the caller's bucket config against the
    ``_BUCKET_SPEC`` sidecar the create wrote: re-registering 16-bucket
    files as an 8-bucket table would silently break the co-located
    join the dedup relies on, so a drift is a loud error, never a
    guess."""
    if spark.catalog.tableExists(table):
        _assert_catalog_entry_matches(spark, table, path, bucket_col, n_buckets)
        return True
    if not _dir_has_batches(spark, path):
        return False
    spec = _read_bucket_spec(spark, path)
    if spec is not None and spec != (bucket_col, int(n_buckets)):
        raise ValueError(
            f"bucketed index at {path} was written as "
            f"CLUSTERED BY ({spec[0]}) INTO {spec[1]} BUCKETS but this job "
            f"is configured for ({bucket_col}, {n_buckets}) - restart with "
            "the original bucket config (or rebuild the index)"
        )
    if spec is None:
        # pre-spec index (or a create that crashed between saveAsTable
        # and the spec write): back-fill from the caller's config so
        # every FUTURE restart is drift-guarded; this one registration
        # necessarily trusts the caller
        _write_bucket_spec(spark, path, bucket_col, n_buckets)
    spark.sql(
        f"""CREATE TABLE {table} ({ddl_cols}, batch INT)
        USING PARQUET PARTITIONED BY (batch)
        CLUSTERED BY ({bucket_col}) SORTED BY ({bucket_col})
        INTO {int(n_buckets)} BUCKETS
        LOCATION '{path}'"""
    )
    spark.sql(f"MSCK REPAIR TABLE {table}")
    return True


def prior_sha_anti_join(
    spark,
    sha_table: str,
    batch_hashed: DataFrame,
    exclude_batch: int,
    n_buckets: int,
) -> DataFrame:
    """Anti-join this batch's hashed rows (column ``__sha``) against
    the accumulated index, minus the ``batch=<exclude_batch>``
    partition a replay would be rewriting (a partition filter, pruned
    at planning time — a replayed batch never anti-joins its own first
    attempt). The batch side is pinned to the index's bucket count so
    the history scan satisfies the join distribution AS WRITTEN:
    exactly one Exchange (the increment) and none above the table scan
    — the plan shape ``test_curation_sha_history_never_shuffles``
    machine-checks. Factored out of the foreachBatch closure precisely
    so that pin can be asserted on a batch plan."""
    prior = (
        spark.table(sha_table)
        .filter(F.col("batch") != exclude_batch)
        .select(F.col("sha").alias("__sha"))
    )
    return batch_hashed.repartition(n_buckets, "__sha").join(
        prior, "__sha", "left_anti"
    )


def _write_sha_slice(
    pairs: DataFrame,
    sha_table: str,
    sha_dir: str,
    batch_id: int,
    n_buckets: int,
    lineage_safe: bool = False,
) -> None:
    """Land this batch's (sha, doc_id) pairs as the ``batch=<id>``
    partition of the bucketed index. First write creates the table
    (``partitionBy(batch) + bucketBy(sha) + sortBy(sha)``); every
    later batch is a STATIC-partition ``INSERT OVERWRITE … PARTITION
    (batch=<id>)`` — it replaces exactly its own slice with no session
    conf involved (a ``partitionOverwriteMode`` flip would be
    session-global and race concurrent writers on a shared session,
    and the per-writer option is ignored on the catalog-table insert
    path — both measured). A replayed micro-batch rewrites identical
    files instead of appending duplicates, preserving the module's
    idempotency contract under the bucketed layout."""
    _write_bucketed_slice(
        pairs, _SHA, sha_table, sha_dir, batch_id, n_buckets, lineage_safe
    )


def _write_bucketed_slice(
    df: DataFrame,
    index: _Index,
    table: str,
    path: str,
    batch_id: int,
    n_buckets: int,
    lineage_safe: bool = False,
) -> None:
    """Shared write path of the per-batch bucketed indexes (sha,
    bands). The slice's lineage typically contains the anti-join that
    READS this same table; SQL INSERT OVERWRITE rejects
    read-your-own-target plans, so the (bounded, per-batch) slice is
    materialized first — which is also the correct failure order: the
    rows are fixed before the target partition is touched.

    ``lineage_safe=True``: the CALLER vouches the frame's lineage is
    already truncated of any read of ``table`` (e.g. it derives only
    from eager localCheckpoints) — the defensive checkpoint is
    skipped, saving one Spark job per slice per micro-batch. The
    explicit bucket-column repartition stays either way: without it
    each upstream task writes its own set of n_buckets bucket files
    (tasks × buckets tiny files per partition)."""
    spark = df.sparkSession
    bucket_col, cols = index.bucket_col, index.cols
    if not _bucketed_table_ready(spark, table, path, n_buckets, index.ddl, bucket_col):
        (
            df.select(*cols, F.lit(batch_id).cast("int").alias("batch"))
            .repartition(n_buckets, bucket_col)
            .write.mode("overwrite")
            .partitionBy("batch")
            .bucketBy(n_buckets, bucket_col)
            .sortBy(bucket_col)
            .option("path", path)
            .saveAsTable(table)
        )
        _write_bucket_spec(spark, path, bucket_col, n_buckets)
        return
    slice_df = df.select(*cols).repartition(n_buckets, bucket_col)
    if not lineage_safe:
        slice_df = slice_df.localCheckpoint(eager=True)
    view = f"{table}_slice"
    slice_df.createOrReplaceTempView(view)
    try:
        spark.sql(
            f"INSERT OVERWRITE TABLE {table} PARTITION (batch={int(batch_id)}) "
            f"SELECT {', '.join(cols)} FROM {view}"
        )
    finally:
        spark.catalog.dropTempView(view)


_COMPACT_STATE = "_COMPACT_STATE"


def _write_compact_state(spark, path: str, slot: int, watermark: int) -> None:
    """Record the active consolidated slot + fold high-watermark. Land
    via temp + rename so a crash mid-write can never leave a
    half-state that parses; the (tiny) delete→rename window where the
    state is ABSENT degrades to the state-less defensive path below,
    which is lossless by construction."""
    fs, dst = hadoop_fs(spark, f"{path.rstrip('/')}/{_COMPACT_STATE}")
    _, tmp = hadoop_fs(spark, f"{path.rstrip('/')}/.{_COMPACT_STATE}.tmp")
    out = fs.create(tmp, True)
    out.write(bytearray(f"{int(slot)}:{int(watermark)}".encode("utf-8")))
    out.close()
    if fs.exists(dst):
        fs.delete(dst, False)
    # Hadoop rename reports failure by RETURNING false, not raising
    if not fs.rename(tmp, dst):
        raise IOError(f"could not commit {dst} (rename returned false)")


def _read_compact_state(spark, path: str) -> tuple[int, int] | None:
    """(active_slot, watermark) or None — unparseable/absent both read
    as None (the defensive fold-everything path)."""
    fs, hpath = hadoop_fs(spark, f"{path.rstrip('/')}/{_COMPACT_STATE}")
    if not fs.exists(hpath):
        return None
    jvm = spark._jvm
    reader = jvm.java.io.BufferedReader(jvm.java.io.InputStreamReader(fs.open(hpath)))
    try:
        line = reader.readLine() or ""
    finally:
        reader.close()
    slot, _, w = line.partition(":")
    try:
        return (int(slot), int(w))
    except ValueError:
        return None


def _list_partition_ids(spark, path: str) -> dict[int, object]:
    """{batch_id: hadoop Path} for every batch=<id> directory on the
    FILESYSTEM — the compactor's truth is the files (catalog entries
    are derived, and the in-memory catalog forgets across processes)."""
    fs, root = hadoop_fs(spark, path)
    if not fs.exists(root):
        return {}
    out: dict[int, object] = {}
    for st in fs.listStatus(root):
        name = st.getPath().getName()
        if name.startswith("batch="):
            try:
                out[int(name.split("=", 1)[1])] = st.getPath()
            except ValueError:
                continue
    return out


def _count_part_files(spark, path: str, hpath) -> int:
    fs, _ = hadoop_fs(spark, path)
    if not fs.exists(hpath):
        return 0
    return sum(
        1
        for st in fs.listStatus(hpath)
        if st.getPath().getName().startswith("part-")
    )


def _drop_slice(spark, table: str, path: str, batch_id: int, hpath) -> None:
    """Remove a folded slice: catalog partition first (so table reads
    stop listing it), then the files (external-table DROP PARTITION is
    metadata-only — without the physical delete an MSCK after a
    catalog loss would resurrect the folded rows)."""
    spark.sql(f"ALTER TABLE {table} DROP IF EXISTS PARTITION (batch={int(batch_id)})")
    fs, _ = hadoop_fs(spark, path)
    fs.delete(hpath, True)


def compact_index_batches(spark, path: str, index: _Index, retain: int = 1) -> dict:
    """Fold closed ``batch=<id>`` partitions of a streaming bucketed
    index (the sha/bands indexes this module accumulates) into ONE
    consolidated slice, bounding partition count at ~(1 + retain) and
    file count at ~``N_BUCKETS`` per consolidated generation — without
    this, every micro-batch adds a partition ×``N_BUCKETS`` bucket
    files FOREVER (at a 5 s trigger, ~550k files/day across both
    indexes), and partition listing, MSCK re-registration after a
    restart, and scan planning all degrade with partition count long
    before data volume matters.

    Mechanics. The consolidated slice lives in a NEGATIVE partition id
    (streaming batch ids are ≥ 0, so the two ranges can never collide);
    each compaction writes a NEW generation at ``min(present ids) - 1``
    from a path-based read of the closed slices + the previous
    generation (the catalog INSERT path rejects any self-read of the
    target table, even partition-disjoint — measured
    ``UNSUPPORTED_OVERWRITE.TABLE``; reading the slice DIRECTORIES
    sidesteps that while the write stays a static-partition INSERT
    OVERWRITE, so the folded slice is real bucket-file layout under the
    SAME ``_BUCKET_SPEC`` and the dedup anti-join keeps its co-located,
    one-Exchange plan). The fold repartitions to the bucket count, so
    its cost is one shuffle of the (skinny: hashes + ids, never text)
    index — the amortized price of O(1) partition count.

    Crash safety / idempotency: NOTHING is ever deleted that was not
    folded into the new generation BY THIS RUN — there is no
    trust-the-state cleanup path, so no state corruption, watermark
    staleness, or batch-id reuse (a stream restarted on a FRESH
    checkpoint restarts ids at 0, below any recorded watermark) can
    turn into data loss. In write order:
      1. the fold INSERT commits into a fresh slot (every source —
         closed batches AND every existing negative generation,
         including crash-leftover duplicates — was read into it);
      2. ``_COMPACT_STATE`` (slot + fold high-watermark) lands
         atomically — purely INFORMATIONAL (reports, tests), never a
         deletion authority;
      3. the sources just folded are dropped (catalog partition, then
         files). A crash between 1 and 3 leaves duplicate generations;
         the next run treats them as sources again (a re-read of
         identical rows, collapsed by the fold) and converges.
    Duplicates are harmless throughout because both consumers treat
    the index as a SET (anti-join membership; band candidates are
    ``.distinct()``-ed), which is what makes every crash window above
    converge instead of corrupt.

    Concurrency: run between micro-batches (the ``compact_every`` hook
    of ``run_curation_ingest`` does exactly that, inside the
    sequential foreachBatch) or while the stream is stopped. ``retain``
    newest batch slices present are never touched — whatever their
    ids, so the rule survives batch-id restarts — keeping the one
    batch a checkpointed restart can replay overwritable (``retain=0``
    folds everything: stopped streams only). A reader planned BEFORE a
    fold commits may list files the delete phase removes — within the
    single-writer foreachBatch envelope that reader ordering cannot
    happen.

    Returns a report dict: folded batch ids, previous/new slot, files
    folded vs slot files after, partitions before/after.
    """
    table, bucket_col, cols = index.table(path), index.bucket_col, index.cols
    if not _bucketed_table_ready(spark, table, path, N_BUCKETS, index.ddl, bucket_col):
        return {
            "folded_batches": [],
            "slot": None,
            "watermark": None,
            "partitions_before": 0,
            "partitions_after": 0,
            "files_folded": 0,
            "slot_files": 0,
        }

    state = _read_compact_state(spark, path)
    active, prev_w = state if state is not None else (None, -1)
    present = _list_partition_ids(spark, path)
    parts_before = len(present)

    # every negative generation is a fold source: the active one plus
    # any crash leftovers (never deleted unread — see docstring)
    sources = {b: present[b] for b in present if b < 0}
    open_ids = sorted(b for b in present if b >= 0)
    # max(0, ...) on the SLICE BOUND too: retain > open-slice count must
    # fold NOTHING — a bare negative bound would wrap Python's slice
    # end-relative and fold the oldest slices the contract promises to
    # keep
    keep = max(0, int(retain))
    closed_ids = open_ids[: max(0, len(open_ids) - keep)]
    closed = {b: present[b] for b in closed_ids}
    if not closed and len(sources) <= 1:
        return {
            "folded_batches": [],
            "slot": active,
            "watermark": prev_w,
            "partitions_before": parts_before,
            "partitions_after": len(present),
            "files_folded": 0,
            "slot_files": 0,
        }

    new_slot = min(list(present) + [0]) - 1
    fold = {**closed, **sources}
    files_folded = sum(_count_part_files(spark, path, p) for p in fold.values())
    schema = spark.table(table).drop("batch").schema
    src = (
        spark.read.schema(schema)
        .parquet(*[str(p) for p in fold.values()])
        .select(*cols)
        .repartition(N_BUCKETS, bucket_col)
    )
    view = f"{table}_fold"
    src.createOrReplaceTempView(view)
    try:
        spark.sql(
            f"INSERT OVERWRITE TABLE {table} PARTITION (batch={new_slot}) "
            f"SELECT {', '.join(cols)} FROM {view}"
        )
    finally:
        spark.catalog.dropTempView(view)

    new_w = max([prev_w] + list(closed))
    _write_compact_state(spark, path, new_slot, new_w)
    for b, p in fold.items():
        _drop_slice(spark, table, path, b, p)

    fs, root = hadoop_fs(spark, path)
    slot_path = spark._jvm.org.apache.hadoop.fs.Path(root, f"batch={new_slot}")
    return {
        "folded_batches": sorted(closed),
        "previous_slot": active,
        "slot": new_slot,
        "watermark": new_w,
        "partitions_before": parts_before,
        "partitions_after": len(_list_partition_ids(spark, path)),
        "files_folded": files_folded,
        "slot_files": _count_part_files(spark, path, slot_path),
    }


def compact_sha_index(spark, sha_dir: str, retain: int = 1) -> dict:
    """``compact_index_batches`` of the accumulated sha index."""
    return compact_index_batches(spark, sha_dir, _SHA, retain)


def compact_bands_index(spark, bands_dir: str) -> dict:
    """``compact_index_batches`` of the accumulated band index, newest
    slice kept open (the ``compact_every`` hook's rule)."""
    return compact_index_batches(spark, bands_dir, _BANDS)


def run_curation_ingest(
    stream_docs: DataFrame,
    bench: DataFrame,
    out_dir: str,
    sha_dir: str,
    checkpoint_dir: str,
    transport=None,
    rate_limits: dict[str, int] | None = None,
    available_now: bool = False,
    registry=None,
    near_dup_threshold: float | None = None,
    bands_dir: str | None = None,
    compact_every: int | None = None,
    contamination_max_frac: float | None = None,
    gate_pred=None,
):
    """Start the curation ingestion stream; returns the StreamingQuery.

    The dataflow is fixed: documents carry ``doc_id`` (``ID_COL``),
    ``text`` (``TEXT_COL``), ``lang`` and ``source``, and the thresholds,
    gram lengths and bucket counts are this module's constants.

    Per micro-batch, in production order:
      1. GATE — quality ≥ ``QUALITY_MIN`` AND repetition keep
         (dup-word ≤ ``DUP_WORD_MAX``, top-bigram ≤ ``TOP_BIGRAM_MAX``);
         narrow projections, no shuffle. ``gate_pred`` (opt-in)
         replaces the rule gate with ANY boolean Column over the batch
         columns — built for the LEARNED gate: a fitted
         ``operators/lr.LRModel`` scored via ``lr_score``'s pure-JVM
         sigmoid expression (``lr_score(...) ≥ p_min`` distills the
         rule gate into a classifier the pipeline applies at zero
         Python cost per row; e2e-pinned stream ≡ batch).
      2. DECONTAMINATE — drop docs sharing any word ``GRAM_N``-gram
         with ``bench``. The gram set is built, stored under
         ``checkpoint_dir/bench_grams``, measured and (under the guard
         threshold) broadcast-hinted ONCE at start — every batch pays
         one hash probe, never the guard's count job.
         ``contamination_max_frac`` (opt-in) switches to the FUZZY
         containment rule: drop only when ≥ that fraction of the doc's
         distinct grams is benchmark material (the data-card
         13-gram-overlap style; operators/decontaminate
         .contamination_fraction semantics) — same broadcast probe,
         one extra per-doc count on the same exploded stream.
      3. DEDUP — min-``doc_id`` survivor per content sha within the
         batch, then LEFT ANTI against the accumulated sha index.
         Only (sha, id) pairs shuffle.
      3b. NEAR-DUP (opt-in: ``near_dup_threshold`` + ``bands_dir``) —
         MinHash-LSH dedup-on-arrival against everything already
         ingested: the batch is signatured ONCE (eager skinny
         checkpoint of its (id, band_id, band_hash) rows), candidates
         come from within-batch bucket grouping PLUS a co-located join
         against the ACCUMULATED BAND INDEX (the bucketed-table twin
         of the sha index: partitionBy(batch) + bucketBy(band_hash) at
         ``bands_dir``; the unbounded history never re-signatures and
         never re-shuffles), history mega-buckets degrade to hub pairs
         (O(batch) rows), and every candidate is VERIFIED with exact
         ``ND_SHINGLE_K``-gram Jaccard ≥ ``near_dup_threshold`` before
         it drops anything — the first-arrival twin of
         ``dedup_minhash_verified``. Within a batch the min-id member
         of a verified pair survives; against history the arriving doc
         loses. History texts are read back from the accumulated
         ``out_dir`` corpus for the verify only (candidate-bounded
         semi-join — the corpus text never feeds the candidate join).
      4. RATE LIMIT — optional per-``source`` admission cap PER
         MICRO-BATCH (``rate_limits[source]`` rows, lowest ``doc_id``
         first — deterministic; NULL and unconfigured sources pass).
         Flush-window granularity, same as the reference's per-flush
         buffers (R1 note in ``runner.py``).
      5. LAND — admitted docs overwrite ``out_dir/batch=<id>``; their
         (sha, id) pairs overwrite ``sha_dir/batch=<id>``; and, when a
         bulk ``transport`` is given, the batch is indexed with
         ``index = docs-<lang>`` and the sha as deterministic ``_id``
         (replay-safe; see EsBulkTransport.id_col).

    ``registry`` (optional) gets per-stage counters: curation_input /
    _gated / _contaminated / _duplicate / _rate_dropped / _admitted.
    They ride Observation metrics on jobs the batch runs anyway, so
    counting launches no Spark job; without a registry the batch skips
    the observe nodes and the marker files.
    Counters are REPLAY-SAFE across in-process restarts (including the
    ``run_supervised`` composition, which rebuilds this closure per
    restart): a durable per-batch marker under
    ``checkpoint_dir/counted/`` records that a batch's counters were
    applied, and the marker-then-increment sequence runs only after the
    batch's writes succeed — so a replayed batch is never
    double-counted and a half-written batch contributes nothing until
    its successful attempt. (The marker lands atomically BEFORE the
    increments: a crash between the two under-counts that one batch,
    the direction the never-double-count contract deliberately picks.)
    (A cross-process restart starts a fresh registry; the
    markers then keep replayed batches out of the new registry too, so
    its counters cover exactly the batches committed on its watch.)
    Marker probing is a driver-local ``os.path`` check — the same
    local-filesystem envelope as the mview ``_CURRENT`` marker; on a
    remote (hdfs://, s3a://) checkpoint the markers live on the
    driver's own disk, so restart-safety of COUNTERS (not of data,
    which is per-batch-overwrite idempotent regardless) spans driver
    relocations only if that disk does.

    The sha index is the catalog table ``_SHA.table(sha_dir)``,
    ``N_BUCKETS`` buckets; the band index likewise
    ``_BANDS.table(bands_dir)``. With near-dup on, the counter
    family gains curation_near_duplicate and admitted docs additionally
    land their band slice at ``bands_dir/batch=<id>`` (same
    static-partition INSERT OVERWRITE idempotency as the sha slice).

    ``compact_every`` (opt-in): every N-th micro-batch, fold the closed
    slices of the sha index (and the band index when near-dup is on)
    into one consolidated generation via ``compact_index_batches`` —
    run INSIDE the sequential foreachBatch, i.e. between batches, the
    one point where no reader of the folded slices can be in flight.
    ``retain=1`` keeps the newest slice open so a checkpointed replay
    still overwrites its own partition. Without this, partition count
    grows one-per-trigger forever (see ``compact_index_batches``).
    Compaction is idempotent, so a failure surfacing through the batch
    (and the supervisor's restart) re-runs it safely.
    """
    # replay-safety guard: every write this job makes is a per-batch
    # overwrite, but the TRANSPORT is caller-supplied — an id-less ES
    # transport or an append-mode parquet transport would duplicate
    # every indexed action when a checkpointed restart replays a batch,
    # silently voiding the module's idempotency contract. Refuse the
    # two known-unsafe shapes up front.
    if transport is not None:
        from pulsar_elasticsearch_sync_rs_spark.streaming.sink import (
            ParquetBulkTransport,
        )

        if getattr(transport, "id_col", "absent") is None:
            raise ValueError(
                "run_curation_ingest: EsBulkTransport without id_col would "
                "duplicate documents when a replayed micro-batch re-indexes "
                "(auto-generated _ids) - construct it with id_col='sha'"
            )
        if type(transport) is ParquetBulkTransport:
            raise ValueError(
                "run_curation_ingest: ParquetBulkTransport appends, so a "
                "replayed micro-batch duplicates its rows - use "
                "IdempotentParquetBulkTransport (per-batch overwrite)"
            )

    if near_dup_threshold is not None and bands_dir is None:
        raise ValueError(
            "run_curation_ingest: near_dup_threshold needs bands_dir (the "
            "accumulated band index location)"
        )

    # every micro-batch probes the gram set for the query's lifetime;
    # it is stored as files under the checkpoint (see stored_gram_set)
    grams = stored_gram_set(
        bench, GRAM_N, TEXT_COL, os.path.join(checkpoint_dir, "bench_grams")
    )
    table = _SHA.table(sha_dir)
    b_table = _BANDS.table(bands_dir) if bands_dir is not None else None

    marker_dir = os.path.join(checkpoint_dir, "counted")
    counted_batches: set[int] = set()  # fast path; markers are the truth
    if gate_pred is None:
        # the default gate rides the one-pass Arrow signals kernel —
        # value-identical to the quality_score × repetition_signals
        # expression forms (equality pinned in tests/test_text_fast.py),
        # one text crossing instead of three interpreted HOF chains
        # per doc
        from ..functions.text import text_signals_fast

        sig = text_signals_fast(TEXT_COL)
        gate_pred = (
            (sig["quality"] >= QUALITY_MIN)
            & (sig["dup_word_frac"] <= DUP_WORD_MAX)
            & (sig["top_bigram_frac"] <= TOP_BIGRAM_MAX)
        )

    def ingest_batch(batch_df: DataFrame, batch_id: int) -> None:
        from ..operators.skew import spread_scan

        spark = batch_df.sparkSession
        # file-source micro-batches arrive with ONE partition per input
        # file — far below the session's cores at typical trigger sizes
        # — and every per-doc stage below (gate, shingle explode, sha,
        # minhash signatures, jaccard verify) would inherit that serial
        # split (guide §2.5). Spread once per batch; no-op whenever the
        # trigger already carries >= defaultParallelism splits.
        batch_df = spread_scan(batch_df)
        counts: dict[str, int] = {}
        # counters apply once per batch_id even across in-process
        # restarts that REBUILD this closure (run_supervised calls the
        # caller's start_query per restart, so the in-memory set alone
        # is not restart-safe): the durable marker written after a
        # successful count-and-commit is checked first
        marker = os.path.join(marker_dir, f"batch-{batch_id}")
        count_this_batch = (
            registry is not None
            and batch_id not in counted_batches
            and not os.path.exists(marker)
        )
        # Counters ride OBSERVATION metrics on frames whose jobs the
        # batch runs anyway, so counting costs no .count() job per
        # stage: each observe node fires during the cache-fill /
        # checkpoint job that first executes its frame, and every
        # observed frame is guaranteed a FULL first execution (no
        # limit-pruned consumer touches them, and a cache/checkpoint
        # fill materializes whole partitions exactly once, so no
        # metric double-counts a re-executed partition).
        from pyspark.sql import Observation

        obs: dict[str, Observation] = {}

        def _observed(frame: DataFrame, key: str) -> DataFrame:
            if not count_this_batch:
                return frame
            obs[key] = Observation()
            return frame.observe(
                obs[key], F.count(F.lit(1)).alias("n")
            )

        def _obs_n(key: str) -> int:
            return int(obs[key].get["n"])

        batch_df = _observed(batch_df, "input")

        # gated is consumed by TWO branches (the shingle/gram side of
        # the contamination probe and the anti-join probe side), and
        # hashed by two more (the dedup groupBy build and its probe) —
        # uncached, the Arrow gate kernel runs up to 4× and the
        # decontamination join 2× per micro-batch inside the one
        # signature/admit job, and each re-execution re-crosses the
        # batch text into Python. Two micro-batch-bounded caches pin
        # each stage to one execution; released in the finally below.
        #
        # no_pushdown: without it Catalyst pushes the gate filter (and
        # the ArrowEvalPython kernel feeding it) BELOW the spread
        # exchange, evaluating the gate on the micro-batch's raw
        # one-partition-per-file split instead of the spread width —
        # exactly the serialization spread_scan exists to remove
        # (plan-pinned in tests/test_streaming_curation.py).
        from ..operators.skew import no_pushdown

        gated = _observed(
            batch_df.filter(no_pushdown(gate_pred)), "gated"
        ).persist()

        # decontaminate: shingle ONLY gate survivors against the
        # pre-measured gram set (broadcast probe under the guard).
        # Default = the any-hit rule; ``contamination_max_frac`` opts
        # into the CONTAINMENT-threshold rule (operators/decontaminate
        # .contamination_fraction's semantics): a doc drops
        # when ≥ that fraction of its distinct grams is benchmark
        # material, tolerating incidental shared phrases while still
        # killing near-copies. Docs too short to shingle pass (both
        # rules).
        # two-step select: tokenize once per row before the shingle
        # zip_with references the token array k+2 times (see
        # functions.text.kgrams_from_tokens)
        batch_grams = gated.select(
            ID_COL, ws_tokens(TEXT_COL).alias("__toks")
        ).select(
            ID_COL, F.explode(shingles_from_tokens("__toks", GRAM_N)).alias("g")
        )
        if contamination_max_frac is None:
            hit_ids = batch_grams.join(grams, "g").select(ID_COL).distinct()
        else:
            per_doc = (
                batch_grams.join(
                    grams.withColumn("__hit", F.lit(1)), "g", "left"
                )
                .groupBy(ID_COL)
                .agg(
                    F.count("*").alias("__n_grams"),
                    F.count("__hit").alias("__n_hit"),
                )
            )
            hit_ids = per_doc.filter(
                F.col("__n_hit").cast("double") / F.col("__n_grams")
                >= F.lit(float(contamination_max_frac))
            ).select(ID_COL)
        clean = gated.join(hit_ids, ID_COL, "left_anti")

        # within-batch min-id survivor per sha — semi-join so text
        # never shuffles on the hash key
        hashed = _observed(
            clean.withColumn("__sha", F.sha2(F.col(TEXT_COL), 256)), "hashed"
        ).persist()
        surv_ids = (
            hashed.select("__sha", ID_COL)
            .groupBy("__sha")
            .agg(F.min(ID_COL).alias(ID_COL))
            .select(ID_COL)
        )
        deduped = hashed.join(surv_ids, ID_COL, "left_semi")

        # cross-batch: anti-join the accumulated BUCKETED index — the
        # batch side repartitions to the bucket count (bounded, per-
        # batch cost); the unbounded history never re-shuffles.
        # _bucketed_table_ready is filesystem-truth: a cross-process
        # restart re-registers the surviving history instead of
        # skipping dedup
        if _bucketed_table_ready(
            spark, table, sha_dir, N_BUCKETS, _SHA.ddl, _SHA.bucket_col
        ):
            deduped = prior_sha_anti_join(
                spark, table, deduped, exclude_batch=batch_id, n_buckets=N_BUCKETS
            )

        # 3b. near-dup (opt-in): LSH candidates within the batch AND
        # against the accumulated band index, exact-Jaccard verified
        bands_b = None
        if near_dup_threshold is not None:
            from pulsar_elasticsearch_sync_rs_spark.operators.dedup import (
                candidates_from_bands,
                cross_band_candidates,
                make_jaccard_verify_udf,
                minhash_bands,
            )

            # deduped fans out to BOTH verify text sides, the banded
            # signature AND the final anti-join — without a cache every
            # branch re-runs the gate UDF + decontamination join over
            # the micro-batch; persist once (batch-bounded), released
            # in the finally below
            deduped = _observed(deduped, "deduped").persist()
            # ONE signature pass: the skinny banded rows feed the
            # within-batch grouping, the history join AND the admitted
            # slice write — eager checkpoint caps that at one job and
            # truncates the lineage the slice write would otherwise
            # drag through the band-table read
            bands_b = minhash_bands(
                deduped,
                text=TEXT_COL,
                id_col=ID_COL,
                num_hashes=ND_NUM_HASHES,
                bands=ND_BANDS,
                shingle_k=ND_SHINGLE_K,
            ).localCheckpoint(eager=True)
            new_t = deduped.select(
                F.col(ID_COL).alias("__new"), F.col(TEXT_COL).alias("__ta")
            )

            within = candidates_from_bands(
                bands_b, id_col=ID_COL, max_bucket=ND_MAX_BUCKET
            )
            # ONE verify pass for both candidate families: separate
            # jaccard-UDF joins for within-batch and history pairs
            # would cost two ArrowEval stages plus their join
            # scaffolding per micro-batch. Both reduce to the same
            # shape, (candidate text pair → loser id), so they union
            # BEFORE the UDF and one Arrow crossing verifies
            # everything.
            within_pairs = (
                within.join(
                    new_t.withColumnRenamed("__new", "id_a"), "id_a"
                )
                .join(
                    new_t.withColumnRenamed("__new", "id_b")
                    .withColumnRenamed("__ta", "__tb"),
                    "id_b",
                )
                .select(F.col("id_b").alias("__loser"), "__ta", "__tb")
            )
            verify_pairs = within_pairs

            if _bucketed_table_ready(
                spark, b_table, bands_dir, N_BUCKETS, _BANDS.ddl, _BANDS.bucket_col
            ):
                prior_b = (
                    spark.table(b_table)
                    .filter(F.col("batch") != batch_id)
                    .select(*_BANDS.cols)
                )
                # SHARED operator, roles kept: (new_id, old_id) pairs
                # with the history mega-bucket hub degrade — the one
                # degrade contract lives in cross_band_candidates.
                # EAGER checkpoint of the skinny pair rows: cand_hist
                # below feeds a BROADCAST build, and broadcast builds
                # re-execute their whole subtree (no ReuseExchange
                # across jobs) — without the checkpoint the bucket
                # join + distinct would run TWICE per micro-batch
                # (once for the broadcast, once in the verify join).
                cross = (
                    cross_band_candidates(
                        bands_b.repartition(N_BUCKETS, "band_hash"),
                        prior_b,
                        id_col=ID_COL,
                        max_bucket=ND_MAX_BUCKET,
                        keep_roles=True,
                    )
                    .withColumnRenamed("new_id", "__new")
                    .withColumnRenamed("old_id", "__hist")
                    .distinct()
                    .localCheckpoint(eager=True)
                )
                # verify against history TEXT pulled from the landed
                # corpus. Partition filter excludes the slice a REPLAY
                # of this batch is about to overwrite: its ids can't be
                # candidates (prior_b pruned them) but an unpruned scan
                # would still LIST batch=<id>'s files — which the
                # corpus overwrite below deletes mid-job. Only the
                # candidate HISTORY IDS are broadcast (bounded, bare
                # ids — never pair×text rows, whose fan-out could blow
                # the 8 GB broadcast limit): the corpus text is scanned
                # once, semi-reduced to candidate docs, and only that
                # bounded slice enters the verify join.
                # cross is a materialized checkpoint, so sizing the
                # candidate set costs one tiny cached-scan job — and
                # that job replaces the broadcast BUILD job the
                # history read used to pay every batch. Three regimes:
                # empty (the common clean-stream case) skips the
                # history verify wholesale; small pushes the candidate
                # ids INTO the corpus scan as an In-filter (reaches
                # the parquet scan → row-group pruning on doc_id
                # stats: the scan reads ~the candidate slices, not
                # the corpus); large keeps the broadcast semi-join
                # (ids only, bounded).
                cand_ids = [
                    r["__hist"]
                    for r in cross.select("__hist")
                    .distinct()
                    .limit(_HIST_ISIN_MAX + 1)
                    .collect()
                ]
                if cand_ids:
                    hist_corpus = (
                        _read_history(spark, out_dir)
                        .filter(F.col("batch") != batch_id)
                        .select(
                            F.col(ID_COL).alias("__hist"),
                            F.col(TEXT_COL).alias("__tb"),
                        )
                    )
                    if len(cand_ids) <= _HIST_ISIN_MAX:
                        hist_t = hist_corpus.filter(
                            F.col("__hist").isin(cand_ids)
                        )
                    else:
                        cand_hist = cross.select("__hist").distinct()
                        hist_t = hist_corpus.join(
                            F.broadcast(cand_hist), "__hist"
                        )
                    cross_pairs = (
                        cross.join(new_t, "__new")
                        .join(hist_t, "__hist")
                        .select(F.col("__new").alias("__loser"), "__ta", "__tb")
                    )
                    verify_pairs = verify_pairs.unionByName(cross_pairs)

            jac = make_jaccard_verify_udf(ND_SHINGLE_K)
            losers = verify_pairs.filter(
                jac("__ta", "__tb") >= near_dup_threshold
            ).select(F.col("__loser").alias(ID_COL))

            near_deduped = deduped.join(
                losers.distinct(), ID_COL, "left_anti"
            )
        else:
            near_deduped = deduped

        if rate_limits:
            near_deduped = _observed(near_deduped, "near")
            w = Window.partitionBy(RATE_KEY).orderBy(F.col(ID_COL).asc())
            # one folded map literal; NULL and unconfigured sources
            # look up NULL and pass. int(): from_json turns the WHOLE
            # map NULL (every source uncapped) if one value is a float
            cap = F.element_at(
                json_literal(
                    {k: int(v) for k, v in rate_limits.items()}, "map<string,int>"
                ),
                F.col(RATE_KEY).cast("string"),
            )
            admitted = (
                near_deduped.withColumn("__rn", F.row_number().over(w))
                .withColumn("__cap", cap)
                .filter(F.col("__cap").isNull() | (F.col("__rn") <= F.col("__cap")))
                .drop("__rn", "__cap")
            )
        else:
            admitted = near_deduped

        # admitted feeds ≥2 writes (+ counters). EAGER localCheckpoint,
        # not persist: the checkpoint both pays the
        # chain exactly once AND truncates the lineage of every
        # downstream write — the slice INSERTs below no longer carry a
        # logical read of their own target table, so their defensive
        # per-slice checkpoints (one extra Spark job each per
        # micro-batch) are skipped via lineage_safe=True. (A lazy
        # persist kept the full logical plan under the cache, and
        # INSERT OVERWRITE's read-your-own-target analysis sees the
        # LOGICAL plan — the cache never protected it.)
        admitted = _observed(admitted, "admitted").localCheckpoint(eager=True)
        try:
            if count_this_batch:
                # every value below is an Observation read — the
                # metrics fired during the batch's own cache-fill/
                # checkpoint jobs, so the whole counter block
                # launches ZERO Spark jobs
                counts["curation_input"] = _obs_n("input")
                counts["curation_gated"] = counts["curation_input"] - _obs_n("gated")
                # hashed is row-identical to clean (withColumn
                # preserves cardinality)
                n_clean = _obs_n("hashed")
                counts["curation_contaminated"] = (
                    counts["curation_input"] - counts["curation_gated"] - n_clean
                )
                n_admitted = _obs_n("admitted")
                n_near = _obs_n("near") if rate_limits else n_admitted
                n_deduped = (
                    _obs_n("deduped") if near_dup_threshold is not None else n_near
                )
                counts["curation_duplicate"] = n_clean - n_deduped
                counts["curation_near_duplicate"] = n_deduped - n_near
                counts["curation_rate_dropped"] = n_near - n_admitted
                counts["curation_admitted"] = n_admitted

            # LAND: the corpus batch, the sha slice and (near-dup on)
            # the band slice are INDEPENDENT outputs — distinct
            # directories/tables, every input an eager checkpoint, no
            # read of any write target in any lineage — executed here
            # as CONCURRENT jobs from a small thread pool (guide §2.6:
            # actions are only sequential because driver code calls
            # them sequentially; the next write's tasks back-fill the
            # executor slots the previous write's straggler tail leaves
            # idle). At bench triggers the lane is job-count-bound, so
            # overlapping 2-3 fixed job latencies is the direct win.
            def _land_corpus():
                admitted.drop("__sha").write.mode("overwrite").parquet(
                    os.path.join(out_dir, f"batch={batch_id}")
                )

            def _land_sha():
                _write_sha_slice(
                    admitted.select(F.col("__sha").alias("sha"), ID_COL),
                    table,
                    sha_dir,
                    batch_id,
                    N_BUCKETS,
                    lineage_safe=True,  # admitted is checkpoint-rooted
                )

            def _land_bands():
                _write_bucketed_slice(
                    bands_b.join(admitted.select(ID_COL), ID_COL, "left_semi"),
                    _BANDS,
                    b_table,
                    bands_dir,
                    batch_id,
                    N_BUCKETS,
                    # both sides are eager checkpoints — no read of
                    # the bands table survives in this lineage
                    lineage_safe=True,
                )

            land = [_land_corpus, _land_sha]
            if near_dup_threshold is not None:
                land.append(_land_bands)
            _run_overlapped(land)
            if transport is not None:
                indexed = admitted.select(
                    F.concat(
                        F.lit("docs-"), F.coalesce(F.col("lang"), F.lit("unknown"))
                    ).alias("index"),
                    F.struct(ID_COL, "lang", "source").alias("doc"),
                    F.col("__sha").alias("sha"),
                )
                transport.write(indexed, batch_id)

            if count_this_batch:
                # commit counters only after every write landed: a
                # batch that fails mid-write contributes nothing until
                # its successful attempt. The marker is written FIRST,
                # atomically (temp + os.replace — a crash mid-write can
                # never leave a half-marker that parses as counted),
                # then the counters increment: a crash in between means
                # the replay sees the marker and skips counting — an
                # UNDER-count for that batch, which is the side the
                # "never double-counted" contract picks (inc-first
                # would let a crash after inc re-count on replay)
                os.makedirs(marker_dir, exist_ok=True)
                tmp = marker + ".tmp"
                with open(tmp, "w") as fh:
                    fh.write(repr(counts))
                os.replace(tmp, marker)
                for k, v in counts.items():
                    registry.inc(k, v)
                counted_batches.add(batch_id)
        finally:
            # admitted is a localCheckpoint (reclaimed by the
            # ContextCleaner when the frame is GC'd — the bands_b
            # convention), not a persist; only the caches unpersist
            gated.unpersist()
            hashed.unpersist()
            if near_dup_threshold is not None:
                deduped.unpersist()

        # maintenance point: this batch is fully landed and no other
        # reader of the indexes can be in flight (foreachBatch is
        # sequential) — fold closed slices before the next one starts
        if compact_every and batch_id > 0 and batch_id % int(compact_every) == 0:
            # the sha and band compactions are independent (distinct
            # tables, paths, state files) — overlap them like the land
            # writes above
            compactions = [lambda: compact_sha_index(spark, sha_dir)]
            if near_dup_threshold is not None:
                compactions.append(lambda: compact_bands_index(spark, bands_dir))
            _run_overlapped(compactions)

    writer = stream_docs.writeStream.foreachBatch(ingest_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
