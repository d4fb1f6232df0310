"""Change-data-capture apply — SCD Type-2 merge as a declarative plan.

The reference syncs an append-only stream into Elasticsearch, where a
re-indexed document simply replaces its predecessor (`src/es.rs` bulk
upsert semantics). An analytics store wants the stronger contract the
warehouse world calls slowly-changing-dimension type 2: every version
of a key is kept with its validity interval, so any historical query
can be answered "as of" a timestamp. This module expresses that merge
with stock DataFrame ops — no table-format dependency, the same
posture as operators/layout.py.

Scale shape (the reason this is an operator and not a MERGE statement):
a CDC batch is orders of magnitude smaller than the base snapshot, so
the plan must never shuffle the base. Here the base is touched by two
BROADCAST joins against per-key reductions of the change batch (first
change ts per key), and the only exchanges are over the changes
themselves (one window, one groupBy — both on the small side). The
base's history rows stream through untouched. At 100 TB this is one
full scan of base + negligible change-side work; pair with
hive-partitioning on a key bucket (operators/layout.py) to rewrite
only the partitions whose keys actually changed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pulsar_elasticsearch_sync_rs_spark.sources.batch import parquet_schema

# scd2_apply_partitioned's write-riding census uses one conditional
# count per touched bucket; above this many touched buckets it falls
# back to the one-job groupBy collect instead of building an
# expression per bucket
_CENSUS_OBS_MAX_BUCKETS = 128

def _read_base(spark, base_dir: str) -> DataFrame:
    # the merge rewrites partitions with the identical schema, so the
    # base schema is stable for the application: no per-batch
    # inference job
    return spark.read.schema(parquet_schema(spark, base_dir)).parquet(base_dir)


def scd2_apply(
    base: DataFrame,
    changes: DataFrame,
    key: str,
    attrs: list[str],
    op_col: str = "op",
    ts_col: str = "ts",
    from_col: str = "valid_from",
    to_col: str = "valid_to",
    current_col: str = "is_current",
    on_late: str = "error",
) -> DataFrame:
    """Apply a CDC batch to an SCD2 snapshot, returning the new
    snapshot.

    ``base`` holds one row per (key, version): ``key``, ``attrs``,
    ``from_col``, ``to_col`` (null = open version), ``current_col``.
    ``changes`` holds ``key``, ``attrs``, ``op_col`` in
    ``('I','U','D')`` and ``ts_col``; (key, ts) pairs must be unique
    across the whole CDC log (pre-aggregate the batch otherwise).

    Semantics, per key, changes applied in ``ts_col`` order:
      - the open base version (if any) is closed at the FIRST change's
        ts ('I' on an existing key is upsert, the usual CDC reading);
      - each 'I'/'U' opens a version valid from its ts until the next
        change's ts (open/current if it is the last change);
      - 'D' closes the preceding version and opens nothing;
      - closed base history and untouched keys pass through unchanged.

    ``on_late`` governs OUT-OF-ORDER batches — a change ts that
    predates the key's last applied boundary (the open version's
    ``from_col``, or for a deleted key the last closed ``to_col``),
    which the fast path above would silently turn into overlapping or
    inverted validity intervals (round-10 verdict #1):

      - ``"error"`` (default): the violation raises AT EXECUTION with
        the offending key and both timestamps — the boundary checks
        ride the existing broadcast joins as ``raise_error`` guards
        with zero extra scans or shuffles, and a third guard catches
        ORPHAN deletes (a 'D' whose key has no snapshot row at all —
        the D-before-I arrival that would otherwise vanish and let the
        late insert resurrect the key); that one costs a single extra
        key-column-pruned broadcast-semi probe of base. (Like any
        column-level check they are skipped by a bare ``.count()``,
        which prunes projections; any write / collect / checkpoint
        evaluates them.)
      - ``"splice"``: retro-merge — touched keys' timelines are rebuilt
        from the union of their base-version boundary events and the
        change batch, so a late batch lands exactly where a
        chronologically-ordered replay would have put it. Cost: the
        TOUCHED keys' rows take one window shuffle (bounded by the
        change batch's key set); untouched keys still pass through
        narrow. On (key, ts) collisions between a change and an
        existing version boundary the CHANGE wins.
      - ``"ignore"``: the round-9/10 fast path, caller guarantees
        ordered logs.
    """
    if on_late not in ("error", "splice", "ignore"):
        raise ValueError(
            f"scd2_apply: on_late must be 'error'|'splice'|'ignore', "
            f"got {on_late!r}"
        )
    # the change batch's ts dtype must match the snapshot's validity
    # dtype at the TYPE-FAMILY grain: every mode unions change-derived
    # boundaries with base rows, and a DATE-vs-TIMESTAMP mix would
    # silently widen the snapshot's schema (or truncate instants)
    # instead of failing — the xxhash64-key-cast lesson applied to the
    # time axis. timestamp ↔ timestamp_ntz is the same instant family
    # (coercion is representation-stable in the UTC session this
    # engine pins) and stays allowed.
    def _ts_family(t):
        from pyspark.sql import types as T

        if isinstance(t, (T.TimestampType, T.TimestampNTZType)):
            return "timestamp"
        return t.simpleString()

    chg_ts_type = changes.schema[ts_col].dataType
    base_ts_type = base.schema[from_col].dataType
    if _ts_family(chg_ts_type) != _ts_family(base_ts_type):
        raise ValueError(
            f"scd2_apply: change ts dtype {chg_ts_type.simpleString()} != "
            f"snapshot validity dtype {base_ts_type.simpleString()} — cast "
            "the change batch explicitly (a silent coercion would widen "
            "the snapshot schema or truncate instants)"
        )
    if chg_ts_type != base_ts_type:
        # same instant family but different representation (ntz vs ltz):
        # cast ONCE at entry to the snapshot's validity dtype, so every
        # derived boundary (first_ts, opened intervals, guards) lives in
        # one dtype instead of leaning on union-time coercion — which
        # would shift instants under a non-UTC session without any
        # single place to point at (round-11 ADVICE)
        changes = changes.withColumn(ts_col, F.col(ts_col).cast(base_ts_type))
    if on_late == "splice":
        return _scd2_splice(
            base, changes, key, attrs, op_col, ts_col, from_col, to_col,
            current_col,
        )
    kc, tsc = F.col(key), F.col(ts_col)
    # the raise_error guards below must cast to the TABLE's validity
    # dtype (DATE / TIMESTAMP_NTZ snapshots exist) — a literal
    # "timestamp" cast would silently coerce the error-mode result's
    # schema away from the ignore-mode one (round-11 review finding)
    to_type = base.schema[to_col].dataType
    nxt = F.lead(ts_col).over(Window.partitionBy(key).orderBy(ts_col))
    opened = (
        changes.withColumn("__next_ts", nxt)
        .filter(F.col(op_col) != "D")
        .select(
            kc,
            *[F.col(a) for a in attrs],
            tsc.alias(from_col),
            F.col("__next_ts").alias(to_col),
            F.col("__next_ts").isNull().alias(current_col),
        )
    )
    # one row per touched key: when its open version stops being open
    # (plus, for the error-mode orphan guard below, WHICH op comes
    # first). Broadcast — the change batch is the small side by
    # construction.
    chg_summary = changes.groupBy(key).agg(
        F.min(ts_col).alias("__first_ts"),
        F.min_by(op_col, ts_col).alias("__first_op"),
    )
    first_ts = F.broadcast(chg_summary.select(key, "__first_ts"))
    cur = base.filter(F.col(current_col))
    closed_to = F.col("__first_ts")
    if on_late == "error":
        closed_to = F.when(
            F.col("__first_ts") < F.col(from_col),
            F.raise_error(
                F.concat(
                    F.lit("scd2_apply: out-of-order change batch — ts "),
                    F.col("__first_ts").cast("string"),
                    F.lit(" predates the open version's valid_from "),
                    F.col(from_col).cast("string"),
                    F.lit(" for key "),
                    F.col(key).cast("string"),
                    F.lit("; re-run with on_late='splice' to retro-merge"),
                )
            ).cast(to_type),
        ).otherwise(F.col("__first_ts"))
    # ONE pass over base for all three row fates (optimization round
    # 15, guide §§2.4, 1.2 "don't compute things you throw away"): the
    # previous shape unioned three branches — history, untouched-
    # current, closed-now — that EACH re-scanned base (and each built
    # its own broadcast hash join against first_ts), i.e. three full
    # scans of the 100 TB side per merge. One broadcast LEFT join
    # (chg_summary is unique per key, so cardinality is preserved) and
    # per-column CASE expressions compute the identical rows:
    #   open  + touched   → close at closed_to (guarded in error mode)
    #   open  + untouched → unchanged
    #   closed            → unchanged (error mode: the inside-closed-
    #                       history guard rides the same row)
    # The NULL-is_current filter keeps the old union's semantics: both
    # current and ~current filters dropped those rows.
    on_hist = ~F.col(current_col)
    touched_open = F.col(current_col) & F.col("__first_ts").isNotNull()
    if on_late == "error":
        # deleted keys have no open version for the closed_to guard to
        # ride, so a change predating the LAST CLOSED boundary (an
        # insert "before" the delete) must be caught on the history
        # rows: the same broadcast probe row, no extra scan. Keys with
        # an open version can never trip it (their closed valid_to ≤
        # open valid_from ≤ checked __first_ts).
        hist_to = F.when(
            F.col("__first_ts").isNotNull()
            & (F.col("__first_ts") < F.col(to_col)),
            F.raise_error(
                F.concat(
                    F.lit("scd2_apply: out-of-order change batch — ts "),
                    F.col("__first_ts").cast("string"),
                    F.lit(" lands inside closed history (valid_to "),
                    F.col(to_col).cast("string"),
                    F.lit(") for key "),
                    F.col(key).cast("string"),
                    F.lit("; re-run with on_late='splice' to retro-merge"),
                )
            ).cast(to_type),
        ).otherwise(F.col(to_col))
    else:
        hist_to = F.col(to_col)
    new_to = (
        F.when(touched_open, closed_to)
        .when(on_hist, hist_to)
        .otherwise(F.col(to_col))
    )
    new_cur = F.when(touched_open, F.lit(False)).otherwise(F.col(current_col))
    base_out = (
        base.filter(F.col(current_col).isNotNull())
        .join(first_ts, key, "left")
        .select(
            *[
                new_to.alias(to_col)
                if c == to_col
                else new_cur.alias(current_col)
                if c == current_col
                else F.col(c)
                for c in base.columns
            ]
        )
    )
    out = base_out.unionByName(opened.select(*base.columns))
    if on_late == "error":
        # orphan deletes (round-11 ADVICE, medium): a key whose FIRST
        # change is a 'D' and that has NO OPEN version in the snapshot
        # has nothing to delete — in an ordered log a 'D' is only ever
        # emitted for a live key, so the arrival is out of order (the
        # matching insert hasn't landed yet, or the key was already
        # deleted and this 'D' is a duplicate/late replay). The two
        # guards above can't see it (both ride base rows keyed off the
        # OPEN version or closed-interval containment; a 'D' at a ts
        # after the last closure touches neither), the opened branch
        # filters 'D' out, and the no-op-delete fast path drops it —
        # so without this branch the later, earlier-ts insert applies
        # cleanly and resurrects the key as open-forever. Presence is
        # probed against base.filter(is_current), NOT all base rows: a
        # key whose versions are all closed has no open version for a
        # leading 'D' to close, and treating it as "present" silently
        # swallowed exactly the event class this guard exists to catch
        # (round-12 ADVICE, medium). Detection is one extra probe of
        # the open-version set (key-column-pruned broadcast semi,
        # output bounded by the touched keys); the raise rides the
        # result evaluation like the other guards. Keys WITH an open
        # version and a leading 'D' are legitimate (they close it) and
        # never reach this probe's output.
        key_type = base.schema[key].dataType
        # `cur` IS the open-version set the close-current branch rides —
        # reusing it (not re-deriving base.filter(is_current)) keeps the
        # guard's notion of "open" from ever diverging from the branch
        # it protects (round-13 review finding)
        present = (
            cur.join(F.broadcast(chg_summary.select(key)), key, "left_semi")
            .select(key)
            .distinct()
            .withColumn("__present", F.lit(True))
        )
        probe = chg_summary.filter(F.col("__first_op") == "D").join(
            F.broadcast(present), key, "left"
        )
        guard = F.raise_error(
            F.concat(
                F.lit("scd2_apply: 'D' for key "),
                F.col(key).cast("string"),
                F.lit(" with no open version at ts "),
                F.col("__first_ts").cast("string"),
                F.lit(" — the matching insert has not arrived "
                      "(D-before-I) or the key is already deleted; "
                      "re-run with on_late='splice' to persist a "
                      "tombstone"),
            )
        )
        # the raise rides a FILTER whose predicate references the join's
        # RIGHT side (__present), so Catalyst can neither prune it (a
        # bare .count() or a projection that drops to_col would prune a
        # column-borne guard — and a pruned guard here would not merely
        # skip the check, it would LEAK the orphan as a phantom null row
        # into the result) nor push it below the join (a left-side-only
        # predicate gets pushed under the anti/left join and then fires
        # for PRESENT keys too — both are round-12 review findings).
        # Present keys evaluate to null→isNotNull=false and drop; absent
        # keys evaluate the raise. The clean case contributes 0 rows.
        orphan_rows = probe.filter(
            F.when(F.col("__present").isNull(), guard).isNotNull()
        ).select(
            *[
                F.col(key).cast(key_type).alias(key)
                if c == key
                else F.lit(None).cast(base.schema[c].dataType).alias(c)
                for c in base.columns
            ]
        )
        out = out.unionByName(orphan_rows)
    return out


def _scd2_splice(
    base: DataFrame,
    changes: DataFrame,
    key: str,
    attrs: list[str],
    op_col: str,
    ts_col: str,
    from_col: str,
    to_col: str,
    current_col: str,
) -> DataFrame:
    """Retro-merge a (possibly late) CDC batch: rebuild each TOUCHED
    key's version chain from the union of

      - its existing versions read back as boundary events — every
        ``valid_from`` is an upsert carrying that version's attrs, and
        every ``valid_to`` that no successor starts at (a gap) is the
        delete that closed it;
      - the change batch's events;

    then re-derive intervals with the same lead-window rule the fast
    path uses. Replaying ALL events in ts order is, by construction,
    what a chronologically-ordered sequence of ``scd2_apply`` calls
    computes — so splice(late batch) ≡ sequential application, the
    property tests/test_properties.py pins under Hypothesis with
    shuffled batch orders.

    Orphan deletes — a 'D' whose key has NO version at rebuild time
    (the matching insert hasn't arrived yet, precisely the
    out-of-order case this mode exists for) — must not vanish: the
    snapshot alone would then under-determine the event log, and the
    late insert would resurrect the key as open-forever (found by the
    shuffled-order Hypothesis test). They persist as ZERO-LENGTH
    tombstone rows ``[ts, ts)`` (null attrs, not current) — invisible
    to :func:`scd2_as_of` (``from ≤ t < to`` is empty) and to diff,
    but decomposed back into delete events by the next rebuild, so
    splice application converges to the chronological replay in ANY
    arrival order. A key whose delete never gets a matching earlier
    insert keeps its tombstone row (the one snapshot artifact the
    in-order fast path, which drops no-op deletes outright, does not
    produce).

    Scale: untouched keys pass through narrow (one broadcast anti
    probe); only touched keys — bounded by the change batch's key set —
    are shuffled for the rebuild window. Pair with
    :func:`scd2_apply_partitioned` and the rebuild touches only the
    changed key-hash buckets."""
    attr_types = {f.name: f.dataType for f in base.schema.fields}
    ckeys = F.broadcast(changes.select(key).distinct())
    untouched = base.join(ckeys, key, "left_anti").select(*base.columns)
    touched = base.join(ckeys, key, "left_semi")
    # zero-length rows are persisted orphan deletes: they carry ONLY a
    # delete event (no version started at their ts) and must not
    # participate in the normal rows' gap detection
    is_tomb = F.col(to_col).isNotNull() & (F.col(to_col) == F.col(from_col))
    normal = touched.filter(~is_tomb)
    tomb_rows = touched.filter(is_tomb)
    nxt_from = F.lead(from_col).over(Window.partitionBy(key).orderBy(from_col))
    base_ev = normal.withColumn("__nxt_from", nxt_from)
    # ONE pass over the windowed base subtree: each version row emits
    # its start event plus (when a gap follows) its delete event as a
    # 2-slot struct array exploded in place. The previous shape fed
    # two separate union branches, and each branch re-ran the touched
    # scan AND the gap-detection window (round-15 optimization —
    # guide §2.4: the merge is the CDC stream's per-batch hot path).
    start_s = F.struct(
        *[F.col(a).alias(a) for a in attrs],
        F.col(from_col).alias(ts_col),
        F.lit("U").alias(op_col),
        F.lit(0).alias("__src"),
    )
    delete_s = F.when(
        F.col(to_col).isNotNull()
        & (
            F.col("__nxt_from").isNull()
            | (F.col("__nxt_from") != F.col(to_col))
        ),
        F.struct(
            *[F.lit(None).cast(attr_types[a]).alias(a) for a in attrs],
            F.col(to_col).alias(ts_col),
            F.lit("D").alias(op_col),
            F.lit(1).alias("__src"),
        ),
    )
    base_events = (
        base_ev.select(F.col(key), F.explode(F.array(start_s, delete_s)).alias("__e"))
        .filter(F.col("__e").isNotNull())
        .select(
            F.col(key),
            *[F.col(f"__e.{a}").alias(a) for a in attrs],
            F.col(f"__e.{ts_col}").alias(ts_col),
            F.col(f"__e.{op_col}").alias(op_col),
            F.col("__e.__src").alias("__src"),
        )
    )
    tomb_deletes = tomb_rows.select(
        F.col(key),
        *[F.lit(None).cast(attr_types[a]).alias(a) for a in attrs],
        F.col(from_col).alias(ts_col),
        F.lit("D").alias(op_col),
        F.lit(1).alias("__src"),
    )
    chg_ev = changes.select(
        F.col(key),
        *[F.col(a) for a in attrs],
        F.col(ts_col),
        F.col(op_col),
        F.lit(2).alias("__src"),
    )
    events = base_events.unionByName(tomb_deletes).unionByName(chg_ev)
    # (key, ts) collision: the change wins over a base boundary (it is
    # the newer statement about that instant); a base delete event at
    # the same instant as a base start cannot occur (intervals
    # partition the lifetime). Winner selection and event sequencing
    # share ONE key-partitioned exchange: within a key sorted by
    # (ts, __src desc), the first row of each ts-group IS the max-__src
    # winner (the row_number-per-(key,ts) form cost a second full
    # exchange hashed on (key, ts)); the filter preserves partitioning
    # and sort, so the lead/lag window below re-sorts nothing. Ties on
    # (ts, __src) can only be content-identical delete events (null
    # attrs, op='D'), so either pick yields the same timeline.
    w_seq = Window.partitionBy(key).orderBy(
        F.col(ts_col).asc(), F.col("__src").desc()
    )
    events = (
        events.withColumn("__prev_ts", F.lag(ts_col).over(w_seq))
        .filter(
            F.col("__prev_ts").isNull() | (F.col("__prev_ts") != F.col(ts_col))
        )
        .drop("__prev_ts")
    )
    w_key = Window.partitionBy(key).orderBy(ts_col)
    events = events.withColumn("__next_ts", F.lead(ts_col).over(w_key)).withColumn(
        "__prev_op", F.lag(op_col).over(w_key)
    )
    rebuilt = (
        events.filter(F.col(op_col) != "D")
        .select(
            F.col(key),
            *[F.col(a) for a in attrs],
            F.col(ts_col).alias(from_col),
            F.col("__next_ts").alias(to_col),
            F.col("__next_ts").isNull().alias(current_col),
        )
    )
    # orphan deletes (first event for the key, or preceded by another
    # delete): persist as zero-length tombstones so a later rebuild
    # still sees them
    orphan_tombs = (
        events.filter(
            (F.col(op_col) == "D")
            & (F.col("__prev_op").isNull() | (F.col("__prev_op") == "D"))
        )
        .select(
            F.col(key),
            *[F.lit(None).cast(attr_types[a]).alias(a) for a in attrs],
            # ts dtype == the snapshot's validity dtype — enforced at
            # scd2_apply entry, so no cast (a silent truncating cast
            # here was round-11 review-2 finding #3)
            F.col(ts_col).alias(from_col),
            F.col(ts_col).alias(to_col),
            F.lit(False).alias(current_col),
        )
    )
    return untouched.unionByName(rebuilt.select(*base.columns)).unionByName(
        orphan_tombs.select(*base.columns)
    )


def scd2_apply_partitioned(
    spark,
    base_dir: str,
    changes: DataFrame,
    key: str,
    attrs: list[str],
    n_parts: int = 16,
    op_col: str = "op",
    ts_col: str = "ts",
    from_col: str = "valid_from",
    to_col: str = "valid_to",
    current_col: str = "is_current",
    on_late: str = "error",
    pre_tombs_known: dict[int, int] | None = None,
) -> dict:
    """The at-rest form of :func:`scd2_apply`: the snapshot lives as
    parquet hive-partitioned on ``pb = pmod(xxhash64(key), n_parts)``
    (write it once with :func:`persist_scd2_partitioned`), and a CDC
    batch rewrites ONLY the partitions whose keys actually changed —
    the copy-on-write MERGE discipline of lakehouse table formats,
    with stock writers.

    ``pre_tombs_known`` (optimization round 15, guide §2.4 — the
    per-batch merge is the CDC stream's hot path and at micro-batch
    grain its wall is JOB-count-bound): a {bucket: tombstone count}
    map the caller already knows to be the AT-REST counts (the
    streaming runner's running census — each merge's post-counts ARE
    the next batch's at-rest pre-counts under the single-writer
    foreachBatch envelope). Buckets covered by the map skip the
    pre-merge tombstone scan; only first-touched buckets are read. In
    steady state the whole pre-census job (one pruned base read per
    batch) disappears. Reporting-only state: the counts feed the
    growth census, never the merge itself — and a restart always
    starts from an empty map, i.e. the lossless scan path.

    Plan shape: the changed-bucket set (≤ ``n_parts`` ints) comes off
    the change batch; the base read carries ``pb IN (…)`` — a
    PARTITION filter, so unchanged directories are never listed or
    scanned (plan-pinned in tests/test_cdc.py). The merged subset is
    eagerly localCheckpoint'ed BEFORE the overwrite: the write replaces
    the same directories the merge plan reads, the FileNotFound race
    this module's streaming sibling documents. The checkpoint is
    bounded by the changed partitions' size — the quantity a
    partitioned merge exists to keep small. The write uses the
    PER-WRITER dynamic partitionOverwriteMode option (honored on
    path-based writes, unlike the catalog insert route), so only the
    partitions present in the merged subset are replaced and no
    session conf is flipped.

    Returns ``{"changed_buckets", "rows_written"}``.

    Key hashing note: ``xxhash64`` is TYPE-sensitive
    (``xxhash64(5::int) != xxhash64(5::bigint)``), so the change
    batch's key is cast to the PERSISTED base's key dtype before the
    bucket set is derived — a dtype drift between a producer's batch
    and the at-rest snapshot would otherwise rewrite the wrong
    partitions and leave a key with two open versions.
    """
    # schema from the per-process cache (one inference job per
    # application, not two per batch); the base key dtype is the
    # canonical one — pb on disk was computed from it
    base_key_type = parquet_schema(spark, base_dir)[key].dataType
    changes = changes.withColumn(key, F.col(key).cast(base_key_type))
    pb = F.pmod(F.xxhash64(F.col(key)), F.lit(n_parts)).cast("int")
    buckets = [
        r["pb"] for r in changes.select(pb.alias("pb")).distinct().collect()
    ]
    if not buckets:
        # same shape as the normal return — callers (CdcIngestStats.
        # _absorb) index both tombstone dicts unconditionally
        return {
            "changed_buckets": [],
            "rows_written": 0,
            "orphan_tombstones_by_bucket": {},
            "orphan_tombstones_pre_by_bucket": {},
        }
    base = _read_base(spark, base_dir).filter(F.col("pb").isin(buckets))
    cols = [key, *attrs, from_col, to_col, current_col]
    # PRE-merge tombstone counts over the same pruned read (skinny
    # validity columns only): the streaming runner's backlog ceiling
    # must fire on GROWTH (post > pre for this batch), not on at-rest
    # totals — an at-rest trigger both poisons checkpoint replay (the
    # re-applied batch re-counts the same tombstones and re-raises
    # before any remediating insert batch can run) and false-positives
    # on historical seed tombstones in a first-touched bucket
    # (round-13 review findings #1 and #3)
    is_tomb = F.col(to_col).isNotNull() & (F.col(to_col) == F.col(from_col))
    if pre_tombs_known is not None:
        pre_tombs = {
            b: int(pre_tombs_known[b]) for b in buckets if b in pre_tombs_known
        }
        scan_buckets = [b for b in buckets if b not in pre_tombs_known]
    else:
        pre_tombs = {}
        scan_buckets = buckets
    if scan_buckets:
        pre_tombs.update(
            {
                int(r["pb"]): int(r["n"])
                for r in base.filter(F.col("pb").isin(scan_buckets) & is_tomb)
                .groupBy("pb")
                .agg(F.count("*").alias("n"))
                .collect()
            }
        )
    merged = scd2_apply(
        base.select(*cols),
        changes,
        key,
        attrs,
        op_col=op_col,
        ts_col=ts_col,
        from_col=from_col,
        to_col=to_col,
        current_col=current_col,
        on_late=on_late,
    ).withColumn("pb", pb)
    merged = merged.localCheckpoint(eager=True)
    # row count + orphan-tombstone census RIDE THE WRITE JOB as
    # Observation metrics (optimization round 15, guide §2.4 — it was
    # a separate collect job over the checkpoint, and before round 15
    # two separate jobs): splice persists a zero-length [ts, ts) row
    # per D-before-I until the insert arrives, and a buggy upstream
    # that never sends the insert grows this set without bound — the
    # streaming runner watches the per-bucket counts
    # (streaming/cdc_ingest.py) the way pq.py's max_pending bounds the
    # IVF-PQ delete backlog. Per-bucket counts become one conditional
    # count per TOUCHED bucket (merged rows can only carry pb values
    # from `buckets` — every output row's key hashes into the change
    # batch's bucket set), bounded by the batch's key spread; a batch
    # touching more buckets than the cap keeps the one-job collect
    # (an unbounded Observation expression list is the giant-CASE
    # shape the ordering module's design notes ban).
    write = (
        lambda df: df.repartition("pb")
        .write.mode("overwrite")
        .option("partitionOverwriteMode", "dynamic")
        .partitionBy("pb")
        .parquet(base_dir)
    )
    if len(buckets) <= _CENSUS_OBS_MAX_BUCKETS:
        from pyspark.sql import Observation

        obs = Observation()
        write(
            merged.observe(
                obs,
                F.count(F.lit(1)).alias("__rows"),
                *[
                    F.count(F.when((F.col("pb") == b) & is_tomb, True)).alias(
                        f"__t_{b}"
                    )
                    for b in buckets
                ],
            )
        )
        metrics = obs.get
        n = int(metrics["__rows"])
        tombs_by_bucket = {
            b: int(metrics[f"__t_{b}"]) for b in buckets if metrics[f"__t_{b}"]
        }
    else:
        census = (
            merged.groupBy("pb")
            .agg(
                F.count("*").alias("rows"),
                F.count(F.when(is_tomb, True)).alias("n"),
            )
            .collect()
        )
        n = sum(int(r["rows"]) for r in census)
        tombs_by_bucket = {int(r["pb"]): int(r["n"]) for r in census if r["n"]}
        write(merged)
    return {
        "changed_buckets": sorted(buckets),
        "rows_written": n,
        # every changed bucket reports, including an explicit 0 — the
        # runner's running census must DRAIN when inserts land, which
        # a hits-only dict would silently never do. Pre counts ride
        # along so the runner can distinguish growth (this batch minted
        # new orphans) from standing state (replay / seed history).
        "orphan_tombstones_by_bucket": {
            b: tombs_by_bucket.get(b, 0) for b in sorted(buckets)
        },
        "orphan_tombstones_pre_by_bucket": {
            b: pre_tombs.get(b, 0) for b in sorted(buckets)
        },
    }


def scd2_as_of(
    snapshot: DataFrame,
    ts,
    from_col: str = "valid_from",
    to_col: str = "valid_to",
) -> DataFrame:
    """Time travel over an SCD2 snapshot: the rows valid AS OF ``ts`` —
    ``valid_from <= ts < valid_to`` with a NULL ``valid_to`` meaning
    still-open. Exactly one row per key that existed at ``ts`` (the
    apply contract guarantees per-key intervals partition the key's
    lifetime), zero rows for keys born later or deleted before.

    This is the query the validity intervals exist to answer — the
    reference's ES upsert (src/es.rs bulk index) keeps only the newest
    version and cannot. Pure narrow filter: on a hive-partitioned
    snapshot the predicate rides the parquet scan (row-group pruning on
    ``valid_from`` if the layout clusters it), no shuffle, no UDF —
    at 100 TB an as-of read costs one pruned scan."""
    t = F.lit(ts).cast("timestamp")
    return snapshot.filter(
        (F.col(from_col) <= t)
        & (F.col(to_col).isNull() | (F.col(to_col) > t))
    )


def scd2_diff(
    snapshot: DataFrame,
    ts_old,
    ts_new,
    key: str,
    attrs: list[str],
    from_col: str = "valid_from",
    to_col: str = "valid_to",
) -> DataFrame:
    """Churn report between two as-of points of an SCD2 snapshot: per
    key, ``added`` (alive at ``ts_new`` only), ``removed`` (alive at
    ``ts_old`` only), or ``changed`` (alive at both with ANY attr
    differing; null-safe compare). Unchanged keys are absent — at
    100 TB the diff is the small output by construction, and the plan
    is two narrow interval filters + one key-partitioned FULL OUTER
    join (exactly one row per key per side — the apply contract)."""
    old = scd2_as_of(snapshot, ts_old, from_col, to_col).select(
        F.col(key), *[F.col(a).alias(f"old_{a}") for a in attrs]
    )
    new = scd2_as_of(snapshot, ts_new, from_col, to_col).select(
        F.col(key), *[F.col(a).alias(f"new_{a}") for a in attrs]
    )
    # explicit presence markers: deriving presence from all-null attrs
    # would misclassify a row whose attrs are legitimately null
    old = old.withColumn("__in_old", F.lit(True))
    new = new.withColumn("__in_new", F.lit(True))
    joined = old.join(new, key, "full_outer")
    any_diff = F.lit(False)
    for a in attrs:
        any_diff = any_diff | ~F.col(f"old_{a}").eqNullSafe(F.col(f"new_{a}"))
    change = (
        F.when(F.col("__in_old").isNull(), F.lit("added"))
        .when(F.col("__in_new").isNull(), F.lit("removed"))
        .when(any_diff, F.lit("changed"))
    )
    return (
        joined.withColumn("change", change)
        .filter(F.col("change").isNotNull())
        .select(
            key,
            "change",
            *[F.col(f"old_{a}") for a in attrs],
            *[F.col(f"new_{a}") for a in attrs],
        )
    )


def persist_scd2_partitioned(
    df: DataFrame, base_dir: str, key: str, n_parts: int = 16
) -> None:
    """Lay an SCD2 snapshot down hive-partitioned on the key-hash
    bucket ``pb`` — the layout :func:`scd2_apply_partitioned` merges
    into. ``n_parts`` bounds both the partition-directory count and the
    per-merge rewrite grain; pick it so one bucket's rows fit a
    comfortable rewrite (e.g. 1024 buckets over 100 TB ≈ 100 GB per
    merge slice worst-case)."""
    pb = F.pmod(F.xxhash64(F.col(key)), F.lit(n_parts)).cast("int")
    (
        df.withColumn("pb", pb)
        .repartition("pb")
        .write.mode("overwrite")
        .partitionBy("pb")
        .parquet(base_dir)
    )
