"""Sequence packing — the pipeline stage between corpus curation and
training: documents → fixed-length token windows with full
(doc_id, seq_id, begin/end offset) lineage.

The packing discipline is concatenate-then-chunk (the standard
GPT-style pretraining packing, equivalently greedy next-fit bin
packing WITH document splitting): documents are laid out in one
deterministic global token stream ordered by doc id, and the stream is
cut into consecutive ``seq_len``-token windows. Short docs therefore
pack together into shared windows with zero padding waste, and long
docs split across as many windows as they need; every window except
the final one is exactly full. Each output row is one (sequence,
document) fragment carrying the doc-relative token range
``[begin_tok, end_tok)``, which is exactly the lineage a training-data
audit needs ("which tokens of which document landed in sequence s").

Everything is closed-form in the token counts — no RNG, no sequential
state — so the whole operator is expressible as window + explode
expressions in Spark AND as a running-sum SQL in DuckDB
(``ORACLE_SEQ_PACK`` in plans/llm_queries.py); the driver-style value
hash pins the two engines to each other.

Scale shape (the reason this file exists instead of a single
``Window.orderBy`` line): a global running sum over an UNPARTITIONED
window pulls the entire corpus into one task. The prefix sum here is
the classic two-phase distributed scan instead:

1. range-partition by doc id (``repartitionByRange`` keeps the global
   order across partitions);
2. per-partition running sums via a window PARTITIONED by the physical
   partition id — fully parallel;
3. one tiny driver-side pass over the P partition totals (P = shuffle
   partitions, not data size) produces each partition's global offset,
   attached back as one folded literal array (no join).

The collected state is O(partitions), independent of corpus size; at
100 TB the full-data costs are two shuffles of the 16-byte
(doc_id, n_toks) stream — the range partition plus the window's
re-clustering on the partition id (Catalyst can't see that the rows
are already physically clustered that way) — never of the text
itself. Partition boundaries are sampled by Spark, but the result is
boundary-independent: a prefix sum over a total order is the same no
matter where the cuts land — PROVIDED every job reads the same cuts,
which the eager localCheckpoint in :func:`exclusive_prefix_sum`
guarantees (repartitionByRange re-samples per plan execution).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pulsar_elasticsearch_sync_rs_spark.functions.json_fns import json_literal
from pulsar_elasticsearch_sync_rs_spark.functions.text import (
    token_count_ws,
    ws_tokens,
)
from pulsar_elasticsearch_sync_rs_spark.session import batch_partitions


def exclusive_prefix_sum(
    df: DataFrame,
    order_col: str,
    val_col: str,
    out_col: str = "start_off",
    num_partitions: int | None = None,
    assume_range_partitioned: bool = False,
) -> DataFrame:
    """Add ``out_col`` = sum of ``val_col`` over all rows strictly
    before this one in ``order_col`` order (distributed two-phase scan;
    see module docstring). ``order_col`` must be unique.

    ``assume_range_partitioned``: the caller vouches ``df`` is ALREADY
    physically range-partitioned by ``order_col`` with job-stable
    partitions — i.e. it derives NARROWLY (filters / projections /
    broadcast joins only) from an eager ``localCheckpoint`` that was
    written ``repartitionByRange(order_col)``. The operator then skips
    its own range exchange AND the defensive checkpoint: partition ids
    are read straight off the frozen physical partitioning (any subset
    of a range partition stays inside its range, so filters upstream
    cannot break the cross-partition order), the totals pass aggregates
    the raw stream, and the per-partition running sum executes once
    inside whatever action consumes the result. q_llm_pipeline fuses
    its survivor-keys checkpoint this way — one full exchange plus one
    materialization of the 16 B/doc stream deleted per pipeline run.
    On this path a tied ``order_col`` raises ``ValueError`` when the
    result is evaluated (checked inside the scan, no extra job)."""
    spark = df.sparkSession
    if assume_range_partitioned:
        part = df.withColumn("__pid", F.spark_partition_id())
        totals_src = part
        # ZERO-SHUFFLE local scan: a window partitioned by __pid would
        # need Exchange(hashpartitioning(__pid)) — Catalyst cannot see
        # the rows are already physically grouped by their own
        # partition id. sortWithinPartitions (no data movement) + one
        # mapInPandas pass whose running total carries across the
        # partition's batches computes the identical exclusive sums.
        # Values exact (int64 cumsum).
        sorted_part = part.sortWithinPartitions(order_col)
        out_schema = ", ".join(
            f"`{f.name}` {f.dataType.simpleString()}"
            for f in sorted_part.schema.fields
        ) + ", __local_excl bigint"

        def _cum(batches):
            run, last = 0, None
            for pdf in batches:
                keys = pdf[order_col].to_numpy()
                # sorted within the partition, so a non-increasing step
                # (inside the batch or across its boundary) is a tie
                if len(keys):
                    if (keys[1:] <= keys[:-1]).any() or (
                        last is not None and keys[0] <= last
                    ):
                        raise ValueError(
                            f"exclusive_prefix_sum: {order_col!r} must be "
                            "unique, found a tied key"
                        )
                    last = keys[-1]
                v = pdf[val_col].fillna(0).astype("int64")
                pdf = pdf.assign(
                    __local_excl=(v.cumsum() - v + run).astype("int64")
                )
                run += int(v.sum())
                yield pdf

        local = sorted_part.mapInPandas(_cum, out_schema)
    else:
        n_part = num_partitions or batch_partitions(spark)
        # the totals pass below collects ONE row per partition — O(n_part)
        # driver memory, fine at any sane setting but a misconfigured
        # millions-of-shuffle-partitions session would turn it into a
        # driver-side flood; fail fast with the remedy instead
        if n_part > 1_000_000:
            raise ValueError(
                f"exclusive_prefix_sum collects one total per partition; "
                f"{n_part} partitions would collect {n_part} rows on the driver "
                "- pass num_partitions explicitly (the default is the session's "
                "batch shuffle count, "
                "spark.sql.adaptive.coalescePartitions.initialPartitionNum)"
            )
        part = df.repartitionByRange(n_part, order_col).withColumn(
            "__pid", F.spark_partition_id()
        )
        w = Window.partitionBy("__pid").orderBy(order_col)
        local = part.withColumn(
            "__local_excl",
            F.coalesce(
                F.sum(val_col).over(
                    w.rowsBetween(Window.unboundedPreceding, -1)
                ),
                F.lit(0).cast("bigint"),
            ),
        )
        # Pin ONE physical partitioning: the totals job below and every
        # later action on the returned DataFrame must see the SAME range
        # boundaries, but repartitionByRange's sampler is re-seeded per
        # plan execution — when the sampler subsamples (large input
        # partitions), re-executing the exchange in a second job can move
        # boundary rows to a different __pid than the one their __base was
        # computed from, silently corrupting offsets. The eager
        # localCheckpoint materializes the partitioned (id, count, pid,
        # local-sum) stream once — O(16 bytes/doc), never the text.
        # (The prepartitioned path needs neither: its partitioning is
        # frozen by the CALLER's checkpoint.)
        local = local.localCheckpoint(eager=True)
        totals_src = local
    totals = sorted(
        totals_src.groupBy("__pid").agg(F.sum(val_col).alias("__tot")).collect(),
        key=lambda r: r["__pid"],
    )
    acc, base_by_pid = 0, {}
    max_pid = -1
    for r in totals:
        base_by_pid[int(r["__pid"])] = acc
        max_pid = max(max_pid, int(r["__pid"]))
        acc += r["__tot"] or 0
    # offsets attach as one folded literal-array lookup (json_literal):
    # no join and no broadcast-build job per pack call. Gaps carry the
    # running base: no row holds an absent pid, the value is unread.
    fill, acc_fill = [], 0
    for p in range(max_pid + 1):
        acc_fill = base_by_pid.get(p, acc_fill)
        fill.append(int(acc_fill))
    arr = json_literal(fill, "array<bigint>")
    return local.withColumn(
        out_col,
        (
            F.element_at(arr, F.col("__pid") + F.lit(1))
            + F.col("__local_excl")
        ).cast("bigint"),
    ).drop("__pid", "__local_excl")


def pack_sequences(
    df: DataFrame,
    seq_len: int = 256,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Documents → (seq_id, doc_id, begin_tok, end_tok) fragments under
    concat-then-chunk packing at ``seq_len`` tokens per sequence.

    Offsets are doc-relative and half-open; a doc's fragments tile
    ``[0, n_tokens)`` contiguously across consecutive seq_ids, and
    every sequence except the last sums to exactly ``seq_len`` tokens
    (both properties pytest-pinned). Empty docs contribute nothing and
    shift no offsets.
    """
    counts = df.select(
        F.col(id_col), token_count_ws(text).cast("bigint").alias("n_toks")
    )
    return pack_sequences_from_counts(counts, seq_len=seq_len, id_col=id_col)


def pack_sequences_from_counts(
    counts: DataFrame,
    seq_len: int = 256,
    id_col: str = "doc_id",
    n_col: str = "n_toks",
    assume_range_partitioned: bool = False,
) -> DataFrame:
    """:func:`pack_sequences` when the caller ALREADY has per-doc token
    counts — the packer's output is a pure function of the
    ``(id, n_tokens)`` map (no fragment carries text), so a pipeline
    that tokenized upstream must not re-read and re-tokenize the corpus
    just to count (optimization round 15, guide §2.3 "shuffle keys and
    metadata instead of payloads": q_llm_pipeline's keys checkpoint now
    carries ``n_toks`` for 8 B/doc and the packer's whole
    scan-tokenize-semijoin text pass is gone). Values identical to
    :func:`pack_sequences` for identical counts, pytest-pinned."""
    if n_col != "n_toks":
        counts = counts.select(
            F.col(id_col), F.col(n_col).cast("bigint").alias("n_toks")
        )
    else:
        counts = counts.select(
            F.col(id_col), F.col("n_toks").cast("bigint").alias("n_toks")
        )
    offs = exclusive_prefix_sum(
        counts,
        id_col,
        "n_toks",
        assume_range_partitioned=assume_range_partitioned,
    )
    # doc [start, start+n) overlaps windows  start div L .. (start+n-1) div L
    # (`div` = exact integer division — no double-precision floor)
    frag = offs.filter(F.col("n_toks") > 0).select(
        F.col(id_col),
        "n_toks",
        "start_off",
        F.explode(
            F.sequence(
                F.expr(f"start_off div {seq_len}"),
                F.expr(f"(start_off + n_toks - 1) div {seq_len}"),
            )
        ).alias("seq_id"),
    )
    return frag.select(
        F.col("seq_id").cast("bigint"),
        F.col(id_col),
        F.greatest(F.lit(0), F.col("seq_id") * seq_len - F.col("start_off"))
        .cast("bigint")
        .alias("begin_tok"),
        F.least(F.col("n_toks"), (F.col("seq_id") + 1) * seq_len - F.col("start_off"))
        .cast("bigint")
        .alias("end_tok"),
    )


def chunk_documents(
    df: DataFrame,
    chunk_len: int = 128,
    stride: int = 96,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Sliding-window document chunking — the RAG/eval-prep twin of
    :func:`pack_sequences`: instead of concatenating docs into fixed
    tiles, each document is cut into OVERLAPPING token windows
    (``chunk_len`` tokens every ``stride``; overlap = chunk_len −
    stride) with full token lineage, the standard shape for context
    windows that must not split an answer across a hard boundary.

    Returns (``id_col``, chunk_id, begin_tok, end_tok, n_tok_chunk,
    text_chunk): chunk k covers tokens [k·stride, min(k·stride +
    chunk_len, n)). Windows start while k·stride < n AND the previous
    window did not already reach the end of the doc — a trailing
    window whose tokens are all inside its predecessor is a verbatim
    suffix duplicate (it would bloat a RAG index with repeated text),
    so it is not emitted; the final kept window may be short but is
    never empty and always carries ≥1 new token (except chunk 0,
    which always exists for a non-empty doc). Zero-token docs emit
    nothing.

    Scale shape: tokenize → explode the window starts → slice the
    token array per window — all JVM expressions inside one narrow
    projection, ZERO shuffle at any corpus size (each doc's chunks are
    computed where the doc lives). Compare the packer, which needs the
    global prefix scan; chunking is embarrassingly parallel."""
    if stride <= 0 or chunk_len <= 0:
        raise ValueError(f"chunk_len and stride must be positive, got {chunk_len=} {stride=}")
    toks = ws_tokens(F.col(text))
    base = df.select(F.col(id_col), toks.alias("__toks")).withColumn(
        "__n", F.size("__toks")
    )
    # guard the sequence: n == 0 would make sequence(0, -1, stride)
    # run DOWNWARD (SKILL.md gotcha) — zero-token docs emit no chunks.
    # posexplode: the position in the start sequence IS the chunk id
    # (pos k ⇔ start k·stride) — no re-derivation.
    starts = base.filter(F.col("__n") > 0).select(
        id_col,
        "__toks",
        "__n",
        F.posexplode(
            F.sequence(F.lit(0), F.col("__n") - 1, F.lit(stride))
        ).alias("chunk_id", "__b"),
    ).filter(
        # drop trailing windows fully contained in their predecessor:
        # keep chunk 0 always, later chunks only while the previous
        # window (start − stride, length chunk_len) fell short of n
        (F.col("__b") == 0)
        | (F.col("__b") - stride + chunk_len < F.col("__n"))
    )
    end = F.least(F.col("__b") + chunk_len, F.col("__n"))
    return starts.select(
        F.col(id_col),
        F.col("chunk_id").cast("bigint"),
        F.col("__b").cast("bigint").alias("begin_tok"),
        end.cast("bigint").alias("end_tok"),
        (end - F.col("__b")).cast("bigint").alias("n_tok_chunk"),
        F.concat_ws(
            " ", F.slice("__toks", F.col("__b") + 1, end - F.col("__b"))
        ).alias("text_chunk"),
    )


def pack_bins_by_length(
    df: DataFrame,
    n_tok_col: str,
    id_col: str,
    capacity: int,
) -> DataFrame:
    """LENGTH-CLASS bin packing — the no-cross-document-attention
    alternative to :func:`pack_sequences`: instead of concatenating the
    corpus into one token stream (documents share and straddle
    windows), each bin holds ONLY whole documents of a single token
    length, ``capacity // length`` of them — so no attention mask ever
    spans two documents and no document splits. The price is padding
    waste (``capacity − n_docs·length`` per bin), which this operator
    reports per bin; grouping equal lengths is the standard
    histogram-based packing compromise (near-optimal waste for
    natural-corpus length distributions, fully parallel, deterministic
    — the sequential first-fit-decreasing heuristic it approximates
    cannot be computed distributively).

    Documents longer than ``capacity`` get a dedicated bin each
    (effective length clamped to ``capacity`` — the downstream
    truncation convention); zero-token docs emit nothing (same rule as
    :func:`pack_sequences`).

    Scale shape: NO per-class window — a boilerplate-heavy crawl puts
    millions of docs in one length class, and ``Window.partitionBy
    (length)`` would hand that whole class to one task. Per-class
    ranks come from ONE :func:`~pulsar_elasticsearch_sync_rs_spark.
    operators.ordering.global_index` over the (class, id) composite
    (range exchange of a ~16-byte projection) minus broadcast class
    offsets — the interleave_by_weight recipe, skew-proof by
    construction.

    Returns one row per bin: ``(len_class, bin_idx, n_docs,
    fill_tokens, waste_tokens)``."""
    from pulsar_elasticsearch_sync_rs_spark.operators.ordering import (
        global_index,
    )

    c = int(capacity)
    if c < 1:
        raise ValueError("pack_bins_by_length: capacity must be >= 1")
    eff = F.least(F.col(n_tok_col), F.lit(c))
    base = (
        df.filter(F.col(n_tok_col) > 0)
        .select(
            F.col(id_col),
            eff.cast("long").alias("__cls"),
        )
    )
    ranked = global_index(
        base, ["__cls", id_col], out_col="__grank"
    )
    offs = (
        ranked.groupBy("__cls").agg(F.min("__grank").alias("__coff"))
    )
    per_bin = F.floor(F.lit(c) / F.col("__cls"))
    binned = (
        ranked.join(F.broadcast(offs), "__cls")
        .withColumn(
            "__bin",
            F.floor((F.col("__grank") - F.col("__coff")) / per_bin),
        )
    )
    return (
        binned.groupBy(
            F.col("__cls").alias("len_class"),
            F.col("__bin").cast("long").alias("bin_idx"),
        )
        .agg(F.count("*").alias("n_docs"))
        .select(
            "len_class",
            "bin_idx",
            "n_docs",
            (F.col("n_docs") * F.col("len_class")).alias("fill_tokens"),
            (F.lit(c) - F.col("n_docs") * F.col("len_class")).alias(
                "waste_tokens"
            ),
        )
    )


def pack_bins_residual_fill(
    df: DataFrame,
    n_tok_col: str,
    id_col: str,
    capacity: int,
    rounds: int = 3,
) -> DataFrame:
    """MIXED-length bin packing (round-14 VERDICT item 5):
    :func:`pack_bins_by_length` wastes ``capacity mod length`` per bin
    — at natural corpus lengths 30–40 % of every bin. This variant
    keeps the same primary packing for the LARGE classes (length >
    capacity/4, i.e. ≤ 3 docs/bin — where the residual is biggest)
    and then fills the residuals with complementary small-class
    documents over ``rounds`` matching ROUNDS, each in closed form:

      1. large bins enumerated by DESCENDING residual (partial last
         bins included at their true residual), global bin rank j;
      2. remaining small docs (length ≤ capacity/4) enumerated by
         DESCENDING length, global rank s;
      3. small doc s fills bin j = s iff its length fits that bin's
         CURRENT residual — both sequences descend, so the greedy
         "biggest filler into biggest hole" matching is a rank
         EQUALITY, no sequential state;
      4. filled bins shrink their residual and the next round repeats
         over the re-sorted bins and the leftover docs (the matching
         converges — measured by round 3 on the fixtures; extra
         rounds fill nothing and cost nothing);
      5. small docs still unfilled after the last round pack
         by-length among themselves.

    Total bins never exceed by-length's (fillers create no bins,
    removing docs never grows a class's bin count), so total waste =
    bins·capacity − tokens is ≤ by-length ALWAYS and measurably below
    it on natural mixtures (−33 % at one round, −46 % at the default
    three, sf0.01 fixture, pytest-pinned). Deterministic,
    engine-portable — the whole schedule is rank arithmetic both
    engines compute identically.

    Scale shape — the key observation: because docs of one length are
    interchangeable, the BIN-level result is fully determined by the
    class HISTOGRAM. One ``groupBy(class)`` aggregation (map-side
    combined, ≤ ``capacity`` result rows collected — the interleave
    offsets discipline) feeds driver arithmetic that derives every
    per-class constant (bin counts, residual-group fill order, each
    small class's filler quota F_m = how many of its docs descend
    into large-bin residuals); bins are then GENERATED distributively
    — ``spark.range(n_bins)`` + two broadcast range-joins against
    ≤ 2·capacity-row constant tables — with no window, no
    global_index, no doc-stream shuffle beyond the one aggregation.
    (The first cut ran FOUR global_index range exchanges + an
    anti-join for the same answer; at fixture scale that was 5.0 s of
    pure barrier constants — round-15 bench.) A mega-class cannot
    skew a task: its docs collapse into one histogram row.

    Returns one row per bin: ``(len_class, bin_idx, n_docs,
    fill_tokens, waste_tokens)`` — ``len_class`` is the PRIMARY class
    (large bins report their filler inside ``n_docs``/
    ``fill_tokens``); large/small classes are disjoint so the key
    stays unique."""
    import math

    c = int(capacity)
    if c < 1:
        raise ValueError("pack_bins_residual_fill: capacity must be >= 1")
    spark = df.sparkSession
    eff = F.least(F.col(n_tok_col), F.lit(c))
    hist = {
        int(r["__cls"]): int(r["cnt"])
        for r in df.filter(F.col(n_tok_col) > 0)
        .groupBy(eff.cast("long").alias("__cls"))
        .agg(F.count("*").alias("cnt"))
        .collect()
    }

    # ---- driver arithmetic over the ≤ capacity-row histogram -------
    large = {m: n for m, n in hist.items() if m * 4 > c}
    small = {m: n for m, n in hist.items() if m * 4 <= c}
    # bin INTERVALS: runs of bins of one class with consecutive
    # bin_idx sharing (residual, docs_in_bin, fill history). Round 1
    # starts with ≤ 2 intervals per class (full bins + the partial
    # last bin); every fill round refines intervals at the filler-
    # range boundaries, and because each filler class occupies ONE
    # contiguous range of the residual-descending bin order, the
    # interval count grows by at most #classes per round — the driver
    # state stays O(classes · rounds) no matter how many bins exist.
    # Each interval: [res, cls, start_bin, count, dib, nfill, addtok]
    intervals: list[list[int]] = []
    for m, n in large.items():
        k = c // m
        b_total = math.ceil(n / k)
        partial = n - k * (b_total - 1)  # docs in the last bin, 1..k
        if partial == k:
            intervals.append([c - k * m, m, 0, b_total, k, 0, 0])
        else:
            if b_total > 1:
                intervals.append([c - k * m, m, 0, b_total - 1, k, 0, 0])
            intervals.append(
                [c - partial * m, m, b_total - 1, 1, partial, 0, 0]
            )
    remaining = dict(small)
    for _ in range(max(0, int(rounds))):
        if not intervals or not any(remaining.values()):
            break
        # bins in (residual DESC, cls, bin_idx) order ≡ intervals in
        # (residual DESC, cls, start_bin) order (bin_idx is
        # consecutive inside an interval)
        intervals.sort(key=lambda iv: (-iv[0], iv[1], iv[2]))
        offs, j0 = [], 0
        for iv in intervals:
            offs.append(j0)
            j0 += iv[3]
        n_bins = j0
        # remaining docs descend (length DESC) into the residuals:
        # class m's docs occupy fill ranks [desc_off_m, +n_m), and the
        # first F_m fit (res(j) non-increasing ⇒ "fits" is a prefix:
        # F_m = ranks ≤ T_m = last j with res(j) >= m, clamped)
        desc_off, acc = {}, 0
        for m in sorted(remaining, reverse=True):
            if remaining[m] > 0:
                desc_off[m] = acc
                acc += remaining[m]
        fill_ranges = []  # (j_lo, j_hi, filler_class)
        for m in desc_off:
            t_m = -1
            for iv, off in zip(intervals, offs):
                if iv[0] >= m:
                    t_m = off + iv[3] - 1
                else:
                    break
            f = max(0, min(t_m + 1, n_bins) - desc_off[m])
            f = min(f, remaining[m])
            if f > 0:
                fill_ranges.append((desc_off[m], desc_off[m] + f, m))
                remaining[m] -= f
        if not fill_ranges:
            break
        refined: list[list[int]] = []
        for iv, off in zip(intervals, offs):
            res, cls, sb, cnt, dib, nf, at = iv
            lo, hi = off, off + cnt
            cuts = sorted(
                (max(lo, a), min(hi, b), m)
                for a, b, m in fill_ranges
                if a < hi and b > lo
            )
            pos = lo
            for a, b, m in cuts:
                if a > pos:
                    refined.append(
                        [res, cls, sb + (pos - lo), a - pos, dib, nf, at]
                    )
                refined.append(
                    [res - m, cls, sb + (a - lo), b - a, dib, nf + 1, at + m]
                )
                pos = b
            if pos < hi:
                refined.append(
                    [res, cls, sb + (pos - lo), hi - pos, dib, nf, at]
                )
        intervals = refined

    out_schema = (
        "len_class long, bin_idx long, n_docs long, fill_tokens long, "
        "waste_tokens long"
    )

    # ---- bins generated from ONE range + ONE interval table --------
    # Large-bin intervals and the small-leftover classes are disjoint
    # contiguous id ranges, so they share a single global bin-id space
    # (small classes offset past the large bins) and a single
    # broadcast range-join — the second broadcast build + join + union
    # this used to pay per call is gone (optimization round 16; rows
    # identical, the union order never mattered to consumers or the
    # oracle's order-insensitive hash). `is_small` tags which constant
    # set applies.
    rows_tab, lo = [], 0
    for res, cls, sb, cnt, dib, nf, at in intervals:
        # (cls, lo, hi, base, dib_or_k, fill_const, ndocs_const, small, n)
        rows_tab.append(
            (int(cls), lo, lo + int(cnt), int(sb), 0,
             int(dib) * int(cls) + int(at), int(dib) + int(nf), 0, 0)
        )
        lo += int(cnt)
    for m in sorted(small):
        left = remaining.get(m, small[m])
        if left <= 0:
            continue
        k = c // m
        b_total = math.ceil(left / k)
        rows_tab.append((int(m), lo, lo + b_total, 0, int(k), 0, 0, 1, int(left)))
        lo += b_total
    if not rows_tab:
        return spark.createDataFrame([], out_schema)
    tab = F.broadcast(
        spark.createDataFrame(
            rows_tab,
            "cls long, lo long, hi long, base long, k long, "
            "fill long, ndocs long, small int, n long",
        )
    )
    off = F.col("id") - F.col("lo")
    nd_small = F.least(F.col("k"), F.col("n") - off * F.col("k"))
    n_docs = F.when(F.col("small") == 1, nd_small).otherwise(F.col("ndocs"))
    fill = F.when(
        F.col("small") == 1, nd_small * F.col("cls")
    ).otherwise(F.col("fill"))
    bin_idx = F.when(F.col("small") == 1, off).otherwise(F.col("base") + off)
    return (
        spark.range(lo)
        .join(tab, (F.col("id") >= F.col("lo")) & (F.col("id") < F.col("hi")))
        .select(
            F.col("cls").alias("len_class"),
            bin_idx.cast("long").alias("bin_idx"),
            n_docs.cast("long").alias("n_docs"),
            fill.cast("long").alias("fill_tokens"),
            (F.lit(c) - fill).cast("long").alias("waste_tokens"),
        )
    )
