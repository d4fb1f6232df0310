"""Deduplication operators for LLM training-data pipelines
(SURVEY.md §2.9): exact, normalized, MinHash+LSH, SimHash, n-gram
Jaccard. Designed for 100 TB:

- exact/normalized dedup: hash-groupBy — ONE shuffle on a 256-bit hash
  (uniformly distributed, no skew), map-side combine; never shuffles
  the document text itself when only ids are needed.
- MinHash+LSH: shingle -> K minhashes (pure int arithmetic on crc32/xxhash,
  no UDF) -> band signatures -> explode bands -> self-join on
  (band_id, band_hash). The candidate join is on short uniform hash
  keys; true Jaccard verification runs only on candidates. This is the
  standard near-linear near-dup pipeline (vs the quadratic all-pairs
  join).
- SimHash: 64-bit signed projection of token hashes; near-dups = equal
  simhash buckets (or small Hamming distance via band rotation).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pulsar_elasticsearch_sync_rs_spark.functions.text import (
    shingles_from_tokens,
    word_shingles,
    ws_tokens,
)
from pulsar_elasticsearch_sync_rs_spark.operators.skew import evaluate_once

MERSENNE = 2147483647  # 2^31 - 1, modulus for minhash permutations


def dedup_exact(
    df: DataFrame, text: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Exact dedup: keep the lowest-id row per identical text.

    Implemented as sha2-256 hash groupBy (the text column itself never
    shuffles — only the 32-byte hash + id), then a semi-join back.
    At 100 TB this is the cheapest correct strategy: uniform keys, full
    map-side partial aggregation.
    """
    h = F.sha2(F.col(text), 256)
    keep = (
        df.select(F.col(id_col), h.alias("__h"))
        .groupBy("__h")
        .agg(F.min(id_col).alias(id_col))
        .drop("__h")
    )
    return df.join(keep, id_col, "left_semi")


def normalize_text(text: Column | str) -> Column:
    """Normalization used for near-exact dedup: lowercase, strip
    punctuation, collapse whitespace."""
    text = F.col(text) if isinstance(text, str) else text
    t = F.lower(text)
    t = F.regexp_replace(t, r"[\p{Punct}]", " ")
    t = F.regexp_replace(F.trim(t), r"\s+", " ")
    return t


def dedup_normalized(
    df: DataFrame, text: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Near-exact dedup on normalized text (same scale posture as
    :func:`dedup_exact`)."""
    norm = normalize_text(text)
    w = Window.partitionBy(F.sha2(norm, 256)).orderBy(F.col(id_col).asc())
    return (
        df.withColumn("__rn", F.row_number().over(w))
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )


def minhash_signature(hashes: Column, num_hashes: int = 32) -> Column:
    """K minhash values via the standard (a*h + b) mod p permutation
    family over precomputed shingle hashes — pure integer expressions,
    no UDF. Odd multipliers a_i, deterministic b_i (public MinHash
    construction, Broder 1997).

    Built as ONE ``zip_with`` over literal coefficient arrays (not K
    separate columns): Catalyst's projection collapse would otherwise
    inline the shingle subtree K times and re-tokenize the document per
    hash — the difference between seconds and hours on real text.
    ``hashes`` should be a *materialized* column (see
    :func:`minhash_candidates`'s repartition barrier).
    """
    a_arr = F.array(*[F.lit(2 * i + 1).cast("bigint") for i in range(num_hashes)])
    b_arr = F.array(
        *[F.lit(40503 * (i + 1) % MERSENNE).cast("bigint") for i in range(num_hashes)]
    )
    return F.zip_with(
        a_arr,
        b_arr,
        # empty-shingle sentinel: array_min of an empty array is null;
        # coalesce to MERSENNE so this lane matches the UDF lane's
        # [MERSENNE]*K signature for empty/too-short docs
        lambda a, b: F.coalesce(
            F.array_min(F.transform(hashes, lambda h: (h * a + b) % MERSENNE)),
            F.lit(MERSENNE).cast("bigint"),
        ),
    )


def make_minhash_udf(num_hashes: int = 32, shingle_k: int = 3):
    """The production minhash kernel: text → whitespace tokens →
    k-word shingle set → crc32 → K permutation minima, all inside one
    Arrow-batched numpy UDF.

    Why a UDF and not expressions: Spark's higher-order functions are
    CodegenFallback (interpreted per element). The expression form of
    this kernel measured 364 s over 5,000 docs at sf0.1; this UDF does
    the same work in seconds and parallelizes per Arrow batch across
    executors. crc32-of-UTF-8 matches Spark's builtin ``crc32`` and the
    permutation family matches :func:`minhash_signature`, so the two
    lanes are interchangeable.
    """
    a_coef = (2 * np.arange(num_hashes, dtype=np.int64) + 1)
    b_coef = (40503 * (np.arange(num_hashes, dtype=np.int64) + 1)) % MERSENNE

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def minhash_udf(text: pd.Series) -> pd.Series:
        import zlib

        from pulsar_elasticsearch_sync_rs_spark.functions.text import py_word_shingles

        out = []
        for t in text:
            shingles = py_word_shingles(t, shingle_k)
            if not shingles:
                # empty-shingle sentinel: all empty docs share a signature
                out.append([MERSENNE] * num_hashes)
                continue
            hv = np.fromiter(
                (zlib.crc32(s.encode("utf-8")) for s in shingles),
                dtype=np.int64,
                count=len(shingles),
            )
            out.append(((hv[:, None] * a_coef + b_coef) % MERSENNE).min(axis=0).tolist())
        return pd.Series(out)

    return minhash_udf


def minhash_bands(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
) -> DataFrame:
    """The banded-signature table (id, band_id, band_hash) — the shared
    front half of LSH candidate generation, factored out so it can also
    be PERSISTED as the at-rest near-dup index (see
    :func:`persist_minhash_bands`).

    Empty-shingle sentinel docs are excluded: every doc with
    < shingle_k tokens shares the [MERSENNE]*K signature, so a crawl
    corpus with millions of empty/short docs would concentrate them
    ALL into one bucket per band (the degenerate mega-bucket). Their
    exact Jaccard against anything is 0 (empty shingle set), so at
    threshold > 0 excluding them is lossless — exact-dup collapsing of
    empty docs is dedup_exact's job. The test is precise: permuted
    hashes are (h·a+b) mod MERSENNE < MERSENNE strictly, so
    sig[0] == MERSENNE ⟺ sentinel."""
    rows_per_band = num_hashes // bands
    mh = make_minhash_udf(num_hashes, shingle_k)
    # the sentinel test is equivalent to "fewer than shingle_k tokens"
    # (empty shingle set ⟺ sig == [MERSENNE]*K), so filter JVM-side
    # BEFORE the UDF: filtering on element_at(sig, 1) afterwards made
    # Catalyst's projection collapse inline the UDF into the Filter AND
    # the Project — TWO ArrowEvalPython passes per document (found by
    # the round-6 incremental-minhash plan pin; same family as the
    # SKILL.md HOF re-evaluation gotcha)
    sig = df.filter(F.size(ws_tokens(text)) >= shingle_k).select(
        F.col(id_col), mh(F.col(text)).alias("sig")
    )
    band_arr = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda b: F.struct(
            b.alias("band_id"),
            F.sha2(
                F.concat_ws(
                    ",",
                    F.transform(
                        F.slice(F.col("sig"), b * rows_per_band + 1, rows_per_band),
                        lambda x: x.cast("string"),
                    ),
                ),
                256,
            ).alias("band_hash"),
        ),
    )
    return sig.select(id_col, F.explode(band_arr).alias("band")).select(
        id_col, "band.band_id", "band.band_hash"
    )


def minhash_candidates(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    max_bucket: int = 1024,
) -> DataFrame:
    """LSH candidate pairs: docs sharing ≥1 band of their minhash
    signature. Returns (id_a, id_b) with id_a < id_b, distinct.

    Scale path: signature via one vectorized UDF pass (narrow), explode
    to (band_id, band_hash, id) — short uniform keys — then self-join
    per bucket. Only ids + band hashes shuffle; the text never does.

    Mega-bucket guard (``max_bucket``): a genuine near-dup mega-cluster
    — millions of boilerplate pages sharing a band hash, the common
    case in web crawls — would otherwise concentrate its whole id list
    into ONE ``collect_list`` row and explode k² pairs from it. Buckets
    with k > max_bucket therefore degrade to STAR pairs: (min_id, id)
    for every other member — O(k) rows, computed by window functions
    with no id list ever materialized. A band bucket that large is a
    duplicate cluster by construction (k docs agreeing on a whole band
    are near-identical w.h.p.), so the star preserves exactly what
    downstream needs: connectivity for transitive cluster dedup, and a
    verifiable (hub, member) pair per member. What it gives up is
    spoke-to-spoke pair enumeration INSIDE the mega-cluster, which adds
    no information at threshold-level recall and is the quadratic term
    that kills crawl-scale runs. Small buckets (k ≤ max_bucket) keep
    exact in-row pair expansion, so results are unchanged unless the
    cap is actually hit.
    """
    banded = minhash_bands(
        df,
        text=text,
        id_col=id_col,
        num_hashes=num_hashes,
        bands=bands,
        shingle_k=shingle_k,
    )
    return candidates_from_bands(banded, id_col=id_col, max_bucket=max_bucket)


def candidates_from_bands(
    banded: DataFrame, id_col: str = "doc_id", max_bucket: int = 1024
) -> DataFrame:
    """Within-table candidate pairs from an already-banded signature
    table — the back half of :func:`minhash_candidates`, factored out
    so callers holding a bands DataFrame (the incremental lane's
    already-computed batch bands, or a loaded persisted index) can
    generate pairs WITHOUT re-running the signature UDF.

    Bucket-grouped pair generation instead of a self-join: a
    self-join recomputes the ENTIRE signature subtree (the Arrow UDF
    pass over every document) once per join side — Catalyst does not
    share subtrees across join branches. Grouping materializes each
    bucket's id list once (one signature pass, ONE shuffle on the
    short uniform band key) and expands the within-bucket pairs
    in-row with two explodes. The window's count/min share that same
    hash partitioning, so sizing the buckets adds no extra Exchange.
    """
    w = Window.partitionBy("band_id", "band_hash")
    sized = banded.withColumn("__k", F.count(F.lit(1)).over(w)).withColumn(
        "__hub", F.min(id_col).over(w)
    )
    # ONE signature pass for both consumers: the small-bucket groupBy
    # branch and the mega-bucket star branch below would otherwise each
    # re-derive the whole banded subtree — Catalyst shares no subtrees
    # across union branches, and the Python-UDF exchanges don't
    # canonicalize equal so ReuseExchange can't kick in either — i.e.
    # the signature UDF over the FULL corpus once per branch (caught by
    # the bench plan pin, round 7). Both branches read the SAME
    # checkpointed RDD, so one job materializes it. LAZY (eager=False):
    # building the DataFrame (explain, conditional pipelines) must not
    # run the signature job as a construction side effect. The
    # checkpoint stores only the skinny (id, band_id, band_hash, k,
    # hub) rows the window exchange already shuffled; text never
    # enters it. Executor-local storage trade (lineage truncation on
    # executor loss) is the same one packing's prefix scan and the
    # components iteration already accept.
    sized = sized.localCheckpoint(eager=False)
    small_pairs = (
        sized.filter((F.col("__k") > 1) & (F.col("__k") <= max_bucket))
        .groupBy("band_id", "band_hash")
        .agg(F.collect_list(F.col(id_col)).alias("ids"))
        .select(F.explode("ids").alias("id_a"), F.col("ids"))
        .select("id_a", F.explode("ids").alias("id_b"))
        .filter(F.col("id_a") < F.col("id_b"))
    )
    # mega buckets: stream (hub, member) rows straight off the window —
    # bounded per-row memory regardless of cluster size
    mega_pairs = sized.filter(
        (F.col("__k") > max_bucket) & (F.col(id_col) != F.col("__hub"))
    ).select(F.col("__hub").alias("id_a"), F.col(id_col).alias("id_b"))
    return small_pairs.unionByName(mega_pairs).distinct()


def ngram_jaccard_pairs(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    shingle_k: int = 3,
    block_col: str | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similar pairs ≥ threshold via the
    AllPairs/PPJoin **prefix filter** (Bayardo et al. WWW'07, Xiao et
    al. — public literature).

    Shingles get a global canonical order: ascending document frequency
    (rarest first), ties broken by token. ``J(A,B) ≥ t`` implies
    ``|A∩B| ≥ ⌈t·max(|A|,|B|)⌉``, and the prefix lemma then says the
    first ``p(n) = n − ⌈t·n⌉ + 1`` shingles of each doc (in canonical
    order) must share at least one shingle. Candidate generation is an
    equi-join on *prefix shingles only* — a pair must share a rare
    shingle to be enumerated, so the per-key blow-up is bounded by the
    df of the rarest prefix token, not by the size of a (block,
    size-band) bucket (the previous band join was quadratic within a
    popular bucket). The exact size-ratio bound ``t ≤ |A|/|B| ≤ 1/t``
    stays as a scalar pre-filter and exact Jaccard verifies every
    candidate, so results (and the SQL oracle) are unchanged.

    Every stage is linear in corpus size: token-df aggregation
    (map-side combine on short string keys), df annotation (shuffle on
    token), per-doc re-sort (shuffle on id), prefix join (shuffle on
    token), verify join-back (shuffle on id). No stage enumerates a
    cross product.
    """
    blk = [block_col] if block_col else []
    # two-step select: tokenize once into an attribute, THEN shingle —
    # the shingle zip_with references its token input k+2 times and
    # would otherwise inline the whitespace split into every reference
    # (see functions.text.kgrams_from_tokens)
    base = df.select(
        F.col(id_col), ws_tokens(text).alias("__toks"),
        *[F.col(c) for c in blk],
    ).select(
        F.col(id_col), shingles_from_tokens("__toks", shingle_k).alias("sh"),
        *[F.col(c) for c in blk],
    )
    # Exchange barrier: materializes the shingle arrays so the
    # interpreted-HOF shingle expression isn't re-inlined downstream,
    # and spreads a single-file input across cores.
    base = base.repartition(base.sparkSession.sparkContext.defaultParallelism, id_col)

    inter = F.size(F.array_intersect(F.col("a.sh"), F.col("b.sh")))
    union = F.size(F.array_union(F.col("a.sh"), F.col("b.sh")))
    jac = F.when(union > 0, inter.cast("double") / union.cast("double")).otherwise(F.lit(0.0))

    if threshold <= 0.0:
        # Degenerate: J ≥ 0 admits disjoint pairs, so no shared-token
        # filter is sound — preserve all-pairs semantics via a
        # constant-key equi-join (block-scoped when given).
        a = base.withColumn("__k", F.lit(0)).alias("a")
        b = base.withColumn("__k", F.lit(0)).alias("b")
        cond = (F.col("a.__k") == F.col("b.__k")) & (
            F.col(f"a.{id_col}") < F.col(f"b.{id_col}")
        )
        if block_col:
            cond = cond & (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
        return (
            a.join(b, cond)
            .select(
                F.col(f"a.{id_col}").alias("id_a"),
                F.col(f"b.{id_col}").alias("id_b"),
                # evaluate_once: the threshold filter below would
                # otherwise be pushed through this projection with the
                # intersect/union expression RE-INLINED — two O(|sh|)
                # interpreted set passes per pair (optimization round
                # 15, operators/skew.evaluate_once)
                evaluate_once(F.round(jac, 6)).alias("jaccard"),
            )
            .filter(F.col("jaccard") >= threshold)
        )

    docs_sorted, cand = _ppjoin_docs_and_candidates(
        base, id_col, threshold, block_col
    )
    # verify join-back: only candidate ids shuffle, then two id-keyed
    # equi-joins pull the shingle arrays for the exact check
    arrs = docs_sorted.select(F.col(id_col), F.col("sh"))
    return (
        cand.join(
            arrs.select(F.col(id_col).alias("id_a"), F.col("sh").alias("__sh_a")),
            "id_a",
        )
        .join(
            arrs.select(F.col(id_col).alias("id_b"), F.col("sh").alias("__sh_b")),
            "id_b",
        )
        .select(
            "id_a",
            "id_b",
            # evaluate_once: see the degenerate branch above — without
            # it the pushed threshold filter re-inlines the whole
            # intersect/union computation, doubling the verify cost
            evaluate_once(
                F.round(
                    F.when(
                        F.size(F.array_union("__sh_a", "__sh_b")) > 0,
                        F.size(F.array_intersect("__sh_a", "__sh_b")).cast("double")
                        / F.size(F.array_union("__sh_a", "__sh_b")).cast("double"),
                    ).otherwise(F.lit(0.0)),
                    6,
                )
            ).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def ppjoin_candidates(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    shingle_k: int = 3,
    block_col: str | None = None,
) -> DataFrame:
    """Prefix-filtered candidate pairs only (no verify) — the stage the
    scale argument rests on; exposed so tests can pin that the
    candidate count stays far below the size-band pair count."""
    blk = [block_col] if block_col else []
    base = df.select(
        F.col(id_col), ws_tokens(text).alias("__toks"),
        *[F.col(c) for c in blk],
    ).select(
        F.col(id_col), shingles_from_tokens("__toks", shingle_k).alias("sh"),
        *[F.col(c) for c in blk],
    )
    base = base.repartition(base.sparkSession.sparkContext.defaultParallelism, id_col)
    return _ppjoin_docs_and_candidates(base, id_col, threshold, block_col)[1]


def _ppjoin_docs_and_candidates(
    base: DataFrame,
    id_col: str,
    threshold: float,
    block_col: str | None,
) -> tuple[DataFrame, DataFrame]:
    """(frequency-sorted doc shingle arrays, distinct candidate pairs)."""
    blk = [block_col] if block_col else []
    # --- canonical order: ascending global df, tie-break on the token ---
    tok = base.select(F.col(id_col), *blk, F.explode("sh").alias("__tk"))
    dfreq = tok.groupBy("__tk").agg(F.count(F.lit(1)).alias("__df"))
    docs_sorted = (
        tok.join(dfreq, "__tk")
        .groupBy(id_col, *blk)
        .agg(F.array_sort(F.collect_list(F.struct("__df", "__tk"))).alias("__st"))
        .select(
            F.col(id_col),
            *blk,
            F.transform("__st", lambda s: s["__tk"]).alias("sh"),
            F.size("__st").alias("n_sh"),
        )
    )
    # prefix length p = n − ⌈t·n⌉ + 1; the 1e-9 guard keeps float noise
    # in t·n from rounding the ceil UP (which would shorten the prefix
    # and silently drop boundary pairs) — noise can only lengthen it,
    # which stays lossless.
    prefixed = docs_sorted.withColumn(
        "__p",
        (
            F.col("n_sh")
            - F.ceil(F.col("n_sh").cast("double") * F.lit(threshold) - F.lit(1e-9))
            + 1
        ).cast("int"),
    )
    ex = prefixed.select(
        F.col(id_col), *blk, F.col("n_sh"),
        F.explode(F.slice("sh", 1, F.col("__p"))).alias("__tk"),
    )
    a, b = ex.alias("a"), ex.alias("b")
    cond = (
        (F.col("a.__tk") == F.col("b.__tk"))
        & (F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        # exact size-ratio filter: J ≥ t ⇒ t ≤ |A|/|B| ≤ 1/t
        & (F.col("a.n_sh").cast("double") >= threshold * F.col("b.n_sh"))
        & (F.col("b.n_sh").cast("double") >= threshold * F.col("a.n_sh"))
    )
    if block_col:
        cond = cond & (F.col(f"a.{block_col}") == F.col(f"b.{block_col}"))
    cand = (
        a.join(b, cond)
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
        )
        .distinct()
    )
    return docs_sorted, cand


def make_jaccard_verify_udf(shingle_k: int):
    """A FRESH exact-Jaccard pair kernel (text_a, text_b) → jaccard,
    already fenced evaluate-once. Factory, not module-level: the
    threshold filter the callers apply is a predicate on the UDF's
    OUTPUT with no input-derivable equivalent, so predicate pushdown
    would otherwise clone the kernel into the Filter AND the Project
    (two Arrow passes per candidate pair — caught by the bench plan
    pin, round 7); ``asNondeterministic()`` forbids Catalyst from
    duplicating or pushing past it — AND it MUTATES the shared
    underlying UDF object, so every call site needs its own instance
    (round-7 rule; see operators/similarity.cosine_once)."""

    @F.pandas_udf(T.DoubleType())
    def jaccard_udf(ta: pd.Series, tb: pd.Series) -> pd.Series:
        from pulsar_elasticsearch_sync_rs_spark.functions.text import py_word_shingles

        out = []
        for x, y in zip(ta, tb):
            sa, sb = py_word_shingles(x, shingle_k), py_word_shingles(y, shingle_k)
            union = len(sa | sb)
            out.append(len(sa & sb) / union if union else 0.0)
        return pd.Series(out)

    return jaccard_udf.asNondeterministic()


def dedup_minhash_verified(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    threshold: float = 0.5,
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
) -> DataFrame:
    """Near-dup pairs at scale: LSH candidates pruned, then verified
    with exact Jaccard on the candidate set only. Output subset of the
    all-pairs result (LSH recall < 1 by construction; bands/hashes set
    the recall curve)."""
    cand = minhash_candidates(df, text, id_col, num_hashes, bands, shingle_k)
    # verify on pair TEXTS with one Arrow/numpy UDF: shuffling the raw
    # text of candidate pairs is strictly less data than shuffling
    # k-word shingle arrays (each word repeated k times), and the
    # set-intersection runs vectorized per Arrow batch instead of as
    # interpreted array_intersect/array_union expressions — this cut
    # the sf0.1 lane from 8.8 s to candidates+ε.
    t = df.select(F.col(id_col), F.col(text).alias("__t"))
    jaccard_udf = make_jaccard_verify_udf(shingle_k)

    return (
        cand.join(t.withColumnRenamed(id_col, "id_a").withColumnRenamed("__t", "__ta"), "id_a")
        .join(t.withColumnRenamed(id_col, "id_b").withColumnRenamed("__t", "__tb"), "id_b")
        .select("id_a", "id_b", F.round(jaccard_udf("__ta", "__tb"), 6).alias("jaccard"))
        .filter(F.col("jaccard") >= threshold)
    )


def simhash64(text: Column | str) -> Column:
    """64-bit SimHash over whitespace tokens (Charikar 2002): per bit,
    sum +1/-1 according to whether the token's 64-bit hash has that bit
    set; the result bit is set iff the sum is positive.

    Arrow-vectorized numpy kernel (same rationale as the minhash UDF:
    nested higher-order expressions are both unsupported by the lambda
    builder and interpreted at runtime). Token hash = first 8 bytes of
    blake2b — deterministic, public, stdlib.
    """
    text = F.col(text) if isinstance(text, str) else text

    @F.pandas_udf(T.LongType())
    def simhash_udf(texts: pd.Series) -> pd.Series:
        import hashlib

        from pulsar_elasticsearch_sync_rs_spark.functions.text import py_ws_tokens

        bit_idx = np.arange(64, dtype=np.uint64)
        out = []
        for t in texts:
            toks = py_ws_tokens(t)
            if not toks:
                out.append(0)
                continue
            hv = np.fromiter(
                (
                    int.from_bytes(
                        hashlib.blake2b(tok.encode("utf-8"), digest_size=8).digest(), "big"
                    )
                    for tok in toks
                ),
                dtype=np.uint64,
                count=len(toks),
            )
            signs = (((hv[:, None] >> bit_idx) & 1).astype(np.int64) * 2 - 1).sum(axis=0)
            bits = np.uint64(0)
            for i in np.nonzero(signs > 0)[0]:
                bits |= np.uint64(1) << np.uint64(i)
            out.append(int(bits.astype(np.int64)))
        return pd.Series(out, dtype="int64")

    return simhash_udf(text)


def simhash_neardup_pairs(
    df: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    k: int = 3,
    n_blocks: int = 6,
) -> DataFrame:
    """Hamming-distance-≤k candidate pairs over 64-bit SimHash
    signatures, Manku/Jain/Sarma block-combination scheme (WWW'07
    "Detecting Near-Duplicates for Web Crawling" — public algorithm):

    split the signature into ``n_blocks`` blocks; k bit flips can dirty
    at most k blocks, so any pair within hamming ≤ k agrees EXACTLY on
    some (n_blocks - k)-block combination (pigeonhole) → emit one row
    per C(n_blocks, n_blocks-k) combination keyed by the concatenated
    clean-block values, equi-join on (combo_id, key), then verify with
    JVM-side ``bit_count(sig_a ^ sig_b)``. 100% recall within k by
    construction; the verify makes precision exact.

    Scale: with the default 6-choose-3 scheme the join key is ~33 bits
    of signature (vs 16 bits for naive 4-banding) — bucket population
    at N docs is N/2^33 per combo, so the within-bucket join stays
    linear far beyond 10^9 docs, at the cost of a 20× key explosion of
    (id, sig, key) triples — narrow rows; document text never shuffles.
    The signature itself is ONE Arrow/numpy UDF pass."""
    import itertools

    if not 0 < k < n_blocks:
        raise ValueError(f"need 0 < k < n_blocks, got k={k} n_blocks={n_blocks}")
    sigs = df.select(F.col(id_col).alias("id"), simhash64(F.col(text)).alias("sig"))
    # token-less docs all hash to signature 0 and would form one
    # degenerate mega-bucket in every block combination (same hazard as
    # the minhash sentinel — see minhash_candidates); empty docs are
    # exact dups of each other and belong to dedup_exact, so exclude
    # them here. (A real doc hashing to exactly 0 requires all 64 sign
    # sums non-positive — astronomically unlikely and, if it happens,
    # the doc merely skips NEAR-dup pairing.)
    sigs = sigs.filter(F.col("sig") != 0)

    base, rem = divmod(64, n_blocks)
    widths = [base + 1] * rem + [base] * (n_blocks - rem)
    offsets = [sum(widths[:i]) for i in range(n_blocks)]
    blocks = [
        F.shiftrightunsigned("sig", offsets[i]).bitwiseAND(F.lit((1 << widths[i]) - 1))
        for i in range(n_blocks)
    ]
    clean = n_blocks - k
    spacing = max(widths) + 1  # no overlap when packing block values
    keys = []
    for combo in itertools.combinations(range(n_blocks), clean):
        key = F.lit(0).cast("long")
        for j, bi in enumerate(combo):
            key = key + (blocks[bi].cast("long") * F.lit(1 << (spacing * j)).cast("long"))
        keys.append(key)

    exploded = sigs.select(
        "id", "sig", F.posexplode(F.array(*keys)).alias("combo_id", "key")
    )
    # bucket-grouped pair generation (same rationale as
    # minhash_candidates): a self-join would run the simhash Arrow UDF
    # over the corpus once per side; grouping runs it once, shuffles
    # (id, sig) structs on the ~33-bit combo key, and expands
    # within-bucket pairs in-row. The exact bit_count verify then
    # filters candidates to true hamming <= k pairs.
    return (
        exploded.groupBy("combo_id", "key")
        .agg(F.collect_list(F.struct("id", "sig")).alias("members"))
        .filter(F.size("members") > 1)
        .select(F.explode("members").alias("a"), F.col("members"))
        .select("a", F.explode("members").alias("b"))
        .filter(F.col("a.id") < F.col("b.id"))
        .select(
            F.col("a.id").alias("id_a"),
            F.col("b.id").alias("id_b"),
            F.expr("bit_count(a.sig ^ b.sig)").cast("int").alias("hamming"),
        )
        .filter(F.col("hamming") <= k)
        .dropDuplicates(["id_a", "id_b"])
    )


def dedup_simhash(
    df: DataFrame, text: str = "text", id_col: str = "doc_id", k: int = 0
) -> DataFrame:
    """SimHash dedup survivors.

    ``k=0``: keep the lowest id per identical 64-bit signature (one
    shuffle on the signature). ``k>0``: near-dup suppression — drop
    every doc that has a smaller-id neighbor within hamming ≤ k
    (candidates via :func:`simhash_neardup_pairs`, exact bit_count
    verify). The survivor rule is deterministic single-pass
    neighborhood suppression; full transitive clustering is the
    iterative connected-components extension and deliberately out of
    scope (same survivor semantics as the minhash verified lane)."""
    if k == 0:
        w = Window.partitionBy("__sh").orderBy(F.col(id_col).asc())
        return (
            df.withColumn("__sh", simhash64(F.col(text)))
            .withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .drop("__rn", "__sh")
        )
    losers = (
        simhash_neardup_pairs(df, text=text, id_col=id_col, k=k)
        .select(F.col("id_b").alias(id_col))
        .distinct()
    )
    return df.join(losers, id_col, "left_anti")


def persist_sha_index(
    corpus: DataFrame,
    table_name: str,
    path: str,
    text: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 16,
) -> None:
    """Materialize the corpus content-hash index as a Spark-native
    BUCKETED table (``bucketBy(sha)`` + ``sortBy(sha)``) — the at-rest
    state incremental dedup joins against. At 100 TB this is the
    one-off pass the batch dedup already pays; every subsequent
    increment's anti-join reads co-located buckets instead of
    re-shuffling the historical index (plan-asserted in
    tests/test_dedup_similarity.py)."""
    idx = corpus.select(F.sha2(text, 256).alias("sha"), F.col(id_col))
    (
        idx.write.mode("overwrite")
        .bucketBy(n_buckets, "sha")
        .sortBy("sha")
        .option("path", path)
        .saveAsTable(table_name)
    )


def dedup_incremental_bucketed(
    spark,
    table_name: str,
    batch: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 16,
) -> DataFrame:
    """Admit only batch rows whose content sha is absent from the
    persisted index AND first within the batch (min id). The history
    side never shuffles — but ONLY when the increment side's partition
    count matches the index's bucket count (``n_buckets`` must equal
    the value given to :func:`persist_sha_index`): Spark satisfies a
    bucketed join's distribution requirement per partition-count, and
    with the session's batch shuffle count (``session.batch_partitions``)
    differing from the bucket count it would silently re-shuffle a side.
    The explicit ``repartition(n_buckets, sha)`` pins it; Catalyst
    reuses that one Exchange for both the groupBy and the join
    (plan-asserted)."""
    idx = spark.table(table_name).select("sha")
    hashed = batch.select(F.sha2(text, 256).alias("sha"), F.col(id_col))
    first = (
        hashed.repartition(n_buckets, "sha")
        .groupBy("sha")
        .agg(F.min(id_col).alias(id_col))
    )
    return first.join(idx, "sha", "left_anti").select(id_col, "sha")


def persist_minhash_bands(
    corpus: DataFrame,
    table_name: str,
    path: str,
    text: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    n_buckets: int = 16,
) -> None:
    """Materialize the corpus's banded minhash signatures as a
    Spark-native BUCKETED table on ``band_hash`` — the near-dup
    counterpart of :func:`persist_sha_index`. The expensive half of
    LSH (shingle → signature → band) is paid ONCE for the history;
    every subsequent increment signatures only its own documents and
    joins the persisted bands co-located (the history never
    re-signatures and never re-shuffles — plan-asserted in tests)."""
    (
        minhash_bands(
            corpus,
            text=text,
            id_col=id_col,
            num_hashes=num_hashes,
            bands=bands,
            shingle_k=shingle_k,
        )
        .write.mode("overwrite")
        .bucketBy(n_buckets, "band_hash")
        .sortBy("band_hash")
        .option("path", path)
        .saveAsTable(table_name)
    )


def incremental_minhash_candidates(
    spark,
    table_name: str,
    batch: DataFrame,
    text: str = "text",
    id_col: str = "doc_id",
    num_hashes: int = 32,
    bands: int = 8,
    shingle_k: int = 3,
    n_buckets: int = 16,
    max_bucket: int = 1024,
    eager: bool = False,
) -> DataFrame:
    """Near-dup candidates for a NEW batch against a
    :func:`persist_minhash_bands` history, plus within-batch pairs —
    the daily-increment production shape for MinHash dedup. Returns
    (id_a, id_b), id_a < id_b, distinct. Below the ``max_bucket`` cap,
    completeness is pytest-pinned: restricted to pairs touching the
    batch, this equals what a full from-scratch ``minhash_candidates``
    over history ∪ batch finds. Above the cap the cross join degrades
    like the batch operator does (see :func:`cross_band_candidates`):
    connectivity-preserving star pairs, O(batch members) output.

    Scale: the batch side computes signatures for ITS documents only —
    and exactly ONCE: the banded batch is persisted (bounded:
    batch_rows × bands short rows) and feeds BOTH the cross join and
    the within-batch pass via :func:`candidates_from_bands`, so the
    signature UDF subtree is not duplicated across the union's
    branches (the same double-evaluation family round 6 fixed inside
    minhash_bands). The cache is batch-sized; by default (lazy) it is
    reclaimed by Spark's ContextCleaner once the result goes out of
    scope, which is fine for one-shot batch use but lets caches pile up
    between GC cycles when the lane runs PER MICRO-BATCH in a long-
    lived session — such callers pass ``eager=True``, which
    materializes the (bounded, pairs-only) result via an eager
    ``localCheckpoint`` and unpersists the band cache before
    returning, making cleanup deterministic. (Eager mode truncates the
    returned plan to a checkpoint scan, so plan-shape inspection needs
    the lazy default.) The batch bands are repartitioned to the index's
    bucket count on
    ``band_hash`` so the equi-join reads history buckets co-located
    (``n_buckets`` must match the persist call — same contract as
    :func:`dedup_incremental_bucketed`). The history contributes
    (id, band_id, band_hash) rows, never text."""
    new_bands = (
        minhash_bands(
            batch,
            text=text,
            id_col=id_col,
            num_hashes=num_hashes,
            bands=bands,
            shingle_k=shingle_k,
        )
        .repartition(n_buckets, "band_hash")
        .persist()
    )
    cross = cross_band_candidates(
        new_bands, spark.table(table_name), id_col=id_col, max_bucket=max_bucket
    )
    within = candidates_from_bands(new_bands, id_col=id_col, max_bucket=max_bucket)
    result = cross.unionByName(within).distinct()
    if eager:
        result = result.localCheckpoint(eager=True)
        new_bands.unpersist()
    return result


def cross_band_candidates(
    new_bands: DataFrame,
    old_bands: DataFrame,
    id_col: str = "doc_id",
    max_bucket: int = 1024,
    keep_roles: bool = False,
) -> DataFrame:
    """Batch×history candidate pairs from two banded-signature tables
    (shared by the persisted-index and inline lanes). Per (band_id,
    band_hash) bucket, the HISTORY side's size decides the regime:

    - ``k_old ≤ max_bucket`` — exact cross pairs (the parity regime);
    - ``k_old > max_bucket`` — a history mega-bucket (the crawl
      boilerplate cluster); enumerating batch×history pairs there is
      the quadratic blowup the batch operator's guard exists to
      prevent. Degrade to STAR pairs: each batch member pairs with the
      bucket's history hub (min history id) only — O(batch members)
      rows. That preserves exactly what incremental dedup needs (every
      new doc connects to the existing cluster; history members were
      already clustered when THEY were ingested) and gives up only the
      redundant per-member fan-out.

    The history stats (count, hub) are one aggregation over
    (band_id, band_hash, id) rows — never text — and ride the same
    bucket co-location as the join itself.

    ``keep_roles=True`` returns (new_id, old_id) columns instead of the
    sorted (id_a, id_b) — the streaming dedup-on-arrival consumer needs
    to know which side ARRIVED (it is the one that loses under
    first-arrival), and reconstructing the role from sorted pairs is
    impossible once ids interleave. Same candidates either way; one
    implementation, one degrade contract. The batch-bands side (``nb``)
    rides a LAZY ``localCheckpoint``: the small- and mega-bucket
    branches are both consumers and would otherwise each recompute the
    full history aggregation (union branches share no subtrees). An
    RDD-level checkpoint — NOT ``persist()`` — because a per-call
    ``persist`` registers a CacheManager entry nobody can release (the
    caller never sees ``nb``), which in the per-micro-batch streaming
    consumer would leak one cached plan per trigger forever;
    checkpointed RDDs are reclaimed by the ContextCleaner once the
    result goes out of scope (same recipe as candidates_from_bands).

    Degrade recall contract for verify-then-drop consumers (the
    streaming dedup-on-arrival lane): above ``max_bucket`` an arriving
    doc is verified against the bucket's HUB only, so a true near-dup
    of a NON-hub member of a mixed mega-bucket can be admitted. For
    the pathology the cap exists for — boilerplate clusters, whose
    members are mutually similar — the hub verify catches arrivals;
    for buckets that are large WITHOUT mutual similarity (band
    collision en masse, rare at 4-row bands) recall degrades while
    precision stays exact. ``max_bucket`` prices that trade."""
    keys = ["band_id", "band_hash"]
    o_stats = old_bands.groupBy(*keys).agg(
        F.count("*").alias("__k_o"), F.min(id_col).alias("__hub_o")
    )
    nb = new_bands.alias("n").join(o_stats, keys).localCheckpoint(eager=False)
    nb = nb.alias("n")
    new_c, old_c = ("new_id", "old_id") if keep_roles else ("id_a", "id_b")

    def pair(old_col):
        if keep_roles:
            return [
                F.col(f"n.{id_col}").alias(new_c),
                old_col.alias(old_c),
            ]
        return [
            F.least(F.col(f"n.{id_col}"), old_col).alias("id_a"),
            F.greatest(F.col(f"n.{id_col}"), old_col).alias("id_b"),
        ]

    small_pairs = (
        nb.filter(F.col("__k_o") <= max_bucket)
        .join(old_bands.alias("o"), keys)
        .select(*pair(F.col(f"o.{id_col}")))
        .filter(F.col(new_c) != F.col(old_c))
    )
    mega_pairs = (
        nb.filter(F.col("__k_o") > max_bucket)
        .select(*pair(F.col("__hub_o")))
        .filter(F.col(new_c) != F.col(old_c))
    )
    return small_pairs.unionByName(mega_pairs)


def semantic_dedup_ivf(
    emb: DataFrame,
    threshold: float,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    nlist: int | None = 16,
    nprobe: int = 2,
    seed: int = 42,
    target_cell: int = 256,
    max_cell: int | None = None,
) -> DataFrame:
    """The SCALE path of semantic dedup (SemDeDup, Abbas et al. 2023):
    blocking by IVF cell instead of a label column — the paper's own
    recipe (compare only within k-means clusters). Each vector is
    assigned to its ``nprobe`` nearest coarse cells (multi-probe, so
    near-dups straddling a cell boundary still meet in the neighbour
    cell); pairs = exact cosine within a shared cell at ≥ threshold.
    Returns (survivor ``id_col``, cluster_size) — min-id survivor per
    transitive duplicate group, singletons size 1.

    Scale shape: the quantizer trains on the bounded driver sample;
    cell assignment is one Arrow pass; the verify is a PER-CELL GRAM
    MATRIX — each cell's (id, vector) rows shuffle once on cell_id and
    a blocked numpy matmul scores every within-cell pair in C, so the
    pair count never materializes as rows; cell size (corpus/nlist ×
    nprobe) is the knob that keeps the per-cell slab bounded as the
    corpus grows; components move (long, long) edges; vectors never
    cross the wire again after the cell shuffle.

    ``nlist=None`` auto-scales the cell count to ceil(n/target_cell)
    (min 8): a FIXED nlist makes the within-cell all-pairs term grow
    as (n/nlist)² — measured super-linear on the sf1→sf10 decade
    (SCALE.md round 7) — while bounded cells keep it ~linear. Pass an
    explicit nlist only when the cell geometry itself is under test.

    MEMORY CONTRACT / ``max_cell``: ``applyInPandas`` materializes an
    entire group in one task, so a degenerate cell (explicit small
    nlist, or k-means collapsing a boilerplate cluster onto one
    center) puts that cell's full ``k × d`` float64 base matrix in a
    single task — the analog of the minhash mega-bucket problem. By
    default (``max_cell=None``) that contract is the caller's: the
    auto-sized nlist keeps EXPECTED cells at ``target_cell × nprobe``,
    and the common path stays a single vector shuffle with no cache.
    Setting ``max_cell`` engages the guard: cells above it are salted
    into ~``max_cell``-row shards (hash of id), with the cell's HUB
    (min id) replicated into every shard — intra-shard pairs stay
    exact and every member still meets the hub. The DEGRADE CONTRACT
    is the minhash mega-bucket star's, strictly improved: guaranteed
    hub→member edges plus exact intra-shard pairs, but an
    above-threshold pair of two non-hub members hashed to DIFFERENT
    shards is missed when neither is hub-similar — a mega cell that is
    one hub-connected near-dup cluster (the realistic boilerplate
    pathology) still collapses exactly; scattered unrelated near-dup
    pairs inside a degenerate cell may not. Task memory is bounded by
    the shard. Guard mode consumes the assignment twice (sizes +
    join), so it pins the probed cells behind an eager
    ``localCheckpoint`` — one probe pass, at the cost of materializing
    (id, vec, cell_id) × nprobe."""
    from pulsar_elasticsearch_sync_rs_spark.operators.components import dedup_clusters
    from pulsar_elasticsearch_sync_rs_spark.operators.ivf import (
        make_cell_probe_udf,
        train_coarse_quantizer,
    )
    if nlist is None:
        nlist = max(8, -(-emb.count() // target_cell))
    centers = train_coarse_quantizer(
        emb, id_col=id_col, vec_col=vec_col, nlist=nlist, seed=seed
    )
    probe = make_cell_probe_udf(centers, nprobe=nprobe)
    cells = emb.select(
        id_col, vec_col, F.explode(probe(F.col(vec_col))).alias("cell_id")
    )

    # within-cell verify as a PER-CELL GRAM MATRIX (applyInPandas), not
    # a self-join: the join shape shuffles every cell's vectors twice
    # and pays the Arrow pair kernel one ROW per candidate pair —
    # measured 53 s of the old lane's 70 s at sf10 (SCALE.md round 7).
    # Here each cell's members cross the wire ONCE (one shuffle on
    # cell_id), a blocked float64 matmul scores all pairs of the cell
    # in C, and only the surviving (id_a, id_b) edges come back. Block
    # rows bound the gram slab at block×cell even when k-means hands
    # back an oversized cell. Single consumer of the probe UDF — the
    # old self-join's persist (and its lifetime) is gone too.
    import numpy as np
    import pandas as pd

    thr = float(threshold)
    # pair schema follows the input id type — the operator's id_col
    # contract is generic (string uuids work), not int64-only
    id_dt = emb.schema[id_col].dataType.simpleString()

    def cell_pairs(pdf: pd.DataFrame) -> pd.DataFrame:
        n = len(pdf)
        if n < 2:
            empty = pdf[id_col].iloc[:0]
            return pd.DataFrame({"id_a": empty, "id_b": empty})
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids)
        ids = ids[order]
        m = np.asarray(pdf[vec_col].to_list(), dtype=np.float64)[order]
        norms = np.linalg.norm(m, axis=1)
        norms[norms == 0] = 1.0
        mn = m / norms[:, None]
        out_a: list[np.ndarray] = []
        out_b: list[np.ndarray] = []
        block = 1024
        for i0 in range(0, n, block):
            s = mn[i0 : i0 + block] @ mn.T
            rows, cols = np.nonzero(s >= thr)
            rows = rows + i0
            keep = cols > rows  # strict upper triangle: id_a < id_b
            out_a.append(ids[rows[keep]])
            out_b.append(ids[cols[keep]])
        return pd.DataFrame(
            {"id_a": np.concatenate(out_a), "id_b": np.concatenate(out_b)}
        )

    if max_cell is None:
        grouped = cells.groupBy("cell_id")
    else:
        # oversized-cell guard: salt mega cells into ~max_cell shards,
        # hub replicated to all of them (see docstring). The checkpoint
        # is the evaluate-once fence for the two consumers of the probe
        # UDF (sizes agg + join) — union/join branches never share
        # Python-UDF subtrees. LAZY (eager=False): both consumers still
        # share the one materialized RDD, but the probe job runs on the
        # first ACTION — an eager checkpoint would run the full probe
        # UDF as a DataFrame-construction side effect (even a bare
        # .explain() would pay it), the exact pitfall
        # candidates_from_bands avoids.
        probed = cells.localCheckpoint(eager=False)
        sizes = probed.groupBy("cell_id").agg(
            F.count("*").alias("__k"), F.min(id_col).alias("__hub")
        )
        nsh = F.greatest(
            F.lit(1), F.ceil(F.col("__k") / F.lit(int(max_cell)))
        ).cast("int")
        shard_arr = (
            F.when(F.col("__k") <= max_cell, F.array(F.lit(0)))
            .when(
                F.col(id_col) == F.col("__hub"),
                F.sequence(F.lit(0), nsh - F.lit(1)),
            )
            .otherwise(
                F.array(F.pmod(F.xxhash64(F.col(id_col)), nsh).cast("int"))
            )
        )
        grouped = (
            probed.join(F.broadcast(sizes), "cell_id")
            .select(
                id_col, vec_col, "cell_id", F.explode(shard_arr).alias("__shard")
            )
            .groupBy("cell_id", "__shard")
        )
    pairs = (
        grouped.applyInPandas(cell_pairs, schema=f"id_a {id_dt}, id_b {id_dt}")
        .distinct()  # multi-probe can pair the same ids in two cells
    )
    clustered = dedup_clusters(emb, pairs, id_col=id_col)
    return (
        clustered.groupBy("cluster")
        .agg(
            F.min(id_col).alias(id_col),
            F.count("*").cast("bigint").alias("cluster_size"),
        )
        .select(id_col, "cluster_size")
    )


def repeated_span_cuts(
    docs: DataFrame,
    k: int = 20,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The CUT LIST of substring dedup (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better" —
    public literature): token spans to excise so that each repeated
    k-gram survives only at its globally-FIRST occurrence. Differs
    from the detection lane (q_repeated_spans) exactly there: the
    detector marks EVERY occurrence of a ≥2-count gram; the cutter
    spares the first (ordered by (id, pos) — deterministic) so one
    copy of the duplicated passage remains in the corpus, which is
    the paper's dedup rule. Returns (id_col, begin_tok, end_tok) —
    maximal merged spans, token offsets, the same lineage shape as
    packing's.

    Scale: grams shuffle as 32-hex md5 keys (never k-token strings);
    rank + count share ONE (gh) window partitioning; the island merge
    is one per-doc window. Nothing quadratic, no text movement."""
    from pulsar_elasticsearch_sync_rs_spark.functions.text import (
        kgrams_from_tokens,
    )

    # tokenize ONCE into an attribute before the gram Generate: the
    # k-slice zip_with references its token input k+2 times, and fed
    # the raw ws_tokens expression Catalyst inlines the whitespace
    # split into every reference (41 splits/row at k=20 in the
    # round-15 q_substring_dedup plan). CollapseProject keeps the
    # pre-projected column separate (non-cheap expression, multiple
    # references), so this two-step select tokenizes once per row.
    grams = (
        docs.select(id_col, ws_tokens(text).alias("__toks"))
        .select(
            id_col, F.posexplode(kgrams_from_tokens("__toks", k)).alias("pos", "g")
        )
        .select(id_col, "pos", F.md5("g").alias("gh"))
    )
    w_rank = Window.partitionBy("gh").orderBy(id_col, "pos")
    ranked = grams.select(
        id_col,
        "pos",
        F.row_number().over(w_rank).alias("rn"),
        F.count("*").over(Window.partitionBy("gh")).alias("c"),
    )
    cutpos = ranked.filter((F.col("c") >= 2) & (F.col("rn") >= 2)).select(
        id_col, "pos"
    )
    # islands window (shared with the detection lane): a new span
    # starts only when the gap to the previous cut exceeds the gram
    # length — [p, p+k) intervals that overlap or abut merge
    w = Window.partitionBy(id_col).orderBy("pos")
    new_island = F.when(F.col("pos") - F.lag("pos", 1).over(w) > k, 1).otherwise(0)
    islands = cutpos.withColumn(
        "grp", F.sum(new_island).over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    return (
        islands.groupBy(id_col, "grp")
        .agg(
            F.min("pos").cast("bigint").alias("begin_tok"),
            (F.max("pos") + k).cast("bigint").alias("end_tok"),
        )
        .drop("grp")
    )


def apply_repeated_span_cuts(
    docs: DataFrame,
    k: int = 20,
    text: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """APPLY the substring-dedup cut list: emit the deduplicated
    corpus — every ≥2-occurrence k-gram span excised except its first
    occurrence (keep-first; see :func:`repeated_span_cuts`). Output:
    ``(id_col, text_clean, n_tok_before, n_tok_after)`` for every
    input document (uncut docs pass through with their token-joined
    text; a fully-cut doc yields ``''``). ``text_clean`` is the kept
    tokens joined by single spaces — the token-level formulation, so
    original inter-token whitespace is normalized (the tokens ARE the
    corpus as every downstream consumer here sees it).

    Scale: the cut list aggregates to ONE row per cut document (an
    array of (b, e) structs — bounded by doc length); the corpus joins
    it on the id and the excision itself is a per-row JVM filter over
    the token array (no explode of the corpus tokens, no second text
    shuffle). Cut docs are typically a small fraction, so AQE will
    usually broadcast the span side."""
    spans = repeated_span_cuts(docs, k=k, text=text, id_col=id_col)
    sp = spans.groupBy(id_col).agg(
        F.sort_array(
            F.collect_list(
                F.struct(F.col("begin_tok").alias("b"), F.col("end_tok").alias("e"))
            )
        ).alias("sp")
    )
    base = docs.join(sp, id_col, "left").select(
        id_col, ws_tokens(text).alias("toks"), "sp"
    )
    # coalesce(…, True): uncut docs have sp = NULL from the left join,
    # and exists(NULL, …) is NULL, which a bare filter would treat as
    # "drop this token" — i.e. silently empty every clean document
    kept = F.filter(
        F.col("toks"),
        lambda t, i: F.coalesce(
            ~F.exists(F.col("sp"), lambda s: (i >= s["b"]) & (i < s["e"])),
            F.lit(True),
        ),
    )
    # materialize `kept` ONCE: referencing the expression in two output
    # columns would inline the O(n_tokens × n_spans) exists-filter
    # twice per row (the same duplication discipline as cosine_once);
    # an intermediate select makes the two consumers read an attribute
    return base.select(
        id_col, "toks", kept.alias("__kept")
    ).select(
        id_col,
        F.concat_ws(" ", "__kept").alias("text_clean"),
        F.size("toks").cast("bigint").alias("n_tok_before"),
        F.size("__kept").cast("bigint").alias("n_tok_after"),
    )
