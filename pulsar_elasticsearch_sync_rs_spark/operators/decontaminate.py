"""Benchmark decontamination — drop / flag corpus documents that share
word n-grams with a held-out evaluation set (the GPT-3 / PaLM data-card
hygiene pass, public knowledge).

The benchmark side is a PARAMETER (any DataFrame with a text column),
not a hard-wired corpus subset: in production it is the eval suite's
own table, in the fixtures it is the ``doc_id % 97`` stand-in. The
gram set is built once and deduped; whether it is broadcast is decided
by MEASURING it, not by assuming it is small:

- ``n_bench_grams <= max_broadcast_grams`` → ``F.broadcast`` hint (one
  hash table per executor, zero shuffle of the corpus gram stream);
- above the threshold → a plain equi-join (AQE picks sort-merge or
  shuffled-hash), because a corpus-sized broadcast is how drivers die
  at 100 TB.

The count itself is one narrow job over the bench table — eval suites
are tiny next to the corpus, and when they are not, that is exactly
the case the guard exists for.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions.text import shingles_from_tokens, ws_tokens

# ~5M short strings ≈ low hundreds of MB as a broadcast hash relation —
# comfortably inside a 4 GB executor; beyond this, shuffle instead.
DEFAULT_MAX_BROADCAST_GRAMS = 5_000_000


def _exploded_grams(df: DataFrame, n: int, text_col: str, *keep) -> DataFrame:
    """``(*keep, g)`` — one row per distinct word n-gram per row of
    ``df``, tokenizing each document EXACTLY once: the two-step select
    materializes the token array as an attribute before the shingle
    zip_with references it k+2 times (see
    functions.text.kgrams_from_tokens for the inlining trap this
    avoids)."""
    return df.select(*keep, ws_tokens(text_col).alias("__toks")).select(
        *keep, F.explode(shingles_from_tokens("__toks", n)).alias("g")
    )


def bench_gram_set(bench: DataFrame, n: int = 3, text_col: str = "text") -> DataFrame:
    """The distinct word n-gram set of the benchmark table — one
    column ``g``. Deduped once so the join side carries no repeats."""
    return _exploded_grams(bench, n, text_col).distinct()


def contamination_hits(
    corpus: DataFrame,
    bench: DataFrame,
    n: int = 3,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_broadcast_grams: int = DEFAULT_MAX_BROADCAST_GRAMS,
) -> DataFrame:
    """Per-document contamination report: ``(id_col, n_hit_ngrams)`` —
    the number of DISTINCT word n-grams each corpus document shares
    with ANY benchmark document. Documents with zero hits are absent
    (join semantics); callers wanting a filter use
    :func:`decontaminate`.

    Scale shape: the corpus side explodes distinct shingles (narrow
    strings, never document bodies); the only wide exchange is the
    per-doc hit count — a partial-agg on ``id_col``. The bench side is
    broadcast only if its measured distinct-gram count fits under
    ``max_broadcast_grams``.
    """
    grams = _guarded_two_tier(bench, n, text_col, max_broadcast_grams)
    corpus_grams = _exploded_grams(corpus, n, text_col, id_col)
    return (
        corpus_grams.join(grams, "g")
        .groupBy(id_col)
        .agg(F.count("*").alias("n_hit_ngrams"))
    )


def decontaminate(
    corpus: DataFrame,
    bench: DataFrame,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_broadcast_grams: int = DEFAULT_MAX_BROADCAST_GRAMS,
) -> DataFrame:
    """The filter form: corpus rows (all columns) that share NO word
    n-gram with the benchmark set — the any-hit long-n-gram drop rule
    used for real eval suites. Anti-joins on the id only, so document
    text never shuffles on the gram key."""
    grams = _guarded_two_tier(bench, n, text_col, max_broadcast_grams)
    hit_ids = (
        _exploded_grams(corpus, n, text_col, id_col)
        .join(grams, "g")
        .select(id_col)
        .distinct()
    )
    return corpus.join(hit_ids, id_col, "left_anti")


def contamination_fraction(
    corpus: DataFrame,
    bench: DataFrame,
    n: int = 3,
    threshold: float = 0.5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_broadcast_grams: int = DEFAULT_MAX_BROADCAST_GRAMS,
) -> DataFrame:
    """FUZZY decontamination — the containment-threshold rule real data
    cards use beside the any-hit rule (e.g. GPT-3's "13-gram overlap"
    dedup of eval docs): flag a document when the FRACTION of its
    distinct word ``n``-grams found in the benchmark set reaches
    ``threshold``. The any-hit rule (:func:`decontaminate`) is the
    strictest special case; the fraction rule tolerates incidental
    shared phrases while still catching near-copies and quotations.

    Returns ``(id_col, n_grams, n_hit, frac)`` for flagged documents
    ONLY (0 rows in → 0 out; unflagged docs absent by join semantics).
    ``frac`` is one IEEE division of two ints — bit-identical across
    engines, so the lane stays hash-checkable.

    Scale shape: identical to :func:`contamination_hits` — measured
    broadcast of the bench gram set, corpus side explodes distinct
    shingles (never bodies), per-doc counts are one partial-agg; the
    per-doc gram total rides the SAME exploded stream (a LEFT join of
    hits onto totals), so the corpus is tokenized exactly once."""
    grams = _guarded_two_tier(bench, n, text_col, max_broadcast_grams)
    corpus_grams = _exploded_grams(corpus, n, text_col, id_col)
    per_doc = corpus_grams.join(
        grams.withColumn("__hit", F.lit(1)), "g", "left"
    ).groupBy(id_col).agg(
        F.count("*").alias("n_grams"),
        F.count("__hit").alias("n_hit"),
    )
    return (
        per_doc.withColumn(
            "frac", F.col("n_hit").cast("double") / F.col("n_grams")
        )
        .filter(F.col("frac") >= threshold)
        .select(id_col, "n_grams", "n_hit", "frac")
    )


def _gram_upper_bound(bench: DataFrame, n: int, text_col: str) -> int:
    """Exchange-free upper bound on the bench table's DISTINCT gram
    count: Σ max(0, n_tokens − n + 1) over bench rows — every document
    contributes at most that many grams, before cross-document dedup.
    One column-pruned global aggregation (scan → map-side partial →
    one-row final), so the guard costs ~2 Spark jobs instead of the
    exact count's full explode + distinct-exchange query (measured
    round 16: 6 AQE stage jobs per call on the pipeline lanes)."""
    per_doc = F.greatest(
        F.lit(0), F.size(ws_tokens(text_col)) - F.lit(int(n) - 1)
    ).cast("bigint")
    row = bench.select(per_doc.alias("__g")).agg(
        F.coalesce(F.sum("__g"), F.lit(0)).alias("__n")
    ).first()
    return int(row["__n"])


def _guarded(grams: DataFrame, max_broadcast_grams: int):
    """Apply the broadcast hint iff the measured gram count fits.
    Returns ``(possibly-hinted grams, n_grams)``.

    Nothing is cached, so a one-shot caller leaks nothing: the
    broadcast build re-runs the bench explode+distinct once, a narrow
    job over the (by-definition-small-here) bench table. Streaming
    callers probe the set on every micro-batch; they guard the stored
    copy :func:`stored_gram_set` reads back instead."""
    n_grams = grams.count()
    if n_grams <= max_broadcast_grams:
        return F.broadcast(grams), n_grams
    return grams, n_grams


def stored_gram_set(
    bench: DataFrame,
    n: int,
    text_col: str,
    path: str,
    max_broadcast_grams: int = DEFAULT_MAX_BROADCAST_GRAMS,
) -> DataFrame:
    """The guarded bench gram set of a streaming query, which probes it
    on every micro-batch for its whole life: written once as parquet at
    ``path`` (overwritten at each start) and read back, so each batch's
    broadcast build or shuffle join scans those files instead of
    re-running the bench explode+distinct. Files rather than a cache or
    a ``localCheckpoint``: a cache is a CacheManager entry that
    identical plans share, so no query can safely unpersist it, and
    checkpoint blocks live on executors only, so losing one executor
    would fail every later micro-batch. The files stay at ``path``
    after the query ends; they are the size of the deduped set."""
    grams = bench_gram_set(bench, n, text_col)
    grams.write.mode("overwrite").parquet(path)
    stored = bench.sparkSession.read.schema(grams.schema).parquet(path)
    return _guarded(stored, max_broadcast_grams)[0]


def _guarded_two_tier(
    bench: DataFrame,
    n: int,
    text_col: str,
    max_broadcast_grams: int,
):
    """Broadcast decision for batch one-shot callers — same DECISIONS
    as :func:`_guarded`, cheaper measurement (optimization round 16,
    guide §1.2 "don't compute things you throw away"):

    1. an exchange-free UPPER BOUND on the distinct gram count (one
       column-pruned aggregation, ~2 jobs). Bound ≤ threshold ⟹ the
       exact count is too, so broadcast WITHOUT ever running the exact
       distinct-count query (the common case: eval suites are tiny
       next to the corpus);
    2. only when the bound exceeds the threshold — a bench set large
       enough that the join strategy genuinely needs the exact number
       — fall back to :func:`_guarded`'s counted decision.

    Join results are identical under either strategy, and the strategy
    itself can only differ from _guarded's in the broadcast direction
    never being taken when the exact count would have allowed it —
    tier 2 prevents exactly that by re-measuring exactly. Returns the
    (possibly-hinted) gram set."""
    bound = _gram_upper_bound(bench, n, text_col)
    grams = bench_gram_set(bench, n, text_col)
    if bound <= max_broadcast_grams:
        return F.broadcast(grams)
    guarded, _ = _guarded(grams, max_broadcast_grams)
    return guarded
