"""LLM training-data pipeline queries over ``documents`` /
``embeddings`` (SURVEY.md §2.9) with DuckDB oracles where
SQL-expressible.

Scale posture: dedup shuffles hashes not texts; similarity joins
broadcast the small side (queries) or prune via LSH buckets; everything
stays in built-in expressions except the explicitly-marked multimodal
Pandas-UDF plumbing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from pulsar_elasticsearch_sync_rs_spark.functions.text import (
    BPE_ISH_RE,
    STOPWORDS,
    lang_guess,
    max_multiplicity,
    punct_ratio,
    token_count_bpe_ish,
    token_count_ws,
    word_bigrams,
    ws_tokens,
)
from pulsar_elasticsearch_sync_rs_spark.operators.dedup import (
    dedup_minhash_verified,
    minhash_candidates,
    ngram_jaccard_pairs,
    normalize_text,
)
from pulsar_elasticsearch_sync_rs_spark.operators.multimodal import (
    decode_wav_features,
    synthesize_wav_corpus,
)
from pulsar_elasticsearch_sync_rs_spark.operators.similarity import (
    cosine_once,
    embedding_near_dup,
    knn_cosine_bruteforce,
    knn_cosine_lsh,
)
from pulsar_elasticsearch_sync_rs_spark.operators.skew import spread_scan
from pulsar_elasticsearch_sync_rs_spark.session import batch_partitions
from pulsar_elasticsearch_sync_rs_spark.sources.batch import read_table


# --- dedup ---------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact dedup groups: survivor id + multiplicity per distinct
    text. Only (sha256, id) shuffles — never the text bytes."""
    docs = read_table(spark, sf_dir, "documents")
    return (
        docs.select(F.sha2("text", 256).alias("__h"), F.col("doc_id"))
        .groupBy("__h")
        .agg(F.min("doc_id").alias("survivor_id"), F.count("*").alias("n_copies"))
        .drop("__h")
    )


ORACLE_DEDUP_EXACT = """
SELECT min(doc_id) AS survivor_id, count(*) AS n_copies
FROM documents GROUP BY text ORDER BY survivor_id
"""


def q_dedup_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-exact dedup on normalized text (lower, punct->space,
    collapse whitespace)."""
    docs = read_table(spark, sf_dir, "documents")
    return (
        docs.select(normalize_text("text").alias("norm"), F.col("doc_id"))
        .groupBy("norm")
        .agg(F.min("doc_id").alias("survivor_id"), F.count("*").alias("n_copies"))
        .select("survivor_id", "n_copies")
    )


ORACLE_DEDUP_NORMALIZED = r"""
SELECT min(doc_id) AS survivor_id, count(*) AS n_copies
FROM documents
GROUP BY regexp_replace(trim(regexp_replace(lower(text), '[[:punct:]]', ' ', 'g')), '[ \t\n\x0B\f\r]+', ' ', 'g')
ORDER BY survivor_id
"""


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact 3-gram Jaccard near-dup pairs (≥0.35) within
    (lang, source) blocks — the verification-grade dedup; the 100 TB
    candidate-generation path is q_dedup_minhash."""
    # null-safe, delimiter-unambiguous block key: NULL when either
    # field is NULL (a NULL join key never matches, exactly like the
    # oracle's lang = lang AND source = source), JSON-escaped so a
    # literal '|' in either value cannot alias two different blocks
    docs = read_table(spark, sf_dir, "documents").withColumn(
        "blk",
        F.when(
            F.col("lang").isNotNull() & F.col("source").isNotNull(),
            F.to_json(F.struct("lang", "source")),
        ),
    )
    pairs = ngram_jaccard_pairs(
        docs, text="text", id_col="doc_id", threshold=0.35, shingle_k=3, block_col="blk"
    )
    return pairs


ORACLE_NGRAM_JACCARD = r"""
WITH sh AS (
  SELECT doc_id, lang, source,
    list_distinct(CASE WHEN len(toks) >= 3
      THEN list_transform(generate_series(1, len(toks) - 2),
                          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      ELSE [] END) AS shingles
  FROM (
    SELECT doc_id, lang, source,
      list_filter(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+'), t -> t <> '') AS toks
    FROM documents
  )
)
SELECT a.doc_id AS id_a, b.doc_id AS id_b,
  round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
        / len(list_distinct(list_concat(a.shingles, b.shingles))), 6) AS jaccard
FROM sh a JOIN sh b
  ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
WHERE len(list_distinct(list_concat(a.shingles, b.shingles))) > 0
  AND round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
        / len(list_distinct(list_concat(a.shingles, b.shingles))), 6) >= 0.35
ORDER BY id_a, id_b
"""


def q_dedup_minhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash+LSH candidate pairs (32 hashes, 8 bands) — the
    near-linear scale path. Probabilistic recall → rows-only driver
    check; pytest pins recall against the exact Jaccard pairs."""
    docs = read_table(spark, sf_dir, "documents")
    return minhash_candidates(docs, num_hashes=32, bands=8, shingle_k=3)


def q_dedup_minhash_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The end-to-end 100 TB near-dup product: MinHash+LSH candidate
    generation, then exact Jaccard verification ON THE CANDIDATE SET
    ONLY (never all pairs). Output ⊆ the exact all-pairs result;
    LSH recall < 1 by construction → rows-only driver check; pytest
    pins the subset property and recall against the exact twin."""
    docs = read_table(spark, sf_dir, "documents")
    return dedup_minhash_verified(
        docs, threshold=0.35, num_hashes=32, bands=8, shingle_k=3
    )


def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash NEAR-dup dedup survivors at hamming ≤ 3: 64-bit
    signature (numpy Arrow UDF — token-hash sign aggregation isn't
    SQL-expressible), Manku 6-choose-3 block-combination candidate
    join, exact JVM-side bit_count verify, smaller-id-neighbor
    suppression. Deterministic but oracle-less → rows-only driver
    check; planted bit-flip recall pinned in pytest."""
    from pulsar_elasticsearch_sync_rs_spark.operators.dedup import dedup_simhash

    docs = read_table(spark, sf_dir, "documents")
    return dedup_simhash(docs, text="text", id_col="doc_id", k=3)


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRANSITIVE near-dup clustering: every document labeled with its
    cluster id = the minimum doc_id of its connected component in the
    exact-Jaccard pair graph (q_ngram_jaccard's edges; singletons label
    themselves). The components run as the iterative alternating
    large-star/small-star contraction (operators/components.py) — an
    ITERATIVE graph algorithm whose result is still deterministic
    because the edges are, so a DuckDB recursive-CTE transitive closure
    oracle checks it value-for-value."""
    from pulsar_elasticsearch_sync_rs_spark.operators.components import dedup_clusters

    # null-safe, delimiter-unambiguous block key: NULL when either
    # field is NULL (a NULL join key never matches, exactly like the
    # oracle's lang = lang AND source = source), JSON-escaped so a
    # literal '|' in either value cannot alias two different blocks
    docs = read_table(spark, sf_dir, "documents").withColumn(
        "blk",
        F.when(
            F.col("lang").isNotNull() & F.col("source").isNotNull(),
            F.to_json(F.struct("lang", "source")),
        ),
    )
    pairs = ngram_jaccard_pairs(
        docs, text="text", id_col="doc_id", threshold=0.35, shingle_k=3, block_col="blk"
    )
    return dedup_clusters(docs, pairs, id_col="doc_id")


# the transitive-closure CTE chain shared by the cluster lane and the
# leakage-safe split lane (identical component labels, different final
# projection)
_CLUSTERS_CTE = r"""
WITH RECURSIVE sh AS (
  SELECT doc_id, lang, source,
    list_distinct(CASE WHEN len(toks) >= 3
      THEN list_transform(generate_series(1, len(toks) - 2),
                          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      ELSE [] END) AS shingles
  FROM (
    SELECT doc_id, lang, source,
      list_filter(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+'), t -> t <> '') AS toks
    FROM documents
  )
), edges AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b
    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
  WHERE len(list_distinct(list_concat(a.shingles, b.shingles))) > 0
    AND round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
          / len(list_distinct(list_concat(a.shingles, b.shingles))), 6) >= 0.35
), sym AS (
  SELECT id_a AS u, id_b AS v FROM edges
  UNION
  SELECT id_b, id_a FROM edges
), reach(u, v) AS (
  SELECT u, v FROM sym
  UNION
  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u WHERE r.u <> s.v
), comp AS (
  SELECT u AS id, least(u, min(v)) AS cluster FROM reach GROUP BY u
), labeled AS (
  SELECT d.doc_id, CAST(coalesce(c.cluster, d.doc_id) AS BIGINT) AS cluster
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
)
"""

ORACLE_DEDUP_CLUSTERS = (
    _CLUSTERS_CTE
    + """
SELECT doc_id, cluster FROM labeled ORDER BY doc_id
"""
)


def q_media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling PLAN over synthesized durations (same
    closed-form as the WAV corpus): one row per sampled frame timestamp
    every 10 ms. The explode is `sequence()` (codegen built-in); the
    decode that would fill frame payloads stays stubbed. Fully
    SQL-expressible → hash-checked via generate_series."""
    from pulsar_elasticsearch_sync_rs_spark.operators.multimodal import (
        frame_sample_plan,
    )

    docs = read_table(spark, sf_dir, "documents").select(
        F.col("doc_id").alias("media_id"),
        (((F.lit(160) + (F.col("doc_id") % 64) * 8)) / F.lit(8)).cast("long").alias("duration_ms"),
    )
    frames = frame_sample_plan(docs, every_ms=10)
    return frames.select("media_id", "frame_ts_ms")


ORACLE_MEDIA_FRAMES = """
SELECT media_id, unnest(generate_series(0, greatest(duration_ms - 1, 0), 10)) AS frame_ts_ms
FROM (
  SELECT doc_id AS media_id,
    CAST((160 + (doc_id % 64) * 8) // 8 AS BIGINT) AS duration_ms
  FROM documents
)
"""


def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting (whitespace + BPE-ish regex), punctuation ratio,
    char length — narrow per-row expressions, no shuffle."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        token_count_ws("text").alias("n_ws_tokens"),
        token_count_bpe_ish("text").alias("n_bpe_tokens"),
        F.length("text").alias("n_chars_computed"),
        F.round(punct_ratio("text"), 6).alias("punct_ratio"),
    )


ORACLE_TEXT_STATS = r"""
SELECT doc_id,
  CAST(len(list_filter(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+'), t -> t <> '')) AS INTEGER) AS n_ws_tokens,
  CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\x0B\f\r]')) AS INTEGER) AS n_bpe_tokens,
  CAST(length(text) AS INTEGER) AS n_chars_computed,
  round(CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE)
        / length(text), 6) AS punct_ratio
FROM documents
"""


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus token accounting per source — the budget query every
    training-data pipeline runs. Map-side partial agg; single shuffle
    on source."""
    docs = read_table(spark, sf_dir, "documents")
    return (
        docs.groupBy("source")
        .agg(
            F.sum(token_count_ws("text").cast("bigint")).alias("total_ws_tokens"),
            F.sum(token_count_bpe_ish("text").cast("bigint")).alias("total_bpe_tokens"),
            F.count("*").alias("n_docs"),
        )
    )


ORACLE_TOKEN_COUNT = r"""
SELECT source,
  CAST(sum(len(list_filter(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+'), t -> t <> ''))) AS BIGINT) AS total_ws_tokens,
  CAST(sum(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9 \t\n\x0B\f\r]'))) AS BIGINT) AS total_bpe_tokens,
  count(*) AS n_docs
FROM documents
GROUP BY source ORDER BY source
"""


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stopword-hit language-ID heuristic (first-max over sorted
    candidate languages; 'unknown' when no stopword hits)."""
    docs = read_table(spark, sf_dir, "documents")
    return docs.select("doc_id", F.col("lang").alias("labeled_lang"), lang_guess("text").alias("lang_guess"))


def _oracle_lang_id() -> str:
    score_exprs = []
    for lg in sorted(STOPWORDS):
        words = ", ".join(f"'{w}'" for w in STOPWORDS[lg])
        score_exprs.append(
            f"len(list_filter(toks, t -> list_contains([{words}], t))) AS s_{lg}"
        )
    langs = sorted(STOPWORDS)
    greatest = "greatest(" + ", ".join(f"s_{lg}" for lg in langs) + ")"
    case_arms = "\n       ".join(
        f"WHEN s_{lg} = {greatest} THEN '{lg}'" for lg in langs
    )
    return rf"""
WITH scored AS (
  SELECT doc_id, lang AS labeled_lang,
    {', '.join(score_exprs)}
  FROM (
    SELECT doc_id, lang,
      list_filter(string_split_regex(trim(lower(text)), '[ \t\n\x0B\f\r]+'), t -> t <> '') AS toks
    FROM documents
  )
)
SELECT doc_id, labeled_lang,
  CASE WHEN {greatest} = 0 THEN 'unknown'
       {case_arms}
       ELSE 'unknown' END AS lang_guess
FROM scored
"""


ORACLE_LANG_ID = _oracle_lang_id()


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Document fingerprint: md5 over the normalized token stream
    (content-addressable id for dedup bookkeeping). The rolling-hash
    integer variant lives in functions.text.rolling_fingerprint
    (pytest-verified; crc32 has no DuckDB twin)."""
    docs = read_table(spark, sf_dir, "documents")
    norm = F.array_join(ws_tokens(normalize_text("text")), " ")
    return docs.select("doc_id", F.md5(norm).alias("fingerprint"))


ORACLE_FINGERPRINT = r"""
SELECT doc_id,
  md5(array_to_string(
    list_filter(string_split_regex(trim(
      regexp_replace(trim(regexp_replace(lower(text), '[[:punct:]]', ' ', 'g')), '[ \t\n\x0B\f\r]+', ' ', 'g')
    ), '[ \t\n\x0B\f\r]+'), t -> t <> ''), ' ')) AS fingerprint
FROM documents
"""


# --- similarity ----------------------------------------------------------

def q_knn_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-5 for query vectors vec_id<5 — broadcast
    the queries, one corpus scan, per-query window rank."""
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return knn_cosine_bruteforce(emb, queries, k=5)


ORACLE_KNN_COSINE = """
WITH q AS (
  SELECT vec_id AS query_id, embedding AS qv FROM embeddings WHERE vec_id < 5
), sims AS (
  SELECT q.query_id, e.vec_id AS neighbor_id,
    list_sum(list_transform(generate_series(1, len(e.embedding)),
      i -> CAST(e.embedding[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE)))
    / (sqrt(list_sum(list_transform(generate_series(1, len(e.embedding)),
         i -> CAST(e.embedding[i] AS DOUBLE) * CAST(e.embedding[i] AS DOUBLE))))
       * sqrt(list_sum(list_transform(generate_series(1, len(q.qv)),
         i -> CAST(q.qv[i] AS DOUBLE) * CAST(q.qv[i] AS DOUBLE))))) AS sim
  FROM embeddings e CROSS JOIN q
  WHERE e.vec_id <> q.query_id
), ranked AS (
  SELECT query_id, neighbor_id,
    row_number() OVER (PARTITION BY query_id ORDER BY sim DESC, neighbor_id ASC) AS rank,
    sim
  FROM sims
)
SELECT query_id, neighbor_id, CAST(rank AS INTEGER) AS rank, round(sim, 6) AS cosine_sim
FROM ranked WHERE rank <= 5 ORDER BY query_id, rank
"""


def q_embed_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (≥0.3) within label blocks —
    exact within-block pairs; label blocking bounds the join (the
    LSH-bucketed variant is q_knn_lsh, rows-only)."""
    emb = read_table(spark, sf_dir, "embeddings")
    a, b = emb.alias("a"), emb.alias("b")
    pairs = a.join(
        b, (F.col("a.label") == F.col("b.label")) & (F.col("a.vec_id") < F.col("b.vec_id"))
    )
    # cosine_once: the threshold filter is on the UDF output — fence
    # keeps the pair kernel to one Arrow pass (see similarity.py)
    sim = cosine_once(F.col("a.embedding"), F.col("b.embedding"))
    return (
        pairs.select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            F.round(sim, 6).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= 0.3)
    )


ORACLE_EMBED_NEARDUP = """
WITH sims AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b,
    round(
      list_sum(list_transform(generate_series(1, len(a.embedding)),
        i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
      / (sqrt(list_sum(list_transform(generate_series(1, len(a.embedding)),
           i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
         * sqrt(list_sum(list_transform(generate_series(1, len(b.embedding)),
           i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))), 6) AS cosine_sim
  FROM embeddings a JOIN embeddings b
    ON a.label = b.label AND a.vec_id < b.vec_id
)
SELECT id_a, id_b, cosine_sim FROM sims
WHERE cosine_sim >= 0.3 ORDER BY id_a, id_b
"""


def q_embed_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed embedding near-dup, sign-LSH lane: multi-table
    hyperplane buckets → band-style self-join → exact cosine verify on
    candidates only. Never quadratic within a block — the shape that
    survives a label holding millions of vectors (q_embed_neardup's
    exact label-blocked twin stays as the oracle). Sign-LSH recall is
    high only in its true regime (cosine ≳0.9, pytest-pinned on planted
    twins); for this fixture's moderate 0.3 threshold the IVF lane
    (q_embed_neardup_ivf) is the production path."""
    emb = read_table(spark, sf_dir, "embeddings")
    return embedding_near_dup(emb, threshold=0.3, n_planes=12, dim=64, n_tables=4)


def q_embed_neardup_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bucketed embedding near-dup, IVF lane — the production path for
    moderate cosine thresholds: k-means cells, nprobe-cell assignment,
    cell-blocked self-join, exact verify. Recall pinned ≥0.85 in pytest
    against the exact pair set; rows-only driver check (k-means is
    iterative + approximate)."""
    from pulsar_elasticsearch_sync_rs_spark.operators.ivf import embedding_near_dup_ivf

    emb = read_table(spark, sf_dir, "embeddings")
    return embedding_near_dup_ivf(emb, threshold=0.3, nlist=16, nprobe=6)


def q_knn_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH approximate top-5 (4 tables × 8 hyperplanes) — the
    100 TB pruning path. Approximate → rows-only driver check; pytest
    pins recall ≥ 0.6 against brute force."""
    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return knn_cosine_lsh(emb, queries, k=5, dim=64)


# --- multimodal ----------------------------------------------------------

def q_media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal plumbing: text bytes as an opaque binary payload →
    typed metadata (byte length, sha256) via built-ins only; blobs
    never shuffle."""
    docs = read_table(spark, sf_dir, "documents")
    payload = F.encode("text", "UTF-8")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.length(payload).cast("bigint").alias("byte_len"),
        F.sha2(payload, 256).alias("sha"),
    )


ORACLE_MEDIA_META = """
SELECT doc_id AS media_id,
  CAST(octet_length(encode(text)) AS BIGINT) AS byte_len,
  sha256(text) AS sha
FROM documents
"""


def q_media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode end-to-end: synthesize a deterministic WAV
    blob per document (RIFF header + PCM16 square wave, parameterized
    by doc_id), then parse it back with the pure-stdlib RIFF chunk
    walker (operators.multimodal.parse_wav) via Arrow-batched
    ``mapInPandas``. Because synthesis is closed-form in doc_id, the
    oracle predicts every decoded field independently — so a header or
    PCM parsing bug breaks the hash match. Image/video decode remains
    honestly stubbed (codec libs absent); this is the audio lane."""
    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    wavs = synthesize_wav_corpus(docs, id_col="doc_id")
    return decode_wav_features(wavs).select(
        "media_id",
        "byte_len",
        "n_channels",
        "sample_rate",
        "n_samples",
        "duration_ms",
        "peak_amp",
        F.round("mean_abs", 6).alias("mean_abs"),
    )


# closed-form twin of synthesize_wav_corpus + parse_wav: n_samples =
# 160 + (id%64)*8 (even → square wave mean|x| = amp exactly), amp =
# 500 + (id%100)*250, 8 kHz mono PCM16 → 44-byte header + 2 B/sample.
ORACLE_MEDIA_FEATURES = """
SELECT doc_id AS media_id,
  CAST(44 + 2 * (160 + (doc_id % 64) * 8) AS BIGINT) AS byte_len,
  CAST(1 AS INT) AS n_channels,
  CAST(8000 AS INT) AS sample_rate,
  CAST(160 + (doc_id % 64) * 8 AS BIGINT) AS n_samples,
  CAST((160 + (doc_id % 64) * 8) // 8 AS BIGINT) AS duration_ms,
  CAST(500 + (doc_id % 100) * 250 AS INT) AS peak_amp,
  CAST(500 + (doc_id % 100) * 250 AS DOUBLE) AS mean_abs
FROM documents
"""


def q_media_image(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode end-to-end (the BMP twin of q_media_features'
    WAV lane): synthesize a deterministic 24-bpp BMP per document,
    parse it back with the pure-stdlib header+pixel walker
    (operators.multimodal.parse_bmp) via Arrow-batched ``mapInPandas``,
    and hash-check every decoded field against the closed-form oracle.
    Only video decode remains stubbed."""
    from pulsar_elasticsearch_sync_rs_spark.operators.multimodal import (
        decode_bmp_features,
        synthesize_bmp_corpus,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    bmps = synthesize_bmp_corpus(docs, id_col="doc_id")
    return decode_bmp_features(bmps).select(
        "media_id",
        "byte_len",
        "width",
        "height",
        "bpp",
        "n_pixels",
        F.round("mean_b", 6).alias("mean_b"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_r", 6).alias("mean_r"),
    )


# closed-form twin of synthesize_bmp_corpus + parse_bmp: w = 4+id%8,
# h = 2+id%5, stride = 4-byte-aligned 3w, solid BGR channels.
ORACLE_MEDIA_IMAGE = """
SELECT doc_id AS media_id,
  CAST(54 + (((4 + doc_id % 8) * 3 + 3) // 4) * 4 * (2 + doc_id % 5) AS BIGINT) AS byte_len,
  CAST(4 + doc_id % 8 AS INT) AS width,
  CAST(2 + doc_id % 5 AS INT) AS height,
  CAST(24 AS INT) AS bpp,
  CAST((4 + doc_id % 8) * (2 + doc_id % 5) AS BIGINT) AS n_pixels,
  CAST(doc_id % 256 AS DOUBLE) AS mean_b,
  CAST((3 * doc_id) % 256 AS DOUBLE) AS mean_g,
  CAST((7 * doc_id) % 256 AS DOUBLE) AS mean_r
FROM documents
"""


def q_media_video(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video decode end-to-end (closes the last multimodal stub):
    synthesize a deterministic uncompressed AVI per document (RIFF
    container, DIB frames, parameterized by doc_id), then parse it back
    with the pure-stdlib RIFF chunk-tree walker
    (operators.multimodal.parse_avi_frames) via Arrow-batched
    ``mapInPandas``, sampling every 2nd frame — non-sampled frame
    bodies are skipped at the chunk walk, the scale point of frame
    sampling. One output row per sampled frame; synthesis is
    closed-form in (doc_id, frame_idx) so the oracle predicts every
    header field and per-frame channel mean independently."""
    from pulsar_elasticsearch_sync_rs_spark.operators.multimodal import (
        decode_avi_frames,
        synthesize_avi_corpus,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    avis = synthesize_avi_corpus(docs, id_col="doc_id")
    return decode_avi_frames(avis, sample_every=2).select(
        "media_id",
        "frame_idx",
        "width",
        "height",
        "n_frames",
        "duration_ms",
        F.round("mean_b", 6).alias("mean_b"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_r", 6).alias("mean_r"),
    )


# closed-form twin of synthesize_avi_corpus + parse_avi_frames:
# w = 4+id%6, h = 2+id%4, n_frames = 3+id%5 at 10 fps (100 ms/frame),
# sampled frames f ∈ {0, 2, 4}, solid BGR channels linear in (id, f).
ORACLE_MEDIA_VIDEO = """
SELECT media_id, frame_idx, width, height, n_frames, duration_ms,
  CAST((media_id + 37 * frame_idx) % 256 AS DOUBLE) AS mean_b,
  CAST((3 * media_id + 11 * frame_idx) % 256 AS DOUBLE) AS mean_g,
  CAST((7 * media_id + 5 * frame_idx) % 256 AS DOUBLE) AS mean_r
FROM (
  SELECT doc_id AS media_id,
    CAST(4 + doc_id % 6 AS INT) AS width,
    CAST(2 + doc_id % 4 AS INT) AS height,
    CAST(3 + doc_id % 5 AS BIGINT) AS n_frames,
    CAST((3 + doc_id % 5) * 100 AS BIGINT) AS duration_ms,
    unnest(generate_series(0, CAST(doc_id % 5 AS BIGINT) + 2, 2)) AS frame_idx
  FROM documents
)
"""


def q_quality_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """C4-style heuristic quality score per document (length, word
    length, punctuation density, stopword presence). Narrow per-row
    expressions, no shuffle."""
    from pulsar_elasticsearch_sync_rs_spark.functions.text import quality_score

    docs = read_table(spark, sf_dir, "documents")
    return docs.select("doc_id", quality_score("text").alias("quality"))


ORACLE_QUALITY_SCORE = r"""
WITH toks AS (
  SELECT doc_id, text,
    list_filter(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+'), t -> t <> '') AS t,
    list_filter(string_split_regex(trim(lower(text)), '[ \t\n\x0B\f\r]+'), t -> t <> '') AS tl
  FROM documents
), feat AS (
  SELECT doc_id,
    CAST(len(t) AS DOUBLE) AS n_tok,
    CASE WHEN len(t) > 0
         THEN CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE) / len(t)
         ELSE 0.0 END AS mean_wlen,
    CASE WHEN length(text) > 0
         THEN CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE) / length(text)
         ELSE 0.0 END AS punct_ratio,
    CASE WHEN len(tl) > 0
         THEN CAST(len(list_filter(tl, x -> list_contains(['the','and','of','to','a','in','is','it'], x))) AS DOUBLE) / len(tl)
         ELSE 0.0 END AS sw_ratio
  FROM toks
)
SELECT doc_id,
  round(
    least(n_tok / 50.0, 1.0) * 0.3
    + (CASE WHEN mean_wlen >= 3 AND mean_wlen <= 10 THEN 1.0 ELSE 0.5 END) * 0.2
    + (1.0 - least(punct_ratio * 5, 1.0)) * 0.25
    + least(sw_ratio * 4, 1.0) * 0.25, 6) AS quality
FROM feat
"""


def q_corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """END-TO-END training-corpus curation — the composite pipeline a
    100 TB pretraining-data run actually executes: per-doc language ID
    + C4-style quality score (narrow, no shuffle) → quality gate →
    normalized-text dedup (first-writer-wins by doc_id; one shuffle on
    the normalized hash) → per-language corpus accounting. Every stage
    is a verified building block (q_lang_id / q_quality_score /
    q_dedup_normalized / q_token_count); composing them stays fully
    SQL-expressible, so the whole pipeline is oracle hash-checked."""
    from pulsar_elasticsearch_sync_rs_spark.functions.text import quality_score
    from pulsar_elasticsearch_sync_rs_spark.operators.skew import evaluate_once

    # spread + evaluate_once (optimization round 15, second resume):
    # the whole signal projection AND the quality gate otherwise run on
    # the single-row-group scan in ONE task, and the pushed-down
    # quality filter RE-INLINES the quality aggregate below the
    # projection — two full tokenize+score passes per row. The round's
    # first spread A/B rejected spread here, but it was measured with
    # that pushdown taint. evaluate_once on the projected column keeps
    # the filter above the projection (single evaluation) AND above the
    # spread exchange (32-way): interleaved A/B 0.64-0.84 s old vs
    # 0.37-0.44 s with the gate pinned, identical rows. Spread stays a
    # no-op at production row-group counts.
    docs = spread_scan(read_table(spark, sf_dir, "documents"), "doc_id")
    # lang_guess and quality_score are SINGLE-PASS aggregate
    # expressions (round-15, functions/text.py): each column below
    # tokenizes the text exactly once, including the (now pinned)
    # quality filter — the pre-round-15 multi-reference forms cost 48
    # whitespace splits per row in this plan (audit in plans/r15)
    enr = docs.select(
        "doc_id",
        lang_guess("text").alias("lang_guess"),
        evaluate_once(quality_score("text")).alias("quality"),
        token_count_ws("text").cast("bigint").alias("n_toks"),
        # dedup key = sha2 of the normalized text: the dedup shuffle
        # moves 64-hex-char keys, not documents, at any corpus size
        F.sha2(normalize_text("text"), 256).alias("norm"),
    )
    kept = enr.filter(F.col("quality") >= 0.5)
    w = Window.partitionBy("norm").orderBy("doc_id")
    surv = kept.withColumn("rn", F.row_number().over(w)).filter(F.col("rn") == 1)
    return surv.groupBy("lang_guess").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_toks").alias("total_tokens"),
        # order-independent mean (round-8 oracle rule)
        F.round(
            F.sum(F.col("quality").cast("decimal(30,12)")).cast("double")
            / F.count("quality"),
            4,
        ).alias("avg_quality"),
    )


SAMPLE_FRACTIONS = {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src3": 0.0}


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source training-data sampling recipe: content-deterministic
    md5-gate stratified sample (reproducible across engines — no RNG),
    summarized per source. Narrow, shuffle-free gate; the tiny per-
    source agg is the only exchange."""
    from pulsar_elasticsearch_sync_rs_spark.operators.sampling import (
        deterministic_stratified_sample,
    )

    docs = read_table(spark, sf_dir, "documents")
    kept = deterministic_stratified_sample(
        docs, "source", "doc_id", SAMPLE_FRACTIONS, default_fraction=0.1
    )
    return kept.groupBy("source").agg(
        F.count("*").alias("n_kept"),
        F.sum(token_count_ws("text").cast("bigint")).alias("kept_tokens"),
    )


def _oracle_stratified_sample() -> str:
    from pulsar_elasticsearch_sync_rs_spark.operators.sampling import _frac_to_hex

    def gate(p: float) -> str:
        if p >= 1.0:
            return "TRUE"
        if p <= 0.0:
            return "FALSE"
        return f"substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) < '{_frac_to_hex(p)}'"

    arms = "\n         ".join(
        f"WHEN source = '{s}' THEN {gate(p)}" for s, p in SAMPLE_FRACTIONS.items()
    )
    default_hex = _frac_to_hex(0.1)
    return rf"""
SELECT source, count(*) AS n_kept,
  CAST(sum(len(list_filter(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+'), t -> t <> ''))) AS BIGINT) AS kept_tokens
FROM documents
WHERE CASE {arms}
      ELSE substr(md5(CAST(doc_id AS VARCHAR)), 1, 6) < '{default_hex}' END
GROUP BY source ORDER BY source
"""


ORACLE_STRATIFIED_SAMPLE = _oracle_stratified_sample()


def q_vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus vocabulary: top-20 lowercase whitespace tokens by
    frequency (deterministic tiebreak on the token). explode → two-level
    agg (map-side partial combine) → single small top-k; the explode is
    the only wide-ish step and it shuffles (token, count) pairs, never
    documents."""
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(ws_tokens(F.lower(F.col("text")))).alias("token"))
    counts = toks.groupBy("token").agg(F.count("*").alias("n"))
    return (
        counts.orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(20)
        .select("token", "n")
    )


ORACLE_VOCAB_TOPK = r"""
SELECT token, count(*) AS n
FROM (
  SELECT unnest(list_filter(string_split_regex(trim(lower(text)), '[ \t\n\x0B\f\r]+'), t -> t <> '')) AS token
  FROM documents
)
GROUP BY token
ORDER BY n DESC, token ASC
LIMIT 20
"""


def q_quality_lr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learned quality classifier (operators/lr.py): distill the
    curation gate (quality_score ≥ 0.65 weak label) into a logistic
    model over RAW text signals (token count, punct ratio, stopword
    ratio, char count) — the fastText-style scorer real pipelines
    train on weak labels, here fit DISTRIBUTED via IRLS moment passes
    (one (d²+d)-double row per partition per iteration, driver d×d
    solve) and applied as a PURE-JVM sigmoid expression. Returns the
    top-20 docs by learned keep-probability. Rows-only: cross-partition
    float summation order wiggles the last digits of the coefficients;
    the math is numpy-parity-pinned in tests/test_lr.py."""
    from pulsar_elasticsearch_sync_rs_spark.functions.text import (
        punct_ratio,
        quality_score,
        stopword_ratio,
        token_count_ws,
    )
    from pulsar_elasticsearch_sync_rs_spark.operators.lr import lr_fit, lr_score

    docs = read_table(spark, sf_dir, "documents")
    feats = docs.select(
        "doc_id",
        token_count_ws("text").cast("double").alias("f_ntok"),
        punct_ratio("text").alias("f_punct"),
        stopword_ratio("text").alias("f_stop"),
        F.length("text").cast("double").alias("f_len"),
        (quality_score("text") >= 0.65).cast("int").alias("label"),
    )
    fcols = ["f_ntok", "f_punct", "f_stop", "f_len"]
    # lazy checkpoint: lr_fit runs 6 moment passes and lr_score a 7th —
    # without it each pass re-runs the tokenize/regex feature
    # extraction from the parquet read (the superlinear term the sf10
    # decade row measured; round-10 review finding)
    feats = feats.localCheckpoint(eager=False)
    model = lr_fit(feats, fcols, "label", iters=6)
    scored = lr_score(feats, model, fcols, "p_keep")
    w = Window.orderBy(F.col("p_keep").desc(), F.col("doc_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 20)
        .select("rank", "doc_id", "label")
    )


def q_bm25_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Okapi BM25 retrieval (k1=1.2, b=0.75) — the lexical-search
    yardstick every RAG/retrieval pipeline starts from: score every
    document against the corpus's own top-5 tokens (deterministic
    query, tie-broken on the token), return the top-10 docs with rank,
    matched-term count, doc length, and the 4dp score.

    Plan shape: tokenize → (doc, token) counts (ONE explode shuffle of
    skinny pairs, never documents), df + corpus stats as tiny
    broadcast sides, per-(doc, term) contribution joined against the
    5-term broadcast query, per-doc sum in FIXED token order
    (array_sort + aggregate on ≤5 elements; SUM's nondeterministic
    order would make the float total engine-unstable), global top-10.
    At 100 TB the only wide step is the (token, count) aggregation.

    Oracle note: JVM and DuckDB ``ln`` differ by ~1 ulp on ~8% of the
    idf domain (measured round 10), so the score is rendered at 4dp —
    a flip needs the true value within ~1e-16 of a rounding boundary —
    and the RANKING is computed per-engine (distinct docs' score gaps
    dwarf ulp noise; equal-structure docs tie exactly and break on
    doc_id)."""
    from pulsar_elasticsearch_sync_rs_spark.functions.text import ws_tokens

    k1, b = 1.2, 0.75
    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    toks = docs.select(
        "doc_id", F.explode(ws_tokens(F.lower(F.col("text")))).alias("token")
    )
    # checkpoint the skinny (doc_id, token, tf) table ONCE: tf feeds
    # four independent subtrees (dl, dfreq→query, the corpus stats and
    # the contrib base) and broadcast builds re-execute their whole
    # subtree, so without the barrier the tokenize+explode pass over
    # the full corpus ran 4× per query (guide §2.4 / §5 — measured
    # round 15: 4 parquet scans of documents in the before-plan, 1
    # after). Values are unchanged: tf is deterministic and the per-doc
    # score sums in fixed token order downstream.
    tf = (
        toks.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    ).localCheckpoint()
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    # two independent 1-row aggregates cross-joined — not the corpus
    # streamed through a join against a scalar (round-10 review finding)
    stats = F.broadcast(
        docs.agg(F.count("*").alias("n_docs")).crossJoin(
            dl.agg(F.sum("dl").alias("toktot"))
        )
    )
    dfreq = tf.groupBy("token").agg(
        F.count("*").alias("df"), F.sum("tf").alias("total_tf")
    )
    query = F.broadcast(
        dfreq.orderBy(F.col("total_tf").desc(), F.col("token").asc()).limit(5)
    )
    contrib = (
        tf.join(query, "token")
        .join(dl, "doc_id")
        .crossJoin(stats)
        .withColumn(
            "idf",
            F.log(
                F.lit(1.0)
                + (F.col("n_docs") - F.col("df") + 0.5) / (F.col("df") + 0.5)
            ),
        )
        .withColumn("avgdl", F.col("toktot") / F.col("n_docs"))
        .withColumn(
            "w",
            F.col("idf")
            * (F.col("tf") * (k1 + 1))
            / (
                F.col("tf")
                + k1 * (1 - b + b * F.col("dl") / F.col("avgdl"))
            ),
        )
    )
    scored = contrib.groupBy("doc_id").agg(
        F.aggregate(
            F.array_sort(F.collect_list(F.struct("token", "w"))),
            F.lit(0.0),
            lambda acc, x: acc + x["w"],
        ).alias("score"),
        F.count("*").alias("n_terms"),
        F.first("dl").alias("dl"),
    )
    w = Window.orderBy(F.col("score").desc(), F.col("doc_id").asc())
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 10)
        .select(
            "rank",
            "doc_id",
            "n_terms",
            "dl",
            F.round("score", 4).alias("score"),
        )
    )


ORACLE_BM25_TOPK = r"""
WITH toks AS (
  SELECT doc_id,
         unnest(list_filter(string_split_regex(trim(lower(text)),
                '[ \t\n\x0B\f\r]+'), t -> t <> '')) AS token
  FROM documents
), tf AS (
  SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2
), dl AS (
  SELECT doc_id, sum(tf) AS dl FROM tf GROUP BY 1
), stats AS (
  SELECT (SELECT count(*) FROM documents) AS n_docs,
         (SELECT sum(dl) FROM dl) AS toktot
), dfreq AS (
  SELECT token, count(*) AS df, sum(tf) AS total_tf FROM tf GROUP BY 1
), query AS (
  SELECT token, df FROM dfreq ORDER BY total_tf DESC, token ASC LIMIT 5
), contrib AS (
  SELECT t.doc_id, t.token, d.dl,
         ln(1.0 + (s.n_docs - q.df + 0.5) / (q.df + 0.5))
           * (t.tf * 2.2)
           / (t.tf + 1.2 * (1 - 0.75 + 0.75 * d.dl / (s.toktot * 1.0 / s.n_docs))) AS w
  FROM tf t JOIN query q USING (token) JOIN dl d USING (doc_id), stats s
), scored AS (
  SELECT doc_id, sum(w ORDER BY token) AS score, count(*) AS n_terms,
         any_value(dl) AS dl
  FROM contrib GROUP BY doc_id
)
SELECT CAST(row_number() OVER (ORDER BY score DESC, doc_id ASC) AS INT) AS rank,
       doc_id, n_terms, dl, round(score, 4) AS score
FROM scored
ORDER BY score DESC, doc_id ASC
LIMIT 10
"""


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII redaction pass (emails / SSNs / phones / IPv4 → typed
    tokens) — the scrub every pretraining corpus runs. The fixture text
    carries no PII, so a deterministic PII-bearing footer is
    synthesized from doc_id IN-QUERY (both engines build the identical
    string), making the redaction genuinely observable: per-doc match
    counts + md5 of the redacted text are hash-checked. Narrow per-row
    regexes, no shuffle, no UDF."""
    from pulsar_elasticsearch_sync_rs_spark.functions.text import pii_count, redact_pii

    docs = read_table(spark, sf_dir, "documents")
    footer = F.concat(
        F.col("text"),
        F.lit(" contact user"),
        F.col("doc_id").cast("string"),
        F.lit("@example.com or 555-"),
        F.lpad((F.col("doc_id") % 1000).cast("string"), 3, "0"),
        F.lit("-0199 from 10.0."),
        (F.col("doc_id") % 256).cast("string"),
        F.lit(".7"),
    )
    aug = docs.select("doc_id", footer.alias("aug"))
    return aug.select(
        "doc_id",
        pii_count("aug", "email").alias("n_email"),
        pii_count("aug", "phone").alias("n_phone"),
        pii_count("aug", "ipv4").alias("n_ipv4"),
        F.md5(redact_pii("aug")).alias("redacted_md5"),
    )


ORACLE_PII_SCRUB = r"""
WITH aug AS (
  SELECT doc_id,
    text || ' contact user' || CAST(doc_id AS VARCHAR)
      || '@example.com or 555-' || lpad(CAST(doc_id % 1000 AS VARCHAR), 3, '0')
      || '-0199 from 10.0.' || CAST(doc_id % 256 AS VARCHAR) || '.7' AS aug
  FROM documents
)
SELECT doc_id,
  CAST(len(regexp_extract_all(aug, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}')) AS INTEGER) AS n_email,
  CAST(len(regexp_extract_all(aug, '\b\d{3}[-.]\d{3}[-.]\d{4}\b')) AS INTEGER) AS n_phone,
  CAST(len(regexp_extract_all(aug, '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b')) AS INTEGER) AS n_ipv4,
  md5(
    regexp_replace(
      regexp_replace(
        regexp_replace(
          regexp_replace(aug, '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}', '<EMAIL>', 'g'),
          '\b\d{3}-\d{2}-\d{4}\b', '<SSN>', 'g'),
        '\b\d{3}[-.]\d{3}[-.]\d{4}\b', '<PHONE>', 'g'),
      '\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b', '<IP>', 'g')
  ) AS redacted_md5
FROM aug
"""


def _oracle_corpus_curation() -> str:
    langs = sorted(STOPWORDS)
    score_exprs = ",\n    ".join(
        "len(list_filter(tl, t -> list_contains(["
        + ", ".join(f"'{w}'" for w in STOPWORDS[lg])
        + f"], t))) AS s_{lg}"
        for lg in langs
    )
    greatest = "greatest(" + ", ".join(f"s_{lg}" for lg in langs) + ")"
    case_arms = "\n         ".join(
        f"WHEN s_{lg} = {greatest} THEN '{lg}'" for lg in langs
    )
    return rf"""
WITH toks AS (
  SELECT doc_id, text,
    list_filter(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+'), t -> t <> '') AS t,
    list_filter(string_split_regex(trim(lower(text)), '[ \t\n\x0B\f\r]+'), t -> t <> '') AS tl
  FROM documents
), feat AS (
  SELECT doc_id, text, t, tl,
    CAST(len(t) AS DOUBLE) AS n_tok,
    CASE WHEN len(t) > 0
         THEN CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE) / len(t)
         ELSE 0.0 END AS mean_wlen,
    CASE WHEN length(text) > 0
         THEN CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE) / length(text)
         ELSE 0.0 END AS punct_ratio,
    CASE WHEN len(tl) > 0
         THEN CAST(len(list_filter(tl, x -> list_contains(['the','and','of','to','a','in','is','it'], x))) AS DOUBLE) / len(tl)
         ELSE 0.0 END AS sw_ratio,
    {score_exprs}
  FROM toks
), enr AS (
  SELECT doc_id,
    CASE WHEN {greatest} = 0 THEN 'unknown'
         {case_arms}
         ELSE 'unknown' END AS lang_guess,
    round(
      least(n_tok / 50.0, 1.0) * 0.3
      + (CASE WHEN mean_wlen >= 3 AND mean_wlen <= 10 THEN 1.0 ELSE 0.5 END) * 0.2
      + (1.0 - least(punct_ratio * 5, 1.0)) * 0.25
      + least(sw_ratio * 4, 1.0) * 0.25, 6) AS quality,
    CAST(len(t) AS BIGINT) AS n_toks,
    sha256(regexp_replace(trim(regexp_replace(lower(text), '[[:punct:]]', ' ', 'g')), '[ \t\n\x0B\f\r]+', ' ', 'g')) AS norm
  FROM feat
), kept AS (
  SELECT * FROM enr WHERE quality >= 0.5
), surv AS (
  SELECT * FROM (
    SELECT kept.*, row_number() OVER (PARTITION BY norm ORDER BY doc_id) AS rn FROM kept
  ) WHERE rn = 1
)
SELECT lang_guess, count(*) AS n_docs,
  CAST(sum(n_toks) AS BIGINT) AS total_tokens,
  round(CAST(CAST(sum(CAST(quality AS DECIMAL(30,12))) AS VARCHAR) AS DOUBLE) / count(quality), 4) AS avg_quality
FROM surv GROUP BY lang_guess ORDER BY lang_guess
"""


ORACLE_CORPUS_CURATION = _oracle_corpus_curation()


def q_knn_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF (k-means coarse quantizer, nprobe cell scan) approximate
    top-5 — the inverted-file ANN scale path. Approximate + iterative
    training → rows-only driver check; recall pinned in pytest."""
    from pulsar_elasticsearch_sync_rs_spark.operators.ivf import knn_cosine_ivf

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return knn_cosine_ivf(emb, queries, k=5, nlist=8, nprobe=4)


def q_tfidf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document top-3 terms by TF-IDF — the feature-extraction
    staple of corpus analysis. tf = term count in doc; idf =
    ln(N / df) over distinct-doc frequency; top-3 per doc by
    round(tf·idf, 6) with term tiebreak.

    Plan: explode tokens (narrow) → (doc, term) counts and (term, df)
    counts — two partial-agg shuffles over (term[, doc]) keys, never
    documents — → broadcast-sized df table joins back → windowed
    top-k. ln() is IEEE-double on both engines; the 6-dp round is the
    same discipline the cosine lanes use."""
    docs = read_table(spark, sf_dir, "documents")
    n_docs = docs.count()
    toks = docs.select(
        "doc_id", F.explode(ws_tokens(F.lower("text"))).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dfreq = toks.distinct().groupBy("term").agg(F.count("*").alias("df"))
    scored = tf.join(dfreq, "term").withColumn(
        "tfidf",
        F.round(F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), 6),
    )
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tfidf").desc(), F.col("term").asc()
    )
    return (
        scored.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("doc_id", "rnk", "term", "tfidf")
    )


ORACLE_TFIDF_TOPK = r"""
WITH toks AS (
  SELECT doc_id,
    unnest(list_filter(string_split_regex(trim(lower(text)), '[ \t\n\x0B\f\r]+'), t -> t <> '')) AS term
  FROM documents
), tf AS (
  SELECT doc_id, term, count(*) AS tf FROM toks GROUP BY doc_id, term
), dfreq AS (
  SELECT term, count(DISTINCT doc_id) AS df FROM toks GROUP BY term
), scored AS (
  SELECT tf.doc_id, tf.term,
    round(tf.tf * ln((SELECT count(*) FROM documents) / CAST(dfreq.df AS DOUBLE)), 6) AS tfidf
  FROM tf JOIN dfreq USING (term)
)
SELECT doc_id, CAST(rnk AS INTEGER) AS rnk, term, tfidf FROM (
  SELECT doc_id, term, tfidf,
    row_number() OVER (PARTITION BY doc_id ORDER BY tfidf DESC, term ASC) AS rnk
  FROM scored
) WHERE rnk <= 3
ORDER BY doc_id, rnk
"""


def q_group_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-group reservoir: the k=3 docs per source with
    the smallest md5(text) rank — a reproducible, engine-portable
    "random" sample per stratum (no RNG; the same content always wins,
    which is what makes the lane auditable). Windowed top-k: one
    shuffle on source."""
    docs = read_table(spark, sf_dir, "documents")
    # asc_nulls_last: Spark ASC is NULLS FIRST but DuckDB ASC defaults
    # to NULLS LAST — pin the oracle's ordering for NULL texts
    w = Window.partitionBy("source").orderBy(
        F.md5("text").asc_nulls_last(), F.col("doc_id").asc()
    )
    return (
        docs.withColumn("rnk", F.row_number().over(w))
        .filter(F.col("rnk") <= 3)
        .select("source", F.col("rnk").cast("int").alias("rnk"), "doc_id")
    )


ORACLE_GROUP_SAMPLE = """
SELECT source, CAST(rnk AS INTEGER) AS rnk, doc_id FROM (
  SELECT source, doc_id,
    row_number() OVER (PARTITION BY source ORDER BY md5(text) ASC, doc_id ASC) AS rnk
  FROM documents
) WHERE rnk <= 3
ORDER BY source, rnk
"""


def q_seq_pack(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequence packing (operators/packing.py): documents →
    fixed-length 256-token training windows under concat-then-chunk
    packing, with (seq_id, doc_id, begin_tok, end_tok) lineage per
    fragment. Closed-form in the whitespace token counts, so the
    DuckDB running-sum oracle reproduces it exactly; the distributed
    two-phase prefix scan keeps the Spark side shuffle-bounded (no
    single-partition global window)."""
    from pulsar_elasticsearch_sync_rs_spark.operators.packing import pack_sequences

    docs = read_table(spark, sf_dir, "documents")
    return pack_sequences(docs, seq_len=256)


ORACLE_SEQ_PACK = r"""
WITH toks AS (
  SELECT doc_id,
    CAST(len(list_filter(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+'), t -> t <> '')) AS BIGINT) AS n_toks
  FROM documents
), offs AS (
  SELECT doc_id, n_toks,
    CAST(COALESCE(sum(n_toks) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
  FROM toks
), frags AS (
  SELECT doc_id, n_toks, start_off,
    unnest(range(start_off // 256, (start_off + n_toks - 1) // 256 + 1)) AS seq_id
  FROM offs WHERE n_toks > 0
)
SELECT CAST(seq_id AS BIGINT) AS seq_id, doc_id,
  CAST(greatest(0, seq_id * 256 - start_off) AS BIGINT) AS begin_tok,
  CAST(least(n_toks, (seq_id + 1) * 256 - start_off) AS BIGINT) AS end_tok
FROM frags
"""


def q_repetition_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition filtering (Rae et al. 2021, public): flag
    documents dominated by repeated content via two per-doc signals —
    ``dup_word_frac`` (1 − distinct/total tokens) and
    ``top_bigram_frac`` (multiplicity of the most frequent bigram over
    all bigrams). keep = dup_word_frac ≤ 0.6 AND top_bigram_frac ≤ 0.1.

    Scale shape: both signals are PER-ROW expressions — the bigram mode
    count is a sorted-array run-length ``aggregate``
    (functions/text.py:max_multiplicity), so the whole query is one
    narrow codegen'd scan with ZERO shuffle; the explode→groupBy
    alternative would shuffle one row per bigram of a 100 TB corpus to
    answer a per-document question."""
    from pulsar_elasticsearch_sync_rs_spark.functions.text import (
        repetition_signals_from_tokens,
        ws_tokens,
    )

    docs = read_table(spark, sf_dir, "documents")
    # two-step select: materialize the lowered token array once, then
    # derive all three signals from the attribute — the inline form
    # re-ran the lower+split chain for every token reference (~7 per
    # row; see functions.text.kgrams_from_tokens). Values identical.
    toked = docs.select("doc_id", ws_tokens(F.lower(F.col("text"))).alias("__lt"))
    n, dup_word_frac, top_bigram_frac = repetition_signals_from_tokens("__lt")
    out = toked.select(
        "doc_id",
        F.coalesce(n, F.lit(0).cast("bigint")).alias("n_toks"),
        dup_word_frac.alias("dup_word_frac"),
        top_bigram_frac.alias("top_bigram_frac"),
    )
    return out.withColumn(
        "keep", (F.col("dup_word_frac") <= 0.6) & (F.col("top_bigram_frac") <= 0.1)
    )


ORACLE_REPETITION_FILTER = r"""
WITH toks AS (
  SELECT doc_id,
    list_filter(string_split_regex(trim(lower(text)), '[ \t\n\x0B\f\r]+'), t -> t <> '') AS t
  FROM documents
), base AS (
  SELECT doc_id, CAST(len(t) AS BIGINT) AS n_toks,
    round(CASE WHEN len(t) > 0
      THEN 1 - CAST(len(list_distinct(t)) AS DOUBLE) / len(t) ELSE 0.0 END, 6) AS dup_word_frac,
    t
  FROM toks
), bg AS (
  SELECT doc_id,
    unnest(list_transform(generate_series(1, len(t) - 1), i -> t[i] || ' ' || t[i+1])) AS g
  FROM base WHERE n_toks >= 2
), topbg AS (
  SELECT doc_id, max(c) AS top_c
  FROM (SELECT doc_id, g, count(*) AS c FROM bg GROUP BY doc_id, g) GROUP BY doc_id
)
SELECT b.doc_id, b.n_toks, b.dup_word_frac,
  round(CASE WHEN b.n_toks >= 2
    THEN CAST(COALESCE(t.top_c, 0) AS DOUBLE) / (b.n_toks - 1) ELSE 0.0 END, 6) AS top_bigram_frac,
  (b.dup_word_frac <= 0.6 AND round(CASE WHEN b.n_toks >= 2
    THEN CAST(COALESCE(t.top_c, 0) AS DOUBLE) / (b.n_toks - 1) ELSE 0.0 END, 6) <= 0.1) AS keep
FROM base b LEFT JOIN topbg t USING (doc_id)
ORDER BY b.doc_id
"""


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination — the standard pre-training hygiene
    pass (n-gram overlap against a held-out evaluation set, as in
    GPT-3/PaLM data cards, public knowledge): a deterministic subset
    (doc_id % 97 == 0) stands in for the benchmark corpus; every other
    document is flagged with the number of DISTINCT word 3-grams it
    shares with ANY benchmark document.

    Scale shape: the benchmark n-gram set is bounded (eval suites are
    tiny next to a 100 TB corpus) → built once, deduped, and BROADCAST;
    the corpus side explodes distinct shingles (narrow strings, never
    document bodies) and the only shuffle is the per-doc hit count —
    a partial-agg on doc_id. No corpus-vs-corpus join exists.

    The benchmark is a PARAMETER of the underlying operator
    (operators/decontaminate.py) — any external eval table works; the
    ``doc_id % 97`` subset is just this fixture's stand-in — and the
    broadcast is guarded by a measured gram count, falling back to a
    shuffle join when the bench set is too big to ship whole."""
    from pulsar_elasticsearch_sync_rs_spark.operators.decontaminate import (
        contamination_hits,
    )

    # spread the CORPUS side only: its shingle explode is the heavy
    # pre-exchange work. The bench side (~1% of docs) feeds the
    # broadcast-guard aggregation and the gram-set build — routing it
    # through the spread exchange only added that exchange's AQE
    # stages to the guard job (optimization round 16).
    raw = read_table(spark, sf_dir, "documents")
    bench = raw.filter(F.col("doc_id") % 97 == 0)
    corpus = spread_scan(raw.filter(F.col("doc_id") % 97 != 0), "doc_id")
    return contamination_hits(corpus, bench, n=3)


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted sampling WITHOUT replacement per stratum
    (Efraimidis–Spirakis A-Res, public literature): key = u^(1/w) with
    u a DETERMINISTIC knuth-hash uniform of doc_id and w = n_chars,
    top-3 keys per lang — the quality-weighted corpus subsample real
    mixes draw (longer/better docs proportionally likelier, no
    replacement, reproducible with no RNG). Completes the sampling
    family beside the uniform reservoir (q_group_sample), stratified
    rates (q_stratified_sample), and temperature mix (q_domain_mix).

    Plan: narrow key computation + one per-stratum top-k window — the
    same single shuffle as any grouped top-k at 100 TB. Output is
    rank + ids only: ``pow`` is transcendental and engines may differ
    in the last ulp, so ORDER is computed per-engine (distinct docs'
    key gaps dwarf ulp noise — the q_bm25_topk convention) and the
    float key itself stays out of the hash."""
    docs = read_table(spark, sf_dir, "documents").filter(
        F.col("n_chars") > 0
    )
    u = (knuth_u32("doc_id", salt=7) + F.lit(0.5)) / F.lit(float(U32))
    key = F.pow(u, F.lit(1.0) / F.col("n_chars"))
    w = Window.partitionBy("lang").orderBy(
        F.col("__key").desc(), F.col("doc_id").asc()
    )
    return (
        docs.withColumn("__key", key)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("lang", "rank", "doc_id", "n_chars")
    )


ORACLE_WEIGHTED_SAMPLE = """
WITH keyed AS (
  SELECT lang, doc_id, n_chars,
         pow((((doc_id + 7) * 2654435761) % 4294967296 + 0.5) / 4294967296.0,
             1.0 / n_chars) AS k
  FROM documents WHERE n_chars > 0
)
SELECT lang, CAST(rank AS INT) AS rank, doc_id, n_chars FROM (
  SELECT lang, doc_id, n_chars,
         row_number() OVER (PARTITION BY lang ORDER BY k DESC, doc_id ASC) AS rank
  FROM keyed
) WHERE rank <= 3
"""


def q_bpe_train(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT distributed BPE tokenizer training (functions/bpe.py
    learn_merges_distributed): 24 merge rules learned from FULL-corpus
    pair counts — the scale path past the bounded-driver-sample learner
    that q_bpe_token_count rides. Per step, one skinny (pair, count)
    shuffle over the word-frequency table + one Arrow merge map; only
    the argmax row reaches the driver. Deterministic (lexicographic
    tie-break) but iterative — no SQL twin; rows-only with an exact
    full-frequency-dict parity pytest (tests/test_bpe_train.py)."""
    from pulsar_elasticsearch_sync_rs_spark.functions.bpe import (
        learn_merges_distributed,
    )

    docs = read_table(spark, sf_dir, "documents")
    merges = learn_merges_distributed(docs, "text", n_merges=24)
    if not merges:
        return spark.createDataFrame([], "rank int, left string, right string")
    return spark.createDataFrame(
        [(i, a, b) for i, (a, b) in enumerate(merges)],
        "rank int, left string, right string",
    )


def q_decontaminate_fuzzy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fuzzy decontamination (operators/decontaminate.py
    contamination_fraction): corpus documents whose distinct word
    3-grams are ≥50% CONTAINED in the benchmark gram set — the
    containment-threshold data-card rule that catches near-copies and
    quotations the any-hit rule (q_decontaminate) would over- or
    under-flag. The benchmark stand-in is the ``doc_id % 97`` subset
    PLUS the ``doc_id % 89`` corpus docs — eval suites really do
    contain passages lifted from the crawl, and the planted leak makes
    the lane a REAL witness at every SF (without it, sf0.01's max
    containment is 0.11 and the lane pins a vacuous 0=0 — the zorder
    sf1 lesson). Same measured-broadcast scale shape; the fraction is
    one IEEE int division, hash-stable across engines."""
    from pulsar_elasticsearch_sync_rs_spark.operators.decontaminate import (
        contamination_fraction,
    )

    docs = read_table(spark, sf_dir, "documents")
    bench = docs.filter(
        (F.col("doc_id") % 97 == 0) | (F.col("doc_id") % 89 == 0)
    )
    corpus = docs.filter(F.col("doc_id") % 97 != 0)
    return contamination_fraction(corpus, bench, n=3, threshold=0.5)


ORACLE_DECONTAMINATE_FUZZY = r"""
WITH sh AS (
  SELECT doc_id,
    list_distinct(CASE WHEN len(t) >= 3
      THEN list_transform(generate_series(1, len(t) - 2),
                          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
      ELSE [] END) AS s
  FROM (
    SELECT doc_id,
      list_filter(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+'), t -> t <> '') AS t
    FROM documents
  )
), bench AS (
  SELECT DISTINCT unnest(s) AS g FROM sh
  WHERE doc_id % 97 = 0 OR doc_id % 89 = 0
), corpus AS (
  SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % 97 <> 0
), per_doc AS (
  SELECT c.doc_id, count(*) AS n_grams,
         count(b.g) AS n_hit
  FROM corpus c LEFT JOIN bench b USING (g)
  GROUP BY c.doc_id
)
SELECT doc_id, n_grams, n_hit,
       CAST(n_hit AS DOUBLE) / n_grams AS frac
FROM per_doc
WHERE CAST(n_hit AS DOUBLE) / n_grams >= 0.5
ORDER BY doc_id
"""


ORACLE_DECONTAMINATE = r"""
WITH sh AS (
  SELECT doc_id,
    list_distinct(CASE WHEN len(t) >= 3
      THEN list_transform(generate_series(1, len(t) - 2),
                          i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2])
      ELSE [] END) AS s
  FROM (
    SELECT doc_id,
      list_filter(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+'), t -> t <> '') AS t
    FROM documents
  )
), bench AS (
  SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 97 = 0
), corpus AS (
  SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % 97 <> 0
)
SELECT doc_id, count(*) AS n_hit_ngrams
FROM corpus WHERE g IN (SELECT g FROM bench)
GROUP BY doc_id ORDER BY doc_id
"""


# --- deterministic sampling primitives (shared by the mix / split
# --- lanes AND the q_llm_pipeline composite, so the composite can
# --- never drift from the stage lanes it chains) ----------------------

KNUTH_M = 2654435761  # Knuth's 2^32 golden-ratio multiplier
U32 = 4294967296
# The split stream MUST be decorrelated from the mix stream: both hash
# doc_id, and reusing one value would make the two decisions fully
# dependent (a stratum downsampled to rate < 100/2^32 would land its
# survivors ~entirely in train, never val/test). A pre-multiply salt
# gives an independent permutation of the id space.
TRAIN_SPLIT_SALT = 1442695041


def knuth_u32(col, salt: int = 0):
    """((col + salt) * KNUTH_M) mod 2^32 — pure bigint arithmetic, so
    DuckDB oracles reproduce the exact row set with no RNG.

    Evaluated as a 16-bit SPLIT multiply (M·b mod 2^32 =
    (M·(b div 2^16) mod 2^32)·2^16 + M·(b mod 2^16), all reduced mod
    2^32): the naive product overflows int64 for ids ≥ ~3.47e9, which
    a 100 TB id space crosses routinely — under ANSI mode that was a
    runtime ARITHMETIC_OVERFLOW the moment Catalyst inferred the
    predicate onto a raw-id scan (found by the sf10 decade, round 8).
    Every intermediate here is ≤ ~2.8e14; values are bit-identical to
    the naive formula for all int64 inputs (the input is first reduced
    mod 2^32, which the naive product does implicitly). Oracles keep
    the plain SQL formula — identical in their (≪2^32) id range."""
    base = (F.col(col) if isinstance(col, str) else col) + F.lit(salt)
    b = F.pmod(base, F.lit(U32))
    lo = b % F.lit(65536)
    hi = (b - lo) / F.lit(65536)
    hi = hi.cast("bigint")
    return F.pmod(
        F.pmod(F.lit(KNUTH_M) * hi, F.lit(U32)) * F.lit(65536)
        + F.lit(KNUTH_M) * lo,
        F.lit(U32),
    )


def temperature_rates(docs: DataFrame, stratum: str = "lang") -> DataFrame:
    """α=0.5 temperature keep-rates per stratum:
    round(sqrt(c_min / c), 6) — the smallest stratum keeps everything,
    large strata are downsampled toward it. The global min rides a
    broadcast cross join of the one-row agg — both sides are ≤ #strata
    rows; an unpartitioned window here would drag the (tiny) counts
    into one partition and log a scary warning."""
    counts = docs.groupBy(stratum).agg(F.count("*").alias("c"))
    cmin = counts.agg(F.min("c").alias("c_min"))
    return counts.crossJoin(F.broadcast(cmin)).select(
        stratum,
        F.round(F.sqrt(F.col("c_min").cast("double") / F.col("c").cast("double")), 6).alias("rate"),
    )


def mix_keep_predicate(id_col: str = "doc_id", rate_col: str = "rate"):
    """keep iff knuth_u32(id) < floor(rate · 2^32)."""
    return knuth_u32(id_col) < F.floor(F.col(rate_col) * F.lit(float(U32))).cast("bigint")


def q_domain_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-weighted domain mixing — rebalance a skewed corpus
    toward uniform strata, the multilingual-LLM sampling recipe
    (alpha-temperature sampling, e.g. mBERT/XLM-R data cards, public
    knowledge). Rates from :func:`temperature_rates`; membership is the
    DETERMINISTIC :func:`knuth_u32` gate (:func:`mix_keep_predicate`).

    Scale shape: stratum counts are one partial-agg over lang; the
    tiny rate table is BROADCAST back; the keep decision is a narrow
    filter — the corpus itself never shuffles. Docs with NULL lang
    carry no stratum and are excluded (documented)."""
    docs = read_table(spark, sf_dir, "documents").filter(F.col("lang").isNotNull())
    rates = temperature_rates(docs, "lang")
    return (
        docs.join(F.broadcast(rates), "lang")
        .filter(mix_keep_predicate())
        .select("doc_id", "lang", "rate")
    )


ORACLE_DOMAIN_MIX = """
WITH counts AS (
  SELECT lang, count(*) AS c FROM documents WHERE lang IS NOT NULL GROUP BY lang
), rates AS (
  SELECT lang,
    round(sqrt(CAST((SELECT min(c) FROM counts) AS DOUBLE) / CAST(c AS DOUBLE)), 6) AS rate
  FROM counts
)
SELECT d.doc_id, d.lang, r.rate
FROM documents d JOIN rates r USING (lang)
WHERE (d.doc_id * 2654435761) % 4294967296 < CAST(floor(rate * 4294967296.0) AS BIGINT)
ORDER BY d.doc_id
"""


def q_knn_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization top-5 (operators/pq.py): 16×64 codebooks →
    16-byte codes (16× compression), ADC lookup-table scan with
    per-partition top-C, exact cosine re-rank on candidates only.
    K-means codebooks are iterative/approximate → rows-only driver
    check; pytest pins recall ≥0.85 against brute force."""
    from pulsar_elasticsearch_sync_rs_spark.operators.pq import knn_cosine_pq

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return knn_cosine_pq(emb, queries, k=5, m=16, ksub=64, refine=8)


def q_dedup_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental dedup — the daily-increment production shape: a NEW
    batch (upper half of doc_ids, standing in for today's crawl) is
    admitted only if its content hash is (a) unseen in the EXISTING
    corpus (lower half) and (b) the first occurrence within the batch
    itself (min doc_id wins, matching q_dedup_exact's survivor rule).
    Output: admitted (doc_id, content sha) pairs.

    Scale shape: only (sha256, doc_id) ever shuffles — never text.
    The cross-corpus check is a LEFT ANTI join on the 32-byte hash
    (at 100 TB the existing-corpus side is the persisted hash index,
    bucketed by sha so the anti-join is co-located and incremental
    batches never reshuffle the historical corpus); the within-batch
    rule is one partial-agg groupBy on the same key."""
    docs = read_table(spark, sf_dir, "documents")
    # floor division, pinned on BOTH sides: Spark's double->bigint cast
    # truncates (249.5 -> 249) while DuckDB's CAST rounds (-> 250)
    split_at = docs.agg(
        F.floor(F.max("doc_id") / 2).cast("bigint").alias("m")
    ).collect()[0]["m"]
    hashed = docs.select(
        "doc_id", F.sha2("text", 256).alias("sha")
    )
    existing = hashed.filter(F.col("doc_id") <= split_at).select("sha").distinct()
    batch = hashed.filter(F.col("doc_id") > split_at)
    batch_first = (
        batch.groupBy("sha").agg(F.min("doc_id").alias("doc_id"))
    )
    return batch_first.join(existing, "sha", "left_anti").select("doc_id", "sha")


ORACLE_DEDUP_INCREMENTAL = """
WITH split AS (
  SELECT CAST(floor(max(doc_id) / 2) AS BIGINT) AS m FROM documents
), hashed AS (
  SELECT doc_id, sha256(text) AS sha FROM documents
), existing AS (
  SELECT DISTINCT sha FROM hashed WHERE doc_id <= (SELECT m FROM split)
), batch_first AS (
  SELECT sha, min(doc_id) AS doc_id FROM hashed
  WHERE doc_id > (SELECT m FROM split) GROUP BY sha
)
SELECT doc_id, sha FROM batch_first
WHERE sha NOT IN (SELECT sha FROM existing)
ORDER BY doc_id
"""


def q_cluster_survivors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production "which copy do we keep" decision: near-dup
    clusters (q_dedup_clusters' star-contraction components over exact
    Jaccard edges) × quality scoring → per cluster, keep the HIGHEST
    quality member (tie → min doc_id), reporting its quality and the
    cluster size. Composes two verified operators into the stage a
    training pipeline actually runs between dedup and packing —
    survivor choice by quality, not by arbitrary min-id.

    Scale: inherits the components' O(log² n) contraction; the quality
    join moves (doc_id, double) pairs; the argmax is one window over
    cluster keys."""
    from pulsar_elasticsearch_sync_rs_spark.functions.text import quality_score
    from pulsar_elasticsearch_sync_rs_spark.operators.components import dedup_clusters

    docs = read_table(spark, sf_dir, "documents").withColumn(
        "blk",
        F.when(
            F.col("lang").isNotNull() & F.col("source").isNotNull(),
            F.to_json(F.struct("lang", "source")),
        ),
    )
    pairs = ngram_jaccard_pairs(
        docs, text="text", id_col="doc_id", threshold=0.35, shingle_k=3, block_col="blk"
    )
    clusters = dedup_clusters(docs, pairs, id_col="doc_id")
    scored = docs.select("doc_id", quality_score("text").alias("quality"))
    labeled = clusters.join(scored, "doc_id")
    w = Window.partitionBy("cluster").orderBy(
        F.col("quality").desc(), F.col("doc_id").asc()
    )
    wc = Window.partitionBy("cluster")
    return (
        labeled.withColumn("rnk", F.row_number().over(w))
        .withColumn("n_members", F.count("*").over(wc))
        .filter(F.col("rnk") == 1)
        .select(
            "cluster",
            F.col("doc_id").alias("survivor_id"),
            "quality",
            F.col("n_members").cast("bigint").alias("n_members"),
        )
    )


ORACLE_CLUSTER_SURVIVORS = r"""
WITH RECURSIVE sh AS (
  SELECT doc_id, lang, source,
    list_distinct(CASE WHEN len(toks) >= 3
      THEN list_transform(generate_series(1, len(toks) - 2),
                          i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2])
      ELSE [] END) AS shingles
  FROM (
    SELECT doc_id, lang, source,
      list_filter(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+'), t -> t <> '') AS toks
    FROM documents
  )
), edges AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b
  FROM sh a JOIN sh b
    ON a.lang = b.lang AND a.source = b.source AND a.doc_id < b.doc_id
  WHERE len(list_distinct(list_concat(a.shingles, b.shingles))) > 0
    AND round(CAST(len(list_intersect(a.shingles, b.shingles)) AS DOUBLE)
          / len(list_distinct(list_concat(a.shingles, b.shingles))), 6) >= 0.35
), sym AS (
  SELECT id_a AS u, id_b AS v FROM edges
  UNION
  SELECT id_b, id_a FROM edges
), reach(u, v) AS (
  SELECT u, v FROM sym
  UNION
  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u WHERE r.u <> s.v
), comp AS (
  SELECT u AS id, least(u, min(v)) AS cluster FROM reach GROUP BY u
), clusters AS (
  SELECT d.doc_id, CAST(coalesce(c.cluster, d.doc_id) AS BIGINT) AS cluster
  FROM documents d LEFT JOIN comp c ON d.doc_id = c.id
), qtoks AS (
  SELECT doc_id, text,
    list_filter(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+'), t -> t <> '') AS t,
    list_filter(string_split_regex(trim(lower(text)), '[ \t\n\x0B\f\r]+'), t -> t <> '') AS tl
  FROM documents
), feat AS (
  SELECT doc_id,
    CAST(len(t) AS DOUBLE) AS n_tok,
    CASE WHEN len(t) > 0
         THEN CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE) / len(t)
         ELSE 0.0 END AS mean_wlen,
    CASE WHEN length(text) > 0
         THEN CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE) / length(text)
         ELSE 0.0 END AS punct_ratio,
    CASE WHEN len(tl) > 0
         THEN CAST(len(list_filter(tl, x -> list_contains(['the','and','of','to','a','in','is','it'], x))) AS DOUBLE) / len(tl)
         ELSE 0.0 END AS sw_ratio
  FROM qtoks
), q AS (
  SELECT doc_id,
    round(
      least(n_tok / 50.0, 1.0) * 0.3
      + (CASE WHEN mean_wlen >= 3 AND mean_wlen <= 10 THEN 1.0 ELSE 0.5 END) * 0.2
      + (1.0 - least(punct_ratio * 5, 1.0)) * 0.25
      + least(sw_ratio * 4, 1.0) * 0.25, 6) AS quality
  FROM feat
), ranked AS (
  SELECT cl.cluster, cl.doc_id, q.quality,
    row_number() OVER (PARTITION BY cl.cluster ORDER BY q.quality DESC, cl.doc_id ASC) AS rnk,
    count(*) OVER (PARTITION BY cl.cluster) AS n_members
  FROM clusters cl JOIN q USING (doc_id)
)
SELECT cluster, doc_id AS survivor_id, quality, CAST(n_members AS BIGINT) AS n_members
FROM ranked WHERE rnk = 1 ORDER BY cluster
"""


def q_train_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test split (98/1/1) — the final stage
    before packing. Assignment = SALTED Knuth hash of doc_id mod 100
    (:func:`knuth_u32` with TRAIN_SPLIT_SALT — the salt decorrelates
    the split stream from q_domain_mix's keep stream; see the constant's
    comment): content-independent, reproducible across
    runs/partitionings, and disjoint-and-exhaustive by construction.
    Output: per-split doc counts and token totals — the figures a data
    card reports.

    Scale: one narrow projection + one 3-key partial agg; nothing else
    moves."""
    docs = read_table(spark, sf_dir, "documents")
    bucket = knuth_u32("doc_id", TRAIN_SPLIT_SALT) % F.lit(100)
    split = (
        F.when(bucket < 98, F.lit("train"))
        .when(bucket < 99, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return (
        docs.select(split.alias("split"), token_count_ws("text").alias("n_tok"))
        .groupBy("split")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tok").alias("n_tokens"),
        )
    )


ORACLE_TRAIN_SPLIT = r"""
WITH assigned AS (
  SELECT
    CASE WHEN ((doc_id + 1442695041) * 2654435761) % 4294967296 % 100 < 98 THEN 'train'
         WHEN ((doc_id + 1442695041) * 2654435761) % 4294967296 % 100 < 99 THEN 'val'
         ELSE 'test' END AS split,
    len(list_filter(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+'), t -> t <> '')) AS n_tok
  FROM documents
)
SELECT split, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens
FROM assigned GROUP BY split ORDER BY split
"""


def q_llm_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE end-to-end curation pipeline — every stage a training-data
    run actually executes, chained in production order and still
    oracle-checkable because each stage is deterministic closed-form:

      1. gate: quality ≥ 0.65 AND repetition keep (dup_word ≤ 0.6,
         top_bigram ≤ 0.1) — q_quality_score × q_repetition_filter;
      2. decontaminate: drop docs sharing any word-5-gram with the
         benchmark subset (and the benchmark docs themselves) — the
         long-n-gram any-hit rule used for real eval suites; the
         reporting lane q_decontaminate uses 3-grams to surface
         partial overlaps, which on this small-vocab fixture would
         flag most of the corpus;
      3. exact dedup: min-doc_id survivor per content sha —
         q_dedup_exact's survivor rule, applied as a semi-join so the
         text column never shuffles on the hash key;
      4. domain mix: α=0.5 temperature rates over the SURVIVING
         corpus's lang counts — q_domain_mix on the filtered set;
      5. split: keep the 98% train partition — q_train_split's hash;
      6. pack: 256-token concat-then-chunk windows with lineage —
         q_seq_pack's operator over what remains.

    Output: the packed training fragments (seq_id, doc_id, begin_tok,
    end_tok). Scale: stages 1–2 are narrow filters plus one broadcast
    join; stage 3 shuffles (sha, id) pairs only; 4 broadcasts a
    ≤#langs rate table; 6 is the two-phase prefix scan. The corpus
    text crosses the wire exactly once — into the packer's
    range partition."""
    from pulsar_elasticsearch_sync_rs_spark.functions.text import (
        quality_score,
        repetition_signals,
    )
    from pulsar_elasticsearch_sync_rs_spark.operators.packing import (
        pack_sequences_from_counts,
    )

    # spread the single-row-group scan BEFORE the gate: the whole
    # gate+shingle chain otherwise runs in one task (guide §2.5);
    # hash placement on doc_id keeps every downstream semi-join key
    # co-partitioned and is a no-op at production file counts
    docs = spread_scan(read_table(spark, sf_dir, "documents"), "doc_id")
    # Gate stays in EXPRESSION form: the Arrow signals twin, a
    # materialized gated frame and a skinny survivor-id semi-join
    # probe all lost to it at the 5M-doc decade (measurements in
    # SCALE.md) — each consumer re-evaluating the JVM gate off the live
    # scan is cheaper than re-crossing or re-broadcasting the corpus.
    _, dup_word_frac, top_bigram_frac = repetition_signals("text")
    # no_pushdown: Catalyst would otherwise split this conjunction and
    # push every term below the spread exchange onto the single-task
    # scan — serializing the whole gate (and re-serializing it inside
    # the decontaminate broadcast build, which re-executes the subtree).
    # Wrapped, the gate evaluates on the spread side: 32-way parallel,
    # value-identical (optimization round 15; measured 0.89 → 0.34 s on
    # the gate subchain, lane A/B in OPTIMIZATION_r15.md).
    from pulsar_elasticsearch_sync_rs_spark.operators.skew import no_pushdown

    gate_pred = no_pushdown(
        (quality_score("text") >= 0.65)
        & (dup_word_frac <= 0.6)
        & (top_bigram_frac <= 0.1)
    )
    gated = docs.filter(gate_pred)

    # decontamination as a filter: benchmark docs out, gram-hit docs
    # out. The corpus gram side shingles ONLY gate survivors — hits for
    # gate-rejected docs would be computed and then discarded by the
    # anti-join; bench grams still come from the full benchmark subset.
    # Routed through the parameterized operator (broadcast-size guard).
    from pulsar_elasticsearch_sync_rs_spark.operators.decontaminate import (
        decontaminate,
    )

    base = gated.filter(F.col("doc_id") % 97 != 0)
    # bench side off the RAW scan, not the spread frame: identical rows
    # (the %97 filter commutes with the spread exchange), but the
    # broadcast-guard aggregation and the gram-set broadcast build stop
    # paying the spread exchange's AQE stages (optimization round 16)
    bench_side = read_table(spark, sf_dir, "documents").filter(
        F.col("doc_id") % 97 == 0
    )
    clean = decontaminate(base, bench_side, n=5)

    # Stages 3–5 (dedup survivor, mix rates, split) are DECISIONS — a
    # function of (doc_id, lang, sha) only. Every one of them consumed
    # the gate+decontaminate chain, and each broadcast build of a
    # small derived table re-executed its whole subtree (the regex gate
    # + the shingle-explode contamination probe ran ~6× per call,
    # ≈45 s of executor time EACH at sf10 — SCALE.md round 8). So: run
    # the expensive chain exactly ONCE into a SKINNY eager checkpoint
    # (~24 B/survivor at any scale, never text), make every
    # decision on that. The checkpoint ALSO carries n_toks
    # (optimization round 15): the packer's fragments are a pure
    # function of the (doc_id, n_tokens) map — no fragment carries
    # text — so the old "recover surviving text by a doc_id semi-join
    # against the raw scan and re-tokenize it" final pass was a whole
    # corpus read moving 100 TB to recompute 8 B/doc the gate chain
    # already knew (guide §2.3: shuffle keys and metadata, not
    # payloads).
    keys = clean.select(
        "doc_id",
        "lang",
        F.sha2("text", 256).alias("sha"),
        token_count_ws("text").cast("bigint").alias("n_toks"),
    )

    # exact dedup: min-id survivor per sha (q_dedup_exact's rule) —
    # ONE groupBy exchange: min_by pulls the survivor's payload
    # columns through the same aggregation, replacing the old
    # groupBy + doc_id semi-join pair (two exchanges of the keys
    # frame; optimization round 15, guide §2.4). doc_id is unique, so
    # min_by ties are impossible and the rows are identical.
    #
    # The eager checkpoint sits AFTER the groupBy (optimization round
    # 15): since min_by made the groupBy the keys frame's only
    # consumer, the expensive chain still executes exactly once — on
    # the groupBy's shuffle-map side — and what materializes is the
    # even smaller post-dedup survivor set. Checkpointing BEFORE the
    # groupBy (the old shape) left the dedup exchange inside every
    # downstream plan, so the rates broadcast build and the packer's
    # range-partition sampler each re-ran it (three executions of the
    # same exchange per lane call; guide §1.3 "Exchange count").
    surv_agg = (
        keys.groupBy("sha")
        .agg(
            F.min("doc_id").alias("doc_id"),
            F.min_by("lang", "doc_id").alias("lang"),
            F.min_by("n_toks", "doc_id").alias("n_toks"),
        )
        .select("doc_id", "lang", "n_toks")
    )

    # Fuse the survivor checkpoint with the packer's range partition:
    # the checkpoint is written ALREADY range-partitioned by doc_id, so
    # the prefix scan downstream needs NO exchange and NO second
    # materialization of the 16 B/doc stream (exclusive_prefix_sum's
    # assume_range_partitioned contract; every step between checkpoint
    # and scan — map lookup, filters, project — is narrow, and a subset
    # of a range partition stays in its range). The range sampler runs
    # against the groupBy's shuffle output, so the expensive
    # gate/decontaminate chain still executes exactly once (its shuffle
    # files are reused across the sampling job and the checkpoint job).
    n_part = batch_partitions(spark)
    surv_keys = surv_agg.repartitionByRange(n_part, "doc_id").localCheckpoint(
        eager=True
    )

    # domain mix over the surviving corpus — SAME rate formula as
    # q_domain_mix (temperature_rates: round(sqrt(c_min / c), 6)), so
    # the composite can never drift from the lane. The ≤#langs rate
    # table is COLLECTED once (the interleave-offsets collect
    # discipline) and applied as a literal map lookup. Optimization
    # round 16: collect the INTEGER lang counts only (one plain
    # groupBy — 2 AQE stage jobs) instead of the full
    # temperature_rates frame (its one-row-min cross join added two
    # more AQE stage jobs per call), and build each rate as a SPARK
    # round(sqrt(lit/lit)) expression — Catalyst constant-folds it
    # with the same Java sqrt/HALF_UP round the broadcast-join shape
    # evaluated per row, so the values are bit-identical (pinned
    # against temperature_rates in tests/test_extra_oracles.py's
    # pipeline oracle hash).
    lang_rows = (
        surv_keys.filter(F.col("lang").isNotNull())
        .groupBy("lang")
        .agg(F.count(F.lit(1)).alias("c"))
        .collect()
    )
    if lang_rows:
        c_min = min(int(r["c"]) for r in lang_rows)
        rate_lit = F.create_map(
            *[
                e
                for r in lang_rows
                for e in (
                    F.lit(r["lang"]),
                    F.round(
                        F.sqrt(
                            F.lit(c_min).cast("double")
                            / F.lit(int(r["c"])).cast("double")
                        ),
                        6,
                    ),
                )
            ]
        )
        rate_col = rate_lit[F.col("lang")]
    else:
        # empty corpus / all-NULL langs: the inner join would keep
        # nothing — same here
        rate_col = F.lit(None).cast("double")
    mixed = (
        surv_keys.withColumn("rate", rate_col)
        # inner-join semantics: lang must appear in the rate table
        # (drops NULL-lang rows exactly like the join did)
        .filter(F.col("rate").isNotNull())
        .filter(mix_keep_predicate())
        # train split (98%) — q_train_split's SALTED stream
        # (independent of the mix stream; see TRAIN_SPLIT_SALT)
        .filter(knuth_u32("doc_id", TRAIN_SPLIT_SALT) % F.lit(100) < 98)
        .select("doc_id", "n_toks")
    )

    return pack_sequences_from_counts(
        mixed, seq_len=256, assume_range_partitioned=True
    )


ORACLE_LLM_PIPELINE = r"""
WITH toks AS (
  SELECT doc_id, text, lang,
    list_filter(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+'), t -> t <> '') AS t,
    list_filter(string_split_regex(trim(lower(text)), '[ \t\n\x0B\f\r]+'), t -> t <> '') AS tl
  FROM documents
), feat AS (
  SELECT doc_id,
    CAST(len(t) AS DOUBLE) AS n_tok,
    CASE WHEN len(t) > 0
         THEN CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE) / len(t)
         ELSE 0.0 END AS mean_wlen,
    CASE WHEN length(text) > 0
         THEN CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE) / length(text)
         ELSE 0.0 END AS punct_ratio,
    CASE WHEN len(tl) > 0
         THEN CAST(len(list_filter(tl, x -> list_contains(['the','and','of','to','a','in','is','it'], x))) AS DOUBLE) / len(tl)
         ELSE 0.0 END AS sw_ratio
  FROM toks
), qual AS (
  SELECT doc_id,
    round(least(n_tok / 50.0, 1.0) * 0.3
      + (CASE WHEN mean_wlen >= 3 AND mean_wlen <= 10 THEN 1.0 ELSE 0.5 END) * 0.2
      + (1.0 - least(punct_ratio * 5, 1.0)) * 0.25
      + least(sw_ratio * 4, 1.0) * 0.25, 6) AS quality
  FROM feat
), rep AS (
  SELECT tk.doc_id,
    round(CASE WHEN len(tk.tl) > 0
      THEN 1 - CAST(len(list_distinct(tk.tl)) AS DOUBLE) / len(tk.tl) ELSE 0.0 END, 6) AS dup_word_frac,
    round(CASE WHEN len(tk.tl) >= 2
      THEN CAST(COALESCE(tb.top_c, 0) AS DOUBLE) / (len(tk.tl) - 1) ELSE 0.0 END, 6) AS top_bigram_frac
  FROM toks tk LEFT JOIN (
    SELECT doc_id, max(c) AS top_c FROM (
      SELECT doc_id, g, count(*) AS c FROM (
        SELECT doc_id,
          unnest(list_transform(generate_series(1, len(tl) - 1), i -> tl[i] || ' ' || tl[i+1])) AS g
        FROM toks WHERE len(tl) >= 2
      ) GROUP BY doc_id, g
    ) GROUP BY doc_id
  ) tb ON tk.doc_id = tb.doc_id
), sh AS (
  SELECT doc_id,
    list_distinct(CASE WHEN len(t) >= 5
      THEN list_transform(generate_series(1, len(t) - 4),
        i -> t[i] || ' ' || t[i+1] || ' ' || t[i+2] || ' ' || t[i+3] || ' ' || t[i+4])
      ELSE [] END) AS s
  FROM toks
), bench AS (
  SELECT DISTINCT unnest(s) AS g FROM sh WHERE doc_id % 97 = 0
), hits AS (
  SELECT DISTINCT doc_id FROM (
    SELECT doc_id, unnest(s) AS g FROM sh WHERE doc_id % 97 <> 0
  ) WHERE g IN (SELECT g FROM bench)
), gated AS (
  SELECT d.doc_id, d.text, d.lang
  FROM documents d
  JOIN qual q ON d.doc_id = q.doc_id
  JOIN rep r ON d.doc_id = r.doc_id
  WHERE q.quality >= 0.65 AND r.dup_word_frac <= 0.6 AND r.top_bigram_frac <= 0.1
    AND d.doc_id % 97 <> 0 AND d.doc_id NOT IN (SELECT doc_id FROM hits)
), surv AS (
  SELECT min(doc_id) AS doc_id FROM gated GROUP BY sha256(text)
), deduped AS (
  SELECT g.* FROM gated g WHERE g.doc_id IN (SELECT doc_id FROM surv)
), counts AS (
  SELECT lang, count(*) AS c FROM deduped WHERE lang IS NOT NULL GROUP BY lang
), rates AS (
  SELECT lang,
    round(sqrt(CAST((SELECT min(c) FROM counts) AS DOUBLE) / CAST(c AS DOUBLE)), 6) AS rate
  FROM counts
), mixed AS (
  SELECT d.doc_id, d.text FROM deduped d JOIN rates r USING (lang)
  WHERE (d.doc_id * 2654435761) % 4294967296 < CAST(floor(r.rate * 4294967296.0) AS BIGINT)
), train AS (
  SELECT doc_id, text FROM mixed
  WHERE ((doc_id + 1442695041) * 2654435761) % 4294967296 % 100 < 98
), ptoks AS (
  SELECT doc_id,
    CAST(len(list_filter(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+'), t -> t <> '')) AS BIGINT) AS n_toks
  FROM train
), offs AS (
  SELECT doc_id, n_toks,
    CAST(COALESCE(sum(n_toks) OVER (ORDER BY doc_id ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS BIGINT) AS start_off
  FROM ptoks
), frags AS (
  SELECT doc_id, n_toks, start_off,
    unnest(range(start_off // 256, (start_off + n_toks - 1) // 256 + 1)) AS seq_id
  FROM offs WHERE n_toks > 0
)
SELECT CAST(seq_id AS BIGINT) AS seq_id, doc_id,
  CAST(greatest(0, seq_id * 256 - start_off) AS BIGINT) AS begin_tok,
  CAST(least(n_toks, (seq_id + 1) * 256 - start_off) AS BIGINT) AS end_tok
FROM frags
"""


def q_unigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram language-model scoring — the perplexity-filter proxy
    (CCNet-style: score each document by its mean token log-probability
    under a model trained on the corpus itself; low scores = gibberish
    or vocabulary outliers, high = repetitive boilerplate). The unigram
    LM is closed-form — p(t) = count(t)/total — so unlike a real KenLM
    pass the whole lane is two aggregations and oracle-checkable.

    Scale shape: one (term) partial-agg builds the LM (vocab ≪ corpus;
    Catalyst picks broadcast vs shuffle join by its size), one join
    scores the exploded token stream, one (doc_id) partial-agg
    averages. The corpus-total scalar rides a broadcast cross join of
    the one-row sum — nothing unpartitioned, nothing collected."""
    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select("doc_id", F.explode(ws_tokens(F.lower("text"))).alias("term"))
    tf = toks.groupBy("term").agg(F.count("*").alias("c"))
    total = tf.agg(F.sum("c").alias("total"))
    lm = tf.crossJoin(F.broadcast(total)).select(
        "term", F.log(F.col("c").cast("double") / F.col("total").cast("double")).alias("lp")
    )
    return (
        toks.join(lm, "term")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_toks"),
            # order-independent mean (round-8 oracle rule; see
            # q_resample_ffill): exact decimal sum of the addends,
            # one division
            F.round(
                F.sum(F.col("lp").cast("decimal(30,12)")).cast("double")
                / F.count("lp"),
                6,
            ).alias("mean_logprob"),
        )
    )


ORACLE_UNIGRAM_LOGPROB = r"""
WITH toks AS (
  SELECT doc_id,
    unnest(list_filter(string_split_regex(trim(lower(text)), '[ \t\n\x0B\f\r]+'), t -> t <> '')) AS term
  FROM documents
), tf AS (
  SELECT term, count(*) AS c FROM toks GROUP BY term
), lm AS (
  SELECT term, ln(CAST(c AS DOUBLE) / (SELECT CAST(CAST(sum(c) AS VARCHAR) AS DOUBLE) FROM tf)) AS lp FROM tf
)
SELECT t.doc_id, count(*) AS n_toks,
  round(CAST(CAST(sum(CAST(l.lp AS DECIMAL(30,12))) AS VARCHAR) AS DOUBLE) / count(l.lp), 6) AS mean_logprob
FROM toks t JOIN lm l USING (term)
GROUP BY t.doc_id ORDER BY t.doc_id
"""


def q_data_card(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The data-card summary every corpus release ships: per language —
    document and token counts, mean quality, median document length,
    and how many docs are exact duplicates of another. One narrow
    scoring projection, one (lang) partial-agg; the exact median uses
    the same ``percentile`` ≡ ``quantile_cont`` parity as q_quantiles;
    the dup count shuffles (sha, lang) pairs only."""
    from pulsar_elasticsearch_sync_rs_spark.functions.text import quality_score

    docs = read_table(spark, sf_dir, "documents")
    per_doc = docs.select(
        "lang",
        token_count_ws("text").cast("bigint").alias("n_tok"),
        quality_score("text").alias("q"),
        F.sha2("text", 256).alias("sha"),
    )
    return per_doc.groupBy("lang").agg(
        F.count("*").alias("n_docs"),
        F.sum("n_tok").alias("n_tokens"),
        # order-independent mean (round-8 oracle rule)
        F.round(
            F.sum(F.col("q").cast("decimal(30,12)")).cast("double")
            / F.count("q"),
            6,
        ).alias("mean_quality"),
        F.round(F.expr("percentile(n_tok, 0.5)"), 6).alias("p50_tokens"),
        (F.count("*") - F.countDistinct("sha")).alias("n_dup_docs"),
    )


ORACLE_DATA_CARD = r"""
WITH toks AS (
  SELECT doc_id, text, lang,
    list_filter(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+'), t -> t <> '') AS t,
    list_filter(string_split_regex(trim(lower(text)), '[ \t\n\x0B\f\r]+'), t -> t <> '') AS tl
  FROM documents
), feat AS (
  SELECT doc_id, lang, CAST(len(t) AS BIGINT) AS n_tok, sha256(text) AS sha,
    CAST(len(t) AS DOUBLE) AS n_tok_d,
    CASE WHEN len(t) > 0
         THEN CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE) / len(t)
         ELSE 0.0 END AS mean_wlen,
    CASE WHEN length(text) > 0
         THEN CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE) / length(text)
         ELSE 0.0 END AS punct_ratio,
    CASE WHEN len(tl) > 0
         THEN CAST(len(list_filter(tl, x -> list_contains(['the','and','of','to','a','in','is','it'], x))) AS DOUBLE) / len(tl)
         ELSE 0.0 END AS sw_ratio
  FROM toks
), per_doc AS (
  SELECT lang, n_tok, sha,
    round(least(n_tok_d / 50.0, 1.0) * 0.3
      + (CASE WHEN mean_wlen >= 3 AND mean_wlen <= 10 THEN 1.0 ELSE 0.5 END) * 0.2
      + (1.0 - least(punct_ratio * 5, 1.0)) * 0.25
      + least(sw_ratio * 4, 1.0) * 0.25, 6) AS q
  FROM feat
)
SELECT lang, count(*) AS n_docs, CAST(sum(n_tok) AS BIGINT) AS n_tokens,
  round(CAST(CAST(sum(CAST(q AS DECIMAL(30,12))) AS VARCHAR) AS DOUBLE) / count(q), 6) AS mean_quality,
  round(quantile_cont(n_tok, 0.5), 6) AS p50_tokens,
  CAST(count(*) - count(DISTINCT sha) AS BIGINT) AS n_dup_docs
FROM per_doc GROUP BY lang ORDER BY lang
"""


def q_repeated_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Repeated-substring detection — the memorization-removal
    primitive (Lee et al. 2021, "Deduplicating Training Data Makes
    Language Models Better", public): find every MAXIMAL token span
    covered by 20-grams that occur ≥2 times anywhere in the corpus
    (the spans substring-dedup would cut). A distributed suffix array
    is the exact tool; the fixed-k positional-gram formulation is its
    bounded, fully-relational equivalent.

    Plan: positional 20-grams via the zip_with slice chain (narrow),
    md5 the gram so the repeat-count shuffle moves 32-hex keys instead
    of 20-token strings, count ≥2, semi-join back, and collapse hits
    into maximal spans with the lag/cumulative-sum islands window: a
    NEW island starts only when the gap to the previous hit exceeds the
    gram length (hit intervals [p, p+20) that overlap or abut merge —
    consecutive-position islands alone would emit overlapping,
    non-maximal spans for hits 2 apart). One (doc_id) window shuffle."""
    from pulsar_elasticsearch_sync_rs_spark.functions.text import (
        kgrams_from_tokens,
        ws_tokens,
    )

    # repartition BEFORE the gram projection: the k=20 zip chain is an
    # interpreted HOF and the fixture is a single parquet file — without
    # the exchange the whole corpus grams in one task (measured 10.5 s
    # → ~1 s at sf0.1 on local[32]); projections don't migrate above an
    # exchange on their own, so the order matters
    docs = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
    )
    # tokenize ONCE into an attribute before the 20-slice zip chain:
    # fed the raw expression, Catalyst inlines the whitespace split
    # into all k+2 token references — 41 splits per row (round-15
    # plan audit); CollapseProject keeps the pre-projected column
    # separate, so this costs one split per row
    grams = (
        docs.select("doc_id", ws_tokens("text").alias("__toks"))
        .select(
            "doc_id", F.posexplode(kgrams_from_tokens("__toks", 20)).alias("pos", "g")
        )
        .select("doc_id", "pos", F.md5("g").alias("gh"))
    )
    repeated = grams.groupBy("gh").agg(F.count("*").alias("c")).filter(F.col("c") >= 2)
    occ = grams.join(repeated.select("gh"), "gh", "left_semi").select("doc_id", "pos")
    w = Window.partitionBy("doc_id").orderBy("pos")
    # first row: lag is NULL -> condition NULL -> otherwise(0); the
    # cumulative sum then starts island 0 there
    new_island = F.when(F.col("pos") - F.lag("pos", 1).over(w) > 20, 1).otherwise(0)
    islands = occ.withColumn(
        "grp",
        F.sum(new_island).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    return (
        islands.groupBy("doc_id", "grp")
        .agg(
            F.min("pos").cast("bigint").alias("begin_tok"),
            (F.max("pos") + 20).cast("bigint").alias("end_tok"),
        )
        .drop("grp")
        .select("doc_id", "begin_tok", "end_tok")
    )


ORACLE_REPEATED_SPANS = r"""
WITH toks AS (
  SELECT doc_id,
    list_filter(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+'), t -> t <> '') AS t
  FROM documents
), grams AS (
  SELECT doc_id, i - 1 AS pos, md5(array_to_string(t[i:i+19], ' ')) AS gh
  FROM toks, unnest(generate_series(1, len(t) - 19)) AS u(i)
  WHERE len(t) >= 20
), rep AS (
  SELECT gh FROM grams GROUP BY gh HAVING count(*) >= 2
), occ AS (
  SELECT doc_id, pos FROM grams WHERE gh IN (SELECT gh FROM rep)
), flagged AS (
  SELECT doc_id, pos,
    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 20
         THEN 1 ELSE 0 END AS ni
  FROM occ
), islands AS (
  SELECT doc_id, pos,
    sum(ni) OVER (PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
  FROM flagged
)
SELECT doc_id, CAST(min(pos) AS BIGINT) AS begin_tok,
  CAST(max(pos) + 20 AS BIGINT) AS end_tok
FROM islands GROUP BY doc_id, grp ORDER BY doc_id, begin_tok
"""


def q_heavy_hitters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heavy hitters via count-min sketch — the sketch lane beside the
    exact q_vocab_topk, same division of labor as q_approx_quantiles vs
    q_quantiles: at 100 TB the exact vocabulary groupBy shuffles one
    partial per distinct token per partition, while the sketch's
    aggregation state is a FIXED 4×1024 cell grid (operators/
    sketches.py) whose wire cost is O(partitions · d · w) no matter how
    large the vocabulary grows. Output: the exact top-20 tokens with
    their true count, sketch estimate, and overcount — making the
    sketch's one-sided error VISIBLE (est_n >= n always; bound pinned
    by pytest, not prose). Deterministic (seeded xxhash64, no RNG) but
    xxhash64 has no DuckDB twin, so this is a rows-only lane."""
    from pulsar_elasticsearch_sync_rs_spark.operators.sketches import (
        cms_estimate,
        count_min_sketch,
    )

    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(F.explode(ws_tokens(F.lower(F.col("text")))).alias("token"))
    cms = count_min_sketch(toks, "token", d=4, w=1024)
    top = (
        toks.groupBy("token")
        .agg(F.count("*").alias("n"))
        .orderBy(F.col("n").desc(), F.col("token").asc())
        .limit(20)
    )
    est = cms_estimate(cms, top, "token")
    return est.select(
        "token", "n", "est_n", (F.col("est_n") - F.col("n")).alias("overcount")
    ).orderBy(F.col("n").desc(), F.col("token").asc())


def q_media_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL compressed-image decode (the fourth codec, and the first
    COMPRESSED one): synthesize a deterministic 8-bit truecolor PNG
    per document — rows encoded with rotating scanline filters — then
    decode via the pure-stdlib chunk-walk + CRC-verify + zlib-inflate
    + filter-reconstruction parser (operators.multimodal.parse_png)
    through Arrow-batched ``mapInPandas``. Decoded stats have closed
    forms even though the byte stream is DEFLATE-compressed, so the
    lane stays fully oracle hash-checked."""
    from pulsar_elasticsearch_sync_rs_spark.operators.multimodal import (
        decode_png_features,
        synthesize_png_corpus,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    pngs = synthesize_png_corpus(docs, id_col="doc_id")
    return decode_png_features(pngs).select(
        "media_id",
        "width",
        "height",
        "n_pixels",
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
    )


# closed-form twin of synthesize_png_corpus + parse_png: w = 3+id%6,
# h = 2+id%4, solid RGB — compression cancels out of the statistics.
ORACLE_MEDIA_PNG = """
SELECT doc_id AS media_id,
  CAST(3 + doc_id % 6 AS INT) AS width,
  CAST(2 + doc_id % 4 AS INT) AS height,
  CAST((3 + doc_id % 6) * (2 + doc_id % 4) AS BIGINT) AS n_pixels,
  CAST(doc_id % 256 AS DOUBLE) AS mean_r,
  CAST((5 * doc_id) % 256 AS DOUBLE) AS mean_g,
  CAST((11 * doc_id) % 256 AS DOUBLE) AS mean_b
FROM documents
"""


def q_media_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL lossy-codec decode (the fifth codec — the one production
    image corpora actually use): synthesize a deterministic baseline
    sequential GRAYSCALE JPEG per document (non-multiple-of-8 dims, so
    MCU padding/cropping is exercised), then decode via the full
    T.81 path — marker walk, canonical Huffman decode with stuffing
    removal, dequantize + inverse zigzag + IDCT, crop — through
    Arrow-batched ``mapInPandas`` (operators.multimodal.parse_jpeg).
    Solid blocks carry only a DC coefficient and the quant table's DC
    step is 8, so these images round-trip LOSSLESSLY through the lossy
    codec and the lane stays fully oracle hash-checked; the general AC
    path is pinned separately in pytest against an independent
    quantize→dequantize→IDCT reference."""
    from pulsar_elasticsearch_sync_rs_spark.operators.multimodal import (
        decode_jpeg_features,
        synthesize_jpeg_corpus,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    jpgs = synthesize_jpeg_corpus(docs, id_col="doc_id")
    return decode_jpeg_features(jpgs).select(
        "media_id",
        "width",
        "height",
        "n_pixels",
        F.round("mean_luma", 6).alias("mean_luma"),
    )


# closed-form twin of synthesize_jpeg_corpus + parse_jpeg: w = 5+id%13,
# h = 3+id%10, solid luma — DC-exact quantization cancels the codec.
ORACLE_MEDIA_JPEG = """
SELECT doc_id AS media_id,
  CAST(5 + doc_id % 13 AS INT) AS width,
  CAST(3 + doc_id % 10 AS INT) AS height,
  CAST((5 + doc_id % 13) * (3 + doc_id % 10) AS BIGINT) AS n_pixels,
  CAST((7 * doc_id + 13) % 256 AS DOUBLE) AS mean_luma
FROM documents
"""


def q_media_jpeg_color(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The PRODUCTION-shaped JPEG decode lane: per document a solid
    COLOR baseline JPEG whose chroma sampling cycles 4:4:4 / 4:2:2 /
    4:2:0 (id%3) with a restart interval of id%4 MCUs — the structure
    real camera/web encoders emit (4:2:0 + DRI dominates real corpora),
    decoded through the full T.81 path: MCU interleave with sampling
    factors, RSTn resync with DC-predictor resets, replication chroma
    upsample (T.871), BT.601 YCbCr→RGB. Solid planes are DC-exact and
    replication copies exact samples, so every per-channel mean keeps a
    closed form and the lane is fully hash-checked — subsampling and
    restarts included (reference parity note: the reference pipeline
    treats payloads as opaque bytes; this lane is part of the
    driver-mandated multimodal surface, not a reference port)."""
    from pulsar_elasticsearch_sync_rs_spark.operators.multimodal import (
        decode_jpeg_color_features,
        synthesize_jpeg_color_corpus,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    jpgs = synthesize_jpeg_color_corpus(docs, id_col="doc_id")
    return decode_jpeg_color_features(jpgs).select(
        "media_id",
        "width",
        "height",
        "n_pixels",
        "n_components",
        F.round("mean_luma", 6).alias("mean_luma"),
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
    )


# closed-form twin of synthesize_jpeg_color_corpus + parse_jpeg: solid
# Y/Cb/Cr = (id%256, (3id+7)%256, (5id+11)%256) survive subsampling +
# restarts exactly (DC-exact blocks, replication upsample), so only the
# decoder's integer inverse transform appears here: round then clamp,
# per T.871 BT.601. The two id classes whose pre-clamp value lands on
# an exact .5 (ids≡82,84 mod 256 → 303.5 / −137.5) clamp to 255/0 under
# either rounding convention, so DuckDB's half-away ROUND matches
# numpy's banker's rint on every value this corpus can produce
# (exhaustively checked over the full 256-tuple cycle).
ORACLE_MEDIA_JPEG_COLOR = """
SELECT doc_id AS media_id,
  CAST(6 + doc_id % 11 AS INT) AS width,
  CAST(4 + doc_id % 9 AS INT) AS height,
  CAST((6 + doc_id % 11) * (4 + doc_id % 9) AS BIGINT) AS n_pixels,
  CAST(3 AS INT) AS n_components,
  CAST(doc_id % 256 AS DOUBLE) AS mean_luma,
  LEAST(255.0, GREATEST(0.0, ROUND(
    (doc_id % 256) + 1.402 * ((5 * doc_id + 11) % 256 - 128.0)))) AS mean_r,
  LEAST(255.0, GREATEST(0.0, ROUND(
    (doc_id % 256) - 0.344136 * ((3 * doc_id + 7) % 256 - 128.0)
                   - 0.714136 * ((5 * doc_id + 11) % 256 - 128.0)))) AS mean_g,
  LEAST(255.0, GREATEST(0.0, ROUND(
    (doc_id % 256) + 1.772 * ((3 * doc_id + 7) % 256 - 128.0)))) AS mean_b
FROM documents
"""


def q_media_jpeg_prog(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PROGRESSIVE (SOF2) JPEG decode lane — closes the round-9 gap
    ("progressive scans, common on the web, raise unsupported"): per
    document a solid-color progressive JPEG with the full successive-
    approximation scan script (interleaved DC first at Al=1, DC
    refinement, per-component spectral-band AC first + AC refinement,
    EOB-run batching, ZRL, per-scan restart intervals), chroma sampling
    cycling 4:4:4 / 4:2:2 / 4:2:0 and DRI id%3. Decoded through
    operators/multimodal.parse_jpeg's multi-scan coefficient
    accumulation; solid planes stay DC-exact through the two-step DC
    progression, so every per-channel mean keeps a closed form and the
    lane is fully hash-checked. The general (AC) progressive path is
    pinned bit-identical to the baseline decode in
    tests/test_corpus_io.py."""
    from pulsar_elasticsearch_sync_rs_spark.operators.multimodal import (
        decode_jpeg_color_features,
        synthesize_jpeg_prog_corpus,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    jpgs = synthesize_jpeg_prog_corpus(docs, id_col="doc_id")
    return decode_jpeg_color_features(jpgs).select(
        "media_id",
        "width",
        "height",
        "n_pixels",
        "n_components",
        F.round("mean_luma", 6).alias("mean_luma"),
        F.round("mean_r", 6).alias("mean_r"),
        F.round("mean_g", 6).alias("mean_g"),
        F.round("mean_b", 6).alias("mean_b"),
    )


# closed-form twin of synthesize_jpeg_prog_corpus + parse_jpeg: solid
# Y/Cb/Cr = ((2id+5)%256, (7id+3)%256, (11id+17)%256) survive the
# successive-approximation progression exactly (DC first + refine
# reassemble the exact quantized DC; zero ACs stay zero through the
# band scans), so only the decoder's integer inverse transform appears
# here. Rounding-tie safety (numpy banker's rint vs DuckDB half-away
# ROUND) exhaustively checked over the full color cycle — no pre-clamp
# value lands on a live .5 tie.
ORACLE_MEDIA_JPEG_PROG = """
SELECT doc_id AS media_id,
  CAST(7 + doc_id % 10 AS INT) AS width,
  CAST(5 + doc_id % 8 AS INT) AS height,
  CAST((7 + doc_id % 10) * (5 + doc_id % 8) AS BIGINT) AS n_pixels,
  CAST(3 AS INT) AS n_components,
  CAST((2 * doc_id + 5) % 256 AS DOUBLE) AS mean_luma,
  LEAST(255.0, GREATEST(0.0, ROUND(
    ((2 * doc_id + 5) % 256) + 1.402 * ((11 * doc_id + 17) % 256 - 128.0)))) AS mean_r,
  LEAST(255.0, GREATEST(0.0, ROUND(
    ((2 * doc_id + 5) % 256) - 0.344136 * ((7 * doc_id + 3) % 256 - 128.0)
                             - 0.714136 * ((11 * doc_id + 17) % 256 - 128.0)))) AS mean_g,
  LEAST(255.0, GREATEST(0.0, ROUND(
    ((2 * doc_id + 5) % 256) + 1.772 * ((7 * doc_id + 3) % 256 - 128.0)))) AS mean_b
FROM documents
"""


def q_compress_ratio(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Compression-ratio quality signal — the cheap universal
    boilerplate/noise detector real curation pipelines run: docs whose
    text DEFLATEs far below the corpus norm are repetitive template
    boilerplate; high-ratio docs are high-entropy noise (random identifiers, base64
    blobs — printable-ASCII noise plateaus near 6/8 = 0.75, hence the
    0.7 cut). ratio = deflate_len / raw_len per doc, summarized
    per language with the corpus's low/high cut counts.

    Spark shape: one Arrow-batched ``mapInPandas`` pass (stdlib zlib
    over each batch — per-row narrow, zero shuffle) then a tiny
    per-lang aggregate. zlib output has no closed form, so this is a
    rows-only lane pinned by ordering properties in pytest
    (repetitive ≪ natural < random within the same length)."""
    import zlib

    import pandas as pd
    from pyspark.sql import types as T

    def score(batches):
        for pdf in batches:
            raw = pdf["text"].fillna("").str.encode("utf-8")
            yield pd.DataFrame(
                {
                    "doc_id": pdf["doc_id"],
                    "lang": pdf["lang"],
                    "ratio": [
                        (len(zlib.compress(b, 6)) / len(b)) if len(b) else 1.0
                        for b in raw
                    ],
                }
            )

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType(), False),
            T.StructField("lang", T.StringType(), True),
            T.StructField("ratio", T.DoubleType(), False),
        ]
    )
    scored = docs.mapInPandas(score, schema)
    return (
        scored.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.round(F.avg("ratio"), 4).alias("mean_ratio"),
            F.sum((F.col("ratio") < 0.3).cast("bigint")).alias("n_boilerplate_like"),
            F.sum((F.col("ratio") > 0.7).cast("bigint")).alias("n_noise_like"),
        )
        .orderBy("lang")
    )


def q_bpe_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL BPE token accounting (functions/bpe.py): learn 64 merges
    from the corpus's own bounded word-frequency head (deterministic —
    greedy count-then-lex ordering, no RNG), apply them exactly
    corpus-wide in one Arrow pass, and report per-language BPE vs
    whitespace token totals. This is the granularity sequence packing
    bills at when a trained tokenizer is in play; rank-greedy merge
    application is iterative per word, so the lane is rows-only
    (pinned by a canonical-example + Spark≡reference pytest)."""
    from pulsar_elasticsearch_sync_rs_spark.functions.bpe import (
        bpe_token_count,
        learn_merges_from_corpus,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    merges = learn_merges_from_corpus(docs, n_merges=64)
    # ONE Arrow pass emits both counts from the same split (no join,
    # no second text scan, no tokenizer mismatch)
    counts = bpe_token_count(docs.select("doc_id", "lang", "text"), merges, id_col="doc_id")
    counted = docs.select("doc_id", "lang").join(counts, "doc_id")
    return (
        counted.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_bpe_tokens").alias("total_bpe_tokens"),
            F.sum("n_ws_tokens").alias("total_ws_tokens"),
            F.round(
                F.sum("n_bpe_tokens") / F.sum("n_ws_tokens"), 4
            ).alias("bpe_per_word"),
        )
        .orderBy("lang")
    )


def q_token_budget(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-budgeted corpus selection (round 6) — the "fill N tokens
    per language, best documents first" pass every fixed-size
    pre-training run executes (data-mixing recipes are specified in
    tokens, not documents; public knowledge — e.g. the Chinchilla /
    LLaMA data-card token accounting): per language, rank documents by
    the heuristic quality score (ties → doc_id), then keep the prefix
    whose running token total fits the per-language budget.

    Scale shape: one scan computes (n_toks, quality) narrowly; the
    only wide operation is the per-lang cumulative-sum window — a
    single shuffle on lang, ~|langs| partitions; the take-while is a
    filter on the running sum (monotone because n_toks ≥ 0, so
    `cum ≤ budget` IS the greedy prefix). Document text never moves:
    the window carries (doc_id, lang, n_toks, quality) only. At a real
    key count the window key is (lang) with millions of rows per lang
    — still one shuffle, and AQE splits skewed languages."""
    from pulsar_elasticsearch_sync_rs_spark.functions.text import quality_score

    budget = 1000  # tokens per language, fixture-sized
    docs = read_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "lang",
        token_count_ws("text").cast("bigint").alias("n_toks"),
        quality_score("text").alias("quality"),
    )
    w = (
        Window.partitionBy("lang")
        .orderBy(F.col("quality").desc(), F.col("doc_id").asc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        scored.withColumn("cum_toks", F.sum("n_toks").over(w))
        .filter(F.col("cum_toks") <= budget)
        .select("doc_id", "lang", "n_toks", "quality", "cum_toks")
    )


ORACLE_TOKEN_BUDGET = r"""
WITH toks AS (
  SELECT doc_id, lang, text,
    list_filter(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+'), t -> t <> '') AS t,
    list_filter(string_split_regex(trim(lower(text)), '[ \t\n\x0B\f\r]+'), t -> t <> '') AS tl
  FROM documents
), feat AS (
  SELECT doc_id, lang,
    CAST(len(t) AS BIGINT) AS n_toks,
    CAST(len(t) AS DOUBLE) AS n_tok,
    CASE WHEN len(t) > 0
         THEN CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE) / len(t)
         ELSE 0.0 END AS mean_wlen,
    CASE WHEN length(text) > 0
         THEN CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE) / length(text)
         ELSE 0.0 END AS punct_ratio,
    CASE WHEN len(tl) > 0
         THEN CAST(len(list_filter(tl, x -> list_contains(['the','and','of','to','a','in','is','it'], x))) AS DOUBLE) / len(tl)
         ELSE 0.0 END AS sw_ratio
  FROM toks
), scored AS (
  SELECT doc_id, lang, n_toks,
    round(
      least(n_tok / 50.0, 1.0) * 0.3
      + (CASE WHEN mean_wlen >= 3 AND mean_wlen <= 10 THEN 1.0 ELSE 0.5 END) * 0.2
      + (1.0 - least(punct_ratio * 5, 1.0)) * 0.25
      + least(sw_ratio * 4, 1.0) * 0.25, 6) AS quality
  FROM feat
), cum AS (
  SELECT *, sum(n_toks) OVER (
      PARTITION BY lang ORDER BY quality DESC, doc_id ASC
      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum_toks
  FROM scored
)
SELECT doc_id, lang, n_toks, quality, cum_toks
FROM cum WHERE cum_toks <= 1000
ORDER BY lang, cum_toks
"""


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic dedup (round 6) — SemDeDup-style (Abbas et al. 2023,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication", public literature): documents whose EMBEDDINGS are
    near-identical (cosine ≥ the duplicate threshold; 0.35 on this
    unstructured random fixture, where the within-label max is ~0.45 —
    production uses ~0.95 on real encoder output) are semantic duplicates even when
    their text n-grams differ; keep one representative per transitive
    duplicate group. Output: one row per SURVIVING vector with its
    cluster size (singletons: size 1).

    The oracle-able lane blocks pairs by label (the fixture's stand-in
    for SemDeDup's k-means cluster assignment — the paper also
    compares only within clusters; the scale path swaps the label for
    an IVF cell from operators/ivf.py, same join shape). Edges are
    exact within-block cosine; components run as the iterative
    large-star/small-star contraction; survivor = min vec_id. Shuffle
    budget: the pair join moves (label, id, vector) within blocks; the
    component iterations move (long, long) edges only; the final agg
    groups ≤|vectors| (cluster, id) rows."""
    from pulsar_elasticsearch_sync_rs_spark.operators.components import dedup_clusters

    emb = read_table(spark, sf_dir, "embeddings")
    a, b = emb.alias("a"), emb.alias("b")
    # cosine_once: threshold filter on the UDF output — one Arrow pass
    sim = cosine_once(F.col("a.embedding"), F.col("b.embedding"))
    pairs = (
        a.join(
            b,
            (F.col("a.label") == F.col("b.label"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("id_a"),
            F.col("b.vec_id").alias("id_b"),
            F.round(sim, 6).alias("cosine_sim"),
        )
        .filter(F.col("cosine_sim") >= 0.35)
    )
    clustered = dedup_clusters(emb, pairs, id_col="vec_id")
    return (
        clustered.groupBy("cluster")
        .agg(
            F.min("vec_id").alias("vec_id"),
            F.count("*").cast("bigint").alias("cluster_size"),
        )
        .select("vec_id", "cluster_size")
    )


ORACLE_SEMANTIC_DEDUP = r"""
WITH RECURSIVE edges AS (
  SELECT a.vec_id AS id_a, b.vec_id AS id_b
  FROM embeddings a JOIN embeddings b
    ON a.label = b.label AND a.vec_id < b.vec_id
  WHERE round(
      list_sum(list_transform(generate_series(1, len(a.embedding)),
        i -> CAST(a.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE)))
      / (sqrt(list_sum(list_transform(generate_series(1, len(a.embedding)),
           i -> CAST(a.embedding[i] AS DOUBLE) * CAST(a.embedding[i] AS DOUBLE))))
         * sqrt(list_sum(list_transform(generate_series(1, len(b.embedding)),
           i -> CAST(b.embedding[i] AS DOUBLE) * CAST(b.embedding[i] AS DOUBLE))))), 6)
      >= 0.35
), sym AS (
  SELECT id_a AS u, id_b AS v FROM edges
  UNION
  SELECT id_b, id_a FROM edges
), reach(u, v) AS (
  SELECT u, v FROM sym
  UNION
  SELECT r.u, s.v FROM reach r JOIN sym s ON r.v = s.u WHERE r.u <> s.v
), comp AS (
  SELECT u AS id, least(u, min(v)) AS cluster FROM reach GROUP BY u
), clustered AS (
  SELECT e.vec_id, CAST(coalesce(c.cluster, e.vec_id) AS BIGINT) AS cluster
  FROM embeddings e LEFT JOIN comp c ON e.vec_id = c.id
)
SELECT CAST(min(vec_id) AS BIGINT) AS vec_id, count(*) AS cluster_size
FROM clustered GROUP BY cluster
ORDER BY vec_id
"""


def q_knn_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ composed top-5 (operators/pq.py knn_cosine_ivfpq): coarse
    cells prune the scan to nprobe/nlist of the corpus, ADC ranks only
    the probed cells' 16-byte codes, exact re-rank on candidates.
    K-means is iterative → rows-only driver check; pytest pins recall
    vs brute force and exact degeneration to plain PQ at nprobe=nlist."""
    from pulsar_elasticsearch_sync_rs_spark.operators.pq import knn_cosine_ivfpq

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return knn_cosine_ivfpq(
        emb, queries, k=5, nlist=8, nprobe=4, m=16, ksub=64, refine=8
    )


def q_knn_ivfpq_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PCA-composed IVF-PQ top-5 (operators/pq.py knn_cosine_ivfpq_pca):
    fit PCA, build coarse cells + product codes in the 32-dim projected
    space, ADC-rank there, exact re-rank with the original vectors —
    equal code bytes as q_knn_ivfpq, energy packed into the leading
    axes. Rows-only (k-means + eigensolve are iterative); the
    recall-at-byte-budget claim is pytest-pinned on a planted
    decaying-spectrum fixture in tests/test_dedup_similarity.py."""
    from pulsar_elasticsearch_sync_rs_spark.operators.pq import knn_cosine_ivfpq_pca

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return knn_cosine_ivfpq_pca(
        emb, queries, k=5, pca_dim=32, nlist=8, nprobe=4, m=16, ksub=64, refine=8
    )


def q_knn_ivfpq_auto(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spectrum-aware IVF-PQ top-5 (operators/pq.py
    knn_cosine_ivfpq_auto, round-11 brief #6): one pca_fit measures the
    top-k energy fraction and picks the build the round-10 measurements
    say wins — PCA-composed on decaying spectra, full-dim on
    near-isotropic (this synthetic fixture lands in the full-dim
    regime; both branches pytest-pinned to match their direct builds in
    tests/test_dedup_similarity.py). Rows-only (k-means + eigensolve
    are iterative)."""
    from pulsar_elasticsearch_sync_rs_spark.operators.pq import (
        knn_cosine_ivfpq_auto,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 5).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("query_vec")
    )
    return knn_cosine_ivfpq_auto(
        emb, queries, k=5, pca_dim=32, nlist=8, nprobe=4, m=16, ksub=64,
        refine=8,
    )


def q_dedup_minhash_incr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental NEAR-dup — minhash twin of q_dedup_incremental: the
    new batch (upper half of doc_ids) signatures only itself and joins
    the existing corpus's banded signatures for cross candidates, plus
    within-batch LSH. Rows-only (crc32 minhash has no DuckDB twin);
    completeness vs a full rebuild and the persisted-index plan
    (history never re-signatures, co-located buckets) are pytest-pinned
    in tests/test_dedup_similarity.py."""
    from pulsar_elasticsearch_sync_rs_spark.operators.dedup import (
        cross_band_candidates,
        minhash_bands,
        minhash_candidates,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    split_at = docs.agg(
        F.floor(F.max("doc_id") / 2).cast("bigint").alias("m")
    ).collect()[0]["m"]
    history = docs.filter(F.col("doc_id") <= split_at)
    batch = docs.filter(F.col("doc_id") > split_at)
    cross = cross_band_candidates(minhash_bands(batch), minhash_bands(history))
    return cross.unionByName(minhash_candidates(batch)).distinct()


def q_semantic_dedup_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale path of q_semantic_dedup — IVF-cell blocking instead of
    the label column (the SemDeDup paper's own within-k-means-cluster
    recipe). K-means is iterative → rows-only; planted-twin collapse,
    survivor rule, and size-partition invariants are pytest-pinned."""
    from pulsar_elasticsearch_sync_rs_spark.operators.dedup import semantic_dedup_ivf

    emb = read_table(spark, sf_dir, "embeddings")
    # nlist=None: cells auto-sized to ~target_cell vectors so the
    # within-cell all-pairs term stays bounded as the corpus grows
    # (fixed nlist=8 measured SUPER-linear on the sf1→sf10 decade);
    # at the driver fixture sizes this resolves to the same 8 cells
    return semantic_dedup_ivf(emb, threshold=0.35, nlist=None, nprobe=2)


def q_substring_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Substring dedup APPLIED (Lee et al. 2021): the corpus with every
    ≥2-occurrence 20-gram span excised except its globally-first
    occurrence (keep-first), per-doc token accounting alongside. This
    is the missing back half of q_repeated_spans, which only DETECTS
    the cut list — here the cuts land and the deduplicated corpus is
    the output. Docs too short to gram (or never cut) pass through
    with token-joined text and n_tok_after == n_tok_before.

    Plan shape (operators/dedup.apply_repeated_span_cuts): md5 grams →
    one (gh) window for keep-first rank + count → per-doc island merge
    → one span-array row per cut doc joined back → per-row JVM token
    filter. The corpus text crosses the wire once (the span join);
    everything else moves 32-hex keys and (id, pos) pairs."""
    from pulsar_elasticsearch_sync_rs_spark.operators.dedup import (
        apply_repeated_span_cuts,
    )

    docs = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id", "text")
        .repartition(spark.sparkContext.defaultParallelism, "doc_id")
    )
    return apply_repeated_span_cuts(docs, k=20).orderBy("doc_id")


ORACLE_SUBSTRING_DEDUP = r"""
WITH toks AS (
  SELECT doc_id,
    list_filter(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+'), t -> t <> '') AS t
  FROM documents
), grams AS (
  SELECT doc_id, i - 1 AS pos, md5(array_to_string(t[i:i+19], ' ')) AS gh
  FROM toks, unnest(generate_series(1, len(t) - 19)) AS u(i)
  WHERE len(t) >= 20
), ranked AS (
  SELECT doc_id, pos,
    row_number() OVER (PARTITION BY gh ORDER BY doc_id, pos) AS rn,
    count(*) OVER (PARTITION BY gh) AS c
  FROM grams
), cutpos AS (
  SELECT doc_id, pos FROM ranked WHERE c >= 2 AND rn >= 2
), flagged AS (
  SELECT doc_id, pos,
    CASE WHEN pos - lag(pos) OVER (PARTITION BY doc_id ORDER BY pos) > 20
         THEN 1 ELSE 0 END AS ni
  FROM cutpos
), islands AS (
  SELECT doc_id, pos,
    sum(ni) OVER (PARTITION BY doc_id ORDER BY pos
                  ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS grp
  FROM flagged
), spans AS (
  SELECT doc_id, min(pos) AS b, max(pos) + 20 AS e FROM islands GROUP BY doc_id, grp
), tok_rows AS (
  SELECT doc_id, i - 1 AS pos, t[i] AS tok
  FROM toks, unnest(generate_series(1, len(t))) AS u(i)
), cut_tok AS (
  SELECT DISTINCT tr.doc_id, tr.pos
  FROM tok_rows tr JOIN spans s
    ON tr.doc_id = s.doc_id AND tr.pos >= s.b AND tr.pos < s.e
), kept AS (
  SELECT tr.doc_id, tr.pos, tr.tok
  FROM tok_rows tr LEFT JOIN cut_tok c
    ON tr.doc_id = c.doc_id AND tr.pos = c.pos
  WHERE c.pos IS NULL
), rebuilt AS (
  SELECT doc_id, array_to_string(list(tok ORDER BY pos), ' ') AS text_clean,
         CAST(count(*) AS BIGINT) AS n_tok_after
  FROM kept GROUP BY doc_id
)
SELECT d.doc_id, coalesce(r.text_clean, '') AS text_clean,
  CAST(len(t.t) AS BIGINT) AS n_tok_before,
  coalesce(r.n_tok_after, 0) AS n_tok_after
FROM documents d
JOIN toks t USING (doc_id)
LEFT JOIN rebuilt r USING (doc_id)
ORDER BY d.doc_id
"""


def q_chunk_overlap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window chunking (128-token windows every 96 — the
    RAG/eval context-window prep; operators/packing.chunk_documents):
    overlapping chunks with token lineage and the chunk text itself,
    so the oracle hash pins the exact slice boundaries. Zero shuffle —
    tokenize/explode/slice inside one narrow projection."""
    from pulsar_elasticsearch_sync_rs_spark.operators.packing import chunk_documents

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    return chunk_documents(docs, chunk_len=128, stride=96)


ORACLE_CHUNK_OVERLAP = r"""
WITH toks AS (
  SELECT doc_id,
    list_filter(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+'), t -> t <> '') AS t
  FROM documents
), starts AS (
  SELECT doc_id, t, len(t) AS n, u.b AS b
  FROM toks, unnest(generate_series(0, len(t) - 1, 96)) AS u(b)
  WHERE len(t) > 0
    AND (u.b = 0 OR u.b - 96 + 128 < len(t))  -- drop contained trailing windows
)
SELECT doc_id,
  CAST(b // 96 AS BIGINT) AS chunk_id,
  CAST(b AS BIGINT) AS begin_tok,
  CAST(least(b + 128, n) AS BIGINT) AS end_tok,
  CAST(least(b + 128, n) - b AS BIGINT) AS n_tok_chunk,
  array_to_string(t[b + 1:least(b + 128, n)], ' ') AS text_chunk
FROM starts
"""


def q_bigram_logprob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated bigram LM scoring — the next step up from
    q_unigram_logprob toward the CCNet perplexity filter: each doc's
    mean token log-probability under p(w|v) = λ·p₂(w|v) + (1−λ)·p₁(w)
    with λ=0.7, both models trained on the corpus itself. The first
    token of a doc has no history and is scored by the unigram alone.
    Because the model is self-trained, every scored bigram was seen at
    least once (its own occurrence) — the p₂=0 backoff arm is live
    only when this lane is repurposed to score a held-out split
    against another corpus's counts; the interpolation (and the
    coalesce guarding the left join) keeps that extension sound.
    History counts use the unigram count c(v) — the closed-form choice
    that keeps the lane oracle-checkable (a KenLM-style discount is
    iterative).

    Scale shape: the (prev, cur) stream is built per row from two
    shifted slices of the token array (one narrow projection — the
    word_kgrams zip trick, no self-join), then one (w) agg and one
    (prev, w) agg build the two models (vocab/bigram tables ≪ corpus;
    Catalyst sizes the joins), two joins score the stream, one
    (doc_id) agg averages. Nothing unpartitioned, nothing collected."""
    lam = 0.7
    # comp is the interpolation complement written as its OWN literal,
    # NOT computed as 1.0 - lam: Python's 1.0 - 0.7 is
    # 0.30000000000000004 (1 ulp above the double the oracle's SQL
    # literal 0.3 parses to) — a sub-ulp engine divergence that
    # round(.,6) hides until a doc's mean lands on a rounding boundary.
    # The assert keeps the two weights coupled: editing lam without
    # updating comp (and the oracle SQL) fails loudly here.
    comp = 0.3
    assert abs(lam + comp - 1.0) < 1e-12, (lam, comp)
    docs = read_table(spark, sf_dir, "documents")
    arr = (
        docs.select("doc_id", ws_tokens(F.lower("text")).alias("t"))
        .withColumn("n", F.size("t"))
        .filter(F.col("n") > 0)
        .select(
            "doc_id",
            F.col("t").alias("w_arr"),
            F.concat(
                F.array(F.lit(None).cast("string")),
                F.slice("t", 1, F.col("n") - 1),
            ).alias("p_arr"),
        )
    )
    tok = arr.select(
        "doc_id", F.explode(F.arrays_zip("w_arr", "p_arr")).alias("z")
    ).select("doc_id", F.col("z.w_arr").alias("w"), F.col("z.p_arr").alias("prev"))

    uni = tok.groupBy("w").agg(F.count("*").alias("c1"))
    total = uni.agg(F.sum("c1").alias("total"))
    p1 = uni.crossJoin(F.broadcast(total)).select(
        "w", (F.col("c1").cast("double") / F.col("total").cast("double")).alias("p1"),
        "c1",
    )
    big = (
        tok.filter(F.col("prev").isNotNull())
        .groupBy("prev", "w")
        .agg(F.count("*").alias("c2"))
    )

    scored = (
        tok.join(p1, "w")
        .join(
            p1.select(F.col("w").alias("prev"), F.col("c1").alias("c_prev")),
            "prev",
            "left",
        )
        .join(big, ["prev", "w"], "left")
        .select(
            "doc_id",
            F.when(F.col("prev").isNull(), F.log("p1"))
            .otherwise(
                F.log(
                    F.lit(lam)
                    * F.coalesce(
                        F.col("c2").cast("double") / F.col("c_prev").cast("double"),
                        F.lit(0.0),
                    )
                    + F.lit(comp) * F.col("p1")
                )
            )
            .alias("lp"),
        )
    )
    return scored.groupBy("doc_id").agg(
        F.count("*").alias("n_toks"),
        # order-independent mean (round-8 oracle rule)
        F.round(
            F.sum(F.col("lp").cast("decimal(30,12)")).cast("double")
            / F.count("lp"),
            6,
        ).alias("mean_logprob"),
    )


ORACLE_BIGRAM_LOGPROB = r"""
WITH arr AS (
  SELECT doc_id,
    list_filter(string_split_regex(trim(lower(text)), '[ \t\n\x0B\f\r]+'), t -> t <> '') AS t
  FROM documents
), tok AS (
  SELECT doc_id, t[i] AS w,
    CASE WHEN i = 1 THEN NULL ELSE t[i - 1] END AS prev
  FROM arr, unnest(generate_series(1, len(t))) AS u(i)
  WHERE len(t) > 0
), uni AS (
  SELECT w, count(*) AS c1 FROM tok GROUP BY w
), p1 AS (
  SELECT w, c1,
    CAST(c1 AS DOUBLE) / (SELECT CAST(CAST(sum(c1) AS VARCHAR) AS DOUBLE) FROM uni) AS p1
  FROM uni
), big AS (
  SELECT prev, w, count(*) AS c2 FROM tok WHERE prev IS NOT NULL GROUP BY prev, w
), scored AS (
  SELECT t.doc_id,
    CASE WHEN t.prev IS NULL THEN ln(u.p1)
         ELSE ln(0.7 * coalesce(CAST(b.c2 AS DOUBLE) / CAST(pu.c1 AS DOUBLE), 0.0)
                 + 0.3 * u.p1)
    END AS lp
  FROM tok t
  JOIN p1 u USING (w)
  LEFT JOIN uni pu ON pu.w = t.prev
  LEFT JOIN big b ON b.prev = t.prev AND b.w = t.w
)
SELECT doc_id, count(*) AS n_toks,
  round(CAST(CAST(sum(CAST(lp AS DECIMAL(30,12))) AS VARCHAR) AS DOUBLE) / count(lp), 6) AS mean_logprob
FROM scored GROUP BY doc_id
"""


def q_embed_pca(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed PCA over the embedding table (operators/pca): fit
    the top-8 axes in one moment-aggregation pass, project every
    vector, and return per-label projection statistics (count + the
    per-label mean coordinate on each axis, rounded) — the reduced
    representation SemDeDup-style pipelines cluster on.

    Rows-only lane: the eigenbasis is deterministic only up to float
    summation order across partitions (~1e-13), which is exactly what
    the numpy-parity pytest (tests/test_pca.py) pins — an ANSI-SQL
    twin cannot express the eigensolve. Scale: two narrow Arrow passes
    over the vector column; driver state is one (d + d^2)-double
    moment row per partition and a d x d eigensolve."""
    from pulsar_elasticsearch_sync_rs_spark.operators.pca import (
        pca_fit,
        pca_transform,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    model = pca_fit(emb, "embedding", k=8)
    proj = pca_transform(emb, model, "embedding", "proj")
    return (
        proj.select("label", "proj")
        .groupBy("label")
        .agg(
            F.count("*").alias("n_vecs"),
            *[
                F.round(F.avg(F.element_at("proj", i + 1)), 3).alias(f"pc{i}_mean")
                for i in range(4)
            ],
        )
        .orderBy("label")
    )


def q_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic training-epoch corpus shuffle
    (operators/ordering.epoch_shuffle): every document's 0-based
    position in the epoch-7 permutation, ordered by
    md5('ep7|' || doc_id). The scale point is the PLAN: global
    enumeration via range-exchange + per-partition offsets (the
    zipWithIndex shape), never a single-partition
    row_number() window — tests/test_ordering.py pins no-WindowExec.
    Fully hash-oracled: DuckDB's md5 renders the identical hex, so
    ROW_NUMBER() over the same key reproduces every position."""
    from pulsar_elasticsearch_sync_rs_spark.operators.ordering import (
        epoch_shuffle,
    )

    # enumerate the SKINNY projection: global_index's internal
    # localCheckpoint is a materialization BARRIER — Catalyst cannot
    # prune columns through it, so passing the full table here
    # checkpointed 11 GB of text at sf100 for a (pos, doc_id) output
    # (measured 123 s vs ~30 s skinny; round-14 decade probe). Callers
    # that need payload in epoch order join it back by id, or use
    # persist_epoch_layout which moves the text ON PURPOSE (once).
    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    return epoch_shuffle(docs, "doc_id", epoch=7).select("pos", "doc_id")


ORACLE_EPOCH_SHUFFLE = """
SELECT
  ROW_NUMBER() OVER (ORDER BY md5('ep7|' || CAST(doc_id AS VARCHAR))) - 1 AS pos,
  doc_id
FROM documents
"""


# the previous q_epoch_layout_scan scratch dir (at most one), reclaimed
# on the next invocation within the same process (q_zorder_scan recipe)
_EPOCH_LAYOUT_LAST: list[str] = []


def q_epoch_layout_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The epoch layout AS AN ARTIFACT (operators/ordering.py
    persist_epoch_layout + read_position_range): write documents in
    the epoch-3 permutation order — files/row groups each owning a
    contiguous disjoint position run — then stream back the central
    ~10% position band the way a trainer rank resuming mid-epoch
    would, and aggregate it. The oracle computes the same band over
    ROW_NUMBER on the identical md5 stream, so the round trip is fully
    hash-checked: layout must be semantics-invisible, which is what
    makes it a free scale lever (the q_zorder_scan discipline applied
    to the training-loader read path).

    Scale: the write is ONE range exchange (the permutation itself —
    persist_ordered(pre_ranged=True) adds no second shuffle); the band
    read prunes every non-intersecting file/row group from the parquet
    footers (skip rate + PushedFilters pinned in
    tests/test_ordering.py) — a 10% slice reads ~10% of the bytes at
    any corpus size."""
    import atexit
    import shutil
    import tempfile

    from pulsar_elasticsearch_sync_rs_spark.operators.ordering import (
        persist_epoch_layout,
        read_position_range,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    prev = _EPOCH_LAYOUT_LAST.pop(0) if _EPOCH_LAYOUT_LAST else None
    if prev:
        shutil.rmtree(prev, ignore_errors=True)
    path = tempfile.mkdtemp(prefix="spark_graft_epoch_layout_")
    _EPOCH_LAYOUT_LAST.append(path)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    n = docs.count()
    # file granularity scales with the corpus: ~64-row files give the
    # fixture real row-group pruning coverage, but a FIXED 64 means
    # n/64 files (~78k tiny parquet files at 5M docs — a listing-time
    # liability, round-13 ADVICE). Target ~1024 files at scale.
    per_file = max(64, n // 1024)
    persist_epoch_layout(
        docs, "doc_id", epoch=3, path=path, max_records_per_file=per_file
    )
    # integer band arithmetic, not n*0.45 floats: a float product that
    # lands 1 ulp under an integer decimal product would floor one off
    # from the oracle's DECIMAL arithmetic
    lo, hi = (n * 45) // 100, (n * 55) // 100
    band = read_position_range(spark, path, lo, hi)
    # constant group key (empty-input totality: 0 rows -> 0 groups);
    # text survives the round trip — length sum proves payload fidelity
    return band.groupBy(F.lit("all").alias("grp")).agg(
        F.count("*").alias("n_rows"),
        F.sum("doc_id").alias("sum_doc"),
        F.min("pos").alias("min_pos"),
        F.max("pos").alias("max_pos"),
        F.sum(F.length("text")).alias("sum_text_len"),
    )


ORACLE_EPOCH_LAYOUT_SCAN = """
WITH ord AS (
  SELECT ROW_NUMBER() OVER (ORDER BY md5('ep3|' || CAST(doc_id AS VARCHAR))) - 1 AS pos,
         doc_id, text
  FROM documents
), b AS (
  SELECT (count(*) * 45) // 100 AS lo,
         (count(*) * 55) // 100 AS hi
  FROM documents
)
SELECT 'all' AS grp, count(*) AS n_rows,
  CAST(sum(doc_id) AS BIGINT) AS sum_doc,
  min(pos) AS min_pos, max(pos) AS max_pos,
  CAST(sum(length(text)) AS BIGINT) AS sum_text_len
FROM ord, b
WHERE pos >= b.lo AND pos <= b.hi
GROUP BY grp
"""


# q_epoch_sharded_read scratch dir (at most one), reclaimed on the
# next invocation within the same process (q_epoch_layout_scan recipe)
_EPOCH_SHARD_LAST: list[str] = []

EPOCH_SHARD_RANKS = 8


def q_epoch_sharded_read(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The N-RANK sharded epoch read end-to-end (round-13 VERDICT item
    5): write the epoch-4 layout once, resolve ``EPOCH_SHARD_RANKS``
    balanced contiguous shards from the layout's ``_meta.json``
    sidecar (operators/ordering.position_shards — NO count job, the
    sidecar is the witness), then perform every rank's
    :func:`read_position_range` slice read and aggregate PER RANK.
    The oracle recomputes each rank's closed-form position range over
    ROW_NUMBER on the identical md5 stream, so the hash check proves
    the shards are disjoint, exactly covering, and each returns
    precisely its slice of the permutation — the data-loader
    distribution contract, graded, with the union-of-shards equality
    implied by the per-rank row counts and sums.

    Scale: one range-exchange write, then N INDEPENDENT footer-pruned
    slice reads — each rank's scan lists the same footers but reads
    only ~n/N of the data pages (skip-rate witnessed per shard in
    tests/test_ordering.py's contiguity harness); no shuffle anywhere
    in the read path, which is the point: at 1000 ranks over 100 TB
    the layout replaces the shuffle service."""
    import atexit
    import shutil
    import tempfile

    from pulsar_elasticsearch_sync_rs_spark.operators.ordering import (
        persist_epoch_layout,
        position_shards,
        read_position_range,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "text")
    prev = _EPOCH_SHARD_LAST.pop(0) if _EPOCH_SHARD_LAST else None
    if prev:
        shutil.rmtree(prev, ignore_errors=True)
    path = tempfile.mkdtemp(prefix="spark_graft_epoch_shards_")
    _EPOCH_SHARD_LAST.append(path)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    n = docs.count()
    per_file = max(64, n // 1024)
    persist_epoch_layout(
        docs, "doc_id", epoch=4, path=path, max_records_per_file=per_file
    )
    # rank resolution off the sidecar — spark=None proves no scan/count
    # job exists on the per-rank path (1000 ranks = 1000 JSON reads)
    shards = position_shards(None, path, EPOCH_SHARD_RANKS)
    per_rank = [
        read_position_range(spark, path, lo, hi).select(
            F.lit(rank).alias("rank"), "pos", "doc_id", "text"
        )
        for rank, lo, hi in shards
        if lo <= hi
    ]
    if per_rank:
        union = per_rank[0]
        for df in per_rank[1:]:
            union = union.unionByName(df)
    else:
        # empty corpus: every shard is empty (lo > hi) — aggregate an
        # empty frame of the union's shape (0 rows → 0 groups, the
        # empty-input totality contract)
        union = read_position_range(spark, path, 0, -1).select(
            F.lit(0).alias("rank"), "pos", "doc_id", "text"
        )
    return union.groupBy("rank").agg(
        F.count("*").alias("n_rows"),
        F.sum("doc_id").alias("sum_doc"),
        F.min("pos").alias("min_pos"),
        F.max("pos").alias("max_pos"),
        F.sum(F.length("text")).alias("sum_text_len"),
    )


ORACLE_EPOCH_SHARDED_READ = """
WITH ord AS (
  SELECT ROW_NUMBER() OVER (ORDER BY md5('ep4|' || CAST(doc_id AS VARCHAR))) - 1 AS pos,
         doc_id, text
  FROM documents
), sz AS (
  SELECT count(*) // 8 AS base, count(*) % 8 AS rem FROM documents
), ranked AS (
  SELECT CAST(CASE WHEN pos < sz.rem * (sz.base + 1)
              THEN pos // (sz.base + 1)
              ELSE sz.rem + (pos - sz.rem * (sz.base + 1)) // sz.base
         END AS INT) AS rank,
         pos, doc_id, text
  FROM ord, sz
)
SELECT rank, count(*) AS n_rows,
  CAST(sum(doc_id) AS BIGINT) AS sum_doc,
  min(pos) AS min_pos, max(pos) AS max_pos,
  CAST(sum(length(text)) AS BIGINT) AS sum_text_len
FROM ranked GROUP BY rank ORDER BY rank
"""


def q_pack_bins(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-class bin packing (operators/packing.pack_bins_by_length)
    at capacity 256 — the no-cross-document-attention packing variant:
    bins hold only whole documents of one token length, 256//len per
    bin, waste reported per bin. Completes the packing family beside
    q_seq_pack (concat-then-chunk) and q_token_budget. Output: every
    bin's (len_class, bin_idx, n_docs, fill_tokens, waste_tokens),
    hash-oracled via the identical per-class rank arithmetic.

    Scale: per-class ranks ride ONE skinny range exchange (the
    global_index recipe) — no per-class window, so a mega-class
    (millions of boilerplate docs of one length) cannot skew a task."""
    from pulsar_elasticsearch_sync_rs_spark.operators.packing import (
        pack_bins_by_length,
    )

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", token_count_ws("text").alias("n_tok")
    )
    return pack_bins_by_length(docs, "n_tok", "doc_id", capacity=256)


ORACLE_PACK_BINS = r"""
WITH t AS (
  SELECT doc_id,
    len(list_filter(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+'), x -> x <> '')) AS n_tok
  FROM documents
), cls AS (
  SELECT doc_id, least(n_tok, 256) AS cls FROM t WHERE n_tok > 0
), r AS (
  SELECT cls, doc_id,
    ROW_NUMBER() OVER (PARTITION BY cls ORDER BY doc_id) - 1 AS rnk
  FROM cls
), b AS (
  SELECT cls, rnk // (256 // cls) AS bin_idx FROM r
)
SELECT CAST(cls AS BIGINT) AS len_class, CAST(bin_idx AS BIGINT) AS bin_idx,
  count(*) AS n_docs,
  CAST(count(*) * cls AS BIGINT) AS fill_tokens,
  CAST(256 - count(*) * cls AS BIGINT) AS waste_tokens
FROM b GROUP BY cls, bin_idx ORDER BY len_class, bin_idx
"""


def q_pack_bins_mixed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-length bin packing (operators/packing.py
    pack_bins_residual_fill) at capacity 256: large-class bins keep
    the no-cross-document-attention discipline but each residual is
    filled with ONE complementary small doc via the descending
    rank-equality match — measured waste at the grading fixtures is
    ~33 % below q_pack_bins' by-length packing (pytest-pinned), with
    the same no-per-class-window scale shape (four skinny
    global_index exchanges, broadcast offsets, one rank equi-join).
    Hash-oracled: the oracle replays the identical rank arithmetic —
    per-class ranks, true-residual bin enumeration, the filler match
    and the leftover re-pack — so every bin's occupancy must agree."""
    from pulsar_elasticsearch_sync_rs_spark.operators.packing import (
        pack_bins_residual_fill,
    )

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", token_count_ws("text").alias("n_tok")
    )
    return pack_bins_residual_fill(docs, "n_tok", "doc_id", capacity=256)


# three fill ROUNDS, each the same closed-form block: bins re-ranked
# by current residual desc, remaining small docs re-ranked by length
# desc, filler s drops into bin j=s iff it fits. Bin-grain here (the
# fixture affords it); the engine computes the identical schedule at
# INTERVAL grain so its driver state stays O(classes · rounds).
ORACLE_PACK_BINS_MIXED = r"""
WITH t AS (
  SELECT doc_id,
    len(list_filter(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+'), x -> x <> '')) AS n_tok
  FROM documents
), cls AS (
  SELECT doc_id, least(n_tok, 256) AS cls FROM t WHERE n_tok > 0
), big AS (
  SELECT doc_id, cls FROM cls WHERE cls * 4 > 256
), small AS (
  SELECT doc_id, cls FROM cls WHERE cls * 4 <= 256
), br AS (
  SELECT cls, doc_id,
    ROW_NUMBER() OVER (PARTITION BY cls ORDER BY doc_id) - 1 AS rnk
  FROM big
), bins AS (
  SELECT cls, rnk // (256 // cls) AS bin_idx, count(*) AS dib
  FROM br GROUP BY cls, rnk // (256 // cls)
), b0 AS (
  SELECT cls, bin_idx, dib, 256 - dib * cls AS res,
    0 AS nfill, 0 AS addtok
  FROM bins
), j1 AS (
  SELECT b0.*, ROW_NUMBER() OVER (ORDER BY -res, cls, bin_idx) - 1 AS j
  FROM b0
), s1 AS (
  SELECT doc_id, cls, ROW_NUMBER() OVER (ORDER BY -cls, doc_id) - 1 AS s
  FROM small
), f1 AS (
  SELECT j.cls AS bcls, j.bin_idx AS bidx, s.cls AS fcls, s.doc_id AS fid
  FROM j1 j JOIN s1 s ON s.s = j.j AND s.cls <= j.res
), b1 AS (
  SELECT j.cls, j.bin_idx, j.dib, j.res - COALESCE(f.fcls, 0) AS res,
    j.nfill + CASE WHEN f.fid IS NULL THEN 0 ELSE 1 END AS nfill,
    j.addtok + COALESCE(f.fcls, 0) AS addtok
  FROM j1 j LEFT JOIN f1 f ON f.bcls = j.cls AND f.bidx = j.bin_idx
), j2 AS (
  SELECT b1.*, ROW_NUMBER() OVER (ORDER BY -res, cls, bin_idx) - 1 AS j
  FROM b1
), s2 AS (
  SELECT doc_id, cls, ROW_NUMBER() OVER (ORDER BY -cls, doc_id) - 1 AS s
  FROM s1
  WHERE NOT EXISTS (SELECT 1 FROM f1 WHERE f1.fid = s1.doc_id)
), f2 AS (
  SELECT j.cls AS bcls, j.bin_idx AS bidx, s.cls AS fcls, s.doc_id AS fid
  FROM j2 j JOIN s2 s ON s.s = j.j AND s.cls <= j.res
), b2 AS (
  SELECT j.cls, j.bin_idx, j.dib, j.res - COALESCE(f.fcls, 0) AS res,
    j.nfill + CASE WHEN f.fid IS NULL THEN 0 ELSE 1 END AS nfill,
    j.addtok + COALESCE(f.fcls, 0) AS addtok
  FROM j2 j LEFT JOIN f2 f ON f.bcls = j.cls AND f.bidx = j.bin_idx
), j3 AS (
  SELECT b2.*, ROW_NUMBER() OVER (ORDER BY -res, cls, bin_idx) - 1 AS j
  FROM b2
), s3 AS (
  SELECT doc_id, cls, ROW_NUMBER() OVER (ORDER BY -cls, doc_id) - 1 AS s
  FROM s2
  WHERE NOT EXISTS (SELECT 1 FROM f2 WHERE f2.fid = s2.doc_id)
), f3 AS (
  SELECT j.cls AS bcls, j.bin_idx AS bidx, s.cls AS fcls, s.doc_id AS fid
  FROM j3 j JOIN s3 s ON s.s = j.j AND s.cls <= j.res
), b3 AS (
  SELECT j.cls, j.bin_idx, j.dib, j.res - COALESCE(f.fcls, 0) AS res,
    j.nfill + CASE WHEN f.fid IS NULL THEN 0 ELSE 1 END AS nfill,
    j.addtok + COALESCE(f.fcls, 0) AS addtok
  FROM j3 j LEFT JOIN f3 f ON f.bcls = j.cls AND f.bidx = j.bin_idx
), large_rows AS (
  SELECT CAST(cls AS BIGINT) AS len_class,
    CAST(bin_idx AS BIGINT) AS bin_idx,
    CAST(dib + nfill AS BIGINT) AS n_docs,
    CAST(dib * cls + addtok AS BIGINT) AS fill_tokens
  FROM b3
), ur AS (
  SELECT cls, doc_id,
    ROW_NUMBER() OVER (PARTITION BY cls ORDER BY doc_id) - 1 AS rnk
  FROM s3
  WHERE NOT EXISTS (SELECT 1 FROM f3 WHERE f3.fid = s3.doc_id)
), small_rows AS (
  SELECT CAST(cls AS BIGINT) AS len_class,
    CAST(rnk // (256 // cls) AS BIGINT) AS bin_idx,
    CAST(count(*) AS BIGINT) AS n_docs,
    CAST(count(*) * cls AS BIGINT) AS fill_tokens
  FROM ur GROUP BY cls, rnk // (256 // cls)
)
SELECT len_class, bin_idx, n_docs, fill_tokens,
  CAST(256 - fill_tokens AS BIGINT) AS waste_tokens
FROM (SELECT * FROM large_rows UNION ALL SELECT * FROM small_rows)
ORDER BY len_class, bin_idx
"""


def q_profile_docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-column table profile (operators/profiling.profile_table)
    over the documents corpus — row count, null count, EXACT distinct
    cardinality, min/max reprs for every column, in ONE aggregation
    pass (the data-quality report every ingestion audit runs first).
    Hash-oracled cell-for-cell: the oracle computes the identical
    statistics per column and unpivots them the same way. The graded
    lane uses exact_distinct=True so DuckDB's COUNT(DISTINCT) is the
    ground truth; the operator's default is the one-pass HLL
    (approx_count_distinct) for the 100 TB path.

    Scale: one map-side-combined global agg (single 1-row exchange);
    exact-distinct plans one pass with a k-column Expand of the skinny
    projection — the documented grading-mode cost."""
    from pulsar_elasticsearch_sync_rs_spark.operators.profiling import (
        profile_table,
    )

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "lang", "source", "n_chars"
    )
    return profile_table(docs, exact_distinct=True).drop("dtype")


ORACLE_PROFILE_DOCS = """
WITH a AS (
  SELECT 'all' AS g, count(*) AS n,
    count(doc_id) AS nn0, count(DISTINCT doc_id) AS nd0,
    substr(CAST(min(doc_id) AS VARCHAR), 1, 64) AS mn0,
    substr(CAST(max(doc_id) AS VARCHAR), 1, 64) AS mx0,
    count(text) AS nn1, count(DISTINCT text) AS nd1,
    substr(min(text), 1, 64) AS mn1, substr(max(text), 1, 64) AS mx1,
    count(lang) AS nn2, count(DISTINCT lang) AS nd2,
    substr(min(lang), 1, 64) AS mn2, substr(max(lang), 1, 64) AS mx2,
    count(source) AS nn3, count(DISTINCT source) AS nd3,
    substr(min(source), 1, 64) AS mn3, substr(max(source), 1, 64) AS mx3,
    count(n_chars) AS nn4, count(DISTINCT n_chars) AS nd4,
    substr(CAST(min(n_chars) AS VARCHAR), 1, 64) AS mn4,
    substr(CAST(max(n_chars) AS VARCHAR), 1, 64) AS mx4
  FROM documents GROUP BY g
)
SELECT 'doc_id' AS col_name, CAST(n AS BIGINT) AS n_rows,
  CAST(n - nn0 AS BIGINT) AS n_null, CAST(nd0 AS BIGINT) AS n_distinct,
  mn0 AS min_repr, mx0 AS max_repr FROM a
UNION ALL
SELECT 'text', CAST(n AS BIGINT), CAST(n - nn1 AS BIGINT),
  CAST(nd1 AS BIGINT), mn1, mx1 FROM a
UNION ALL
SELECT 'lang', CAST(n AS BIGINT), CAST(n - nn2 AS BIGINT),
  CAST(nd2 AS BIGINT), mn2, mx2 FROM a
UNION ALL
SELECT 'source', CAST(n AS BIGINT), CAST(n - nn3 AS BIGINT),
  CAST(nd3 AS BIGINT), mn3, mx3 FROM a
UNION ALL
SELECT 'n_chars', CAST(n AS BIGINT), CAST(n - nn4 AS BIGINT),
  CAST(nd4 AS BIGINT), mn4, mx4 FROM a
ORDER BY col_name
"""


def q_profile_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source data-quality drift (operators/profiling
    .profile_drift): the 'src0' slice of the corpus vs everything
    else, column by column — row/null/exact-distinct counts side by
    side plus min/max range-equality flags, all integers/booleans so
    the grading hash is exact. Two one-pass profiles + a ≤ #columns
    join; drift over 100 TB costs what two profiles cost."""
    from pulsar_elasticsearch_sync_rs_spark.operators.profiling import (
        profile_drift,
    )

    docs = read_table(spark, sf_dir, "documents")
    cols = ["doc_id", "text", "lang", "n_chars"]
    src0 = docs.filter(F.col("source") == "src0").select(*cols)
    rest = docs.filter(
        (F.col("source") != "src0") | F.col("source").isNull()
    ).select(*cols)
    return profile_drift(src0, rest, exact_distinct=True)


ORACLE_PROFILE_DRIFT = """
WITH pa AS (
  SELECT 'all' AS g, count(*) AS n,
    count(doc_id) AS nn0, count(DISTINCT doc_id) AS nd0,
    substr(CAST(min(doc_id) AS VARCHAR), 1, 64) AS mn0,
    substr(CAST(max(doc_id) AS VARCHAR), 1, 64) AS mx0,
    count(text) AS nn1, count(DISTINCT text) AS nd1,
    substr(min(text), 1, 64) AS mn1, substr(max(text), 1, 64) AS mx1,
    count(lang) AS nn2, count(DISTINCT lang) AS nd2,
    substr(min(lang), 1, 64) AS mn2, substr(max(lang), 1, 64) AS mx2,
    count(n_chars) AS nn3, count(DISTINCT n_chars) AS nd3,
    substr(CAST(min(n_chars) AS VARCHAR), 1, 64) AS mn3,
    substr(CAST(max(n_chars) AS VARCHAR), 1, 64) AS mx3
  FROM documents WHERE source = 'src0' GROUP BY g
), pb AS (
  SELECT 'all' AS g, count(*) AS n,
    count(doc_id) AS nn0, count(DISTINCT doc_id) AS nd0,
    substr(CAST(min(doc_id) AS VARCHAR), 1, 64) AS mn0,
    substr(CAST(max(doc_id) AS VARCHAR), 1, 64) AS mx0,
    count(text) AS nn1, count(DISTINCT text) AS nd1,
    substr(min(text), 1, 64) AS mn1, substr(max(text), 1, 64) AS mx1,
    count(lang) AS nn2, count(DISTINCT lang) AS nd2,
    substr(min(lang), 1, 64) AS mn2, substr(max(lang), 1, 64) AS mx2,
    count(n_chars) AS nn3, count(DISTINCT n_chars) AS nd3,
    substr(CAST(min(n_chars) AS VARCHAR), 1, 64) AS mn3,
    substr(CAST(max(n_chars) AS VARCHAR), 1, 64) AS mx3
  FROM documents WHERE source <> 'src0' OR source IS NULL GROUP BY g
), ua AS (
  SELECT 'doc_id' AS col_name, n, n - nn0 AS nnull, nd0 AS nd, mn0 AS mn, mx0 AS mx FROM pa
  UNION ALL SELECT 'text', n, n - nn1, nd1, mn1, mx1 FROM pa
  UNION ALL SELECT 'lang', n, n - nn2, nd2, mn2, mx2 FROM pa
  UNION ALL SELECT 'n_chars', n, n - nn3, nd3, mn3, mx3 FROM pa
), ub AS (
  SELECT 'doc_id' AS col_name, n, n - nn0 AS nnull, nd0 AS nd, mn0 AS mn, mx0 AS mx FROM pb
  UNION ALL SELECT 'text', n, n - nn1, nd1, mn1, mx1 FROM pb
  UNION ALL SELECT 'lang', n, n - nn2, nd2, mn2, mx2 FROM pb
  UNION ALL SELECT 'n_chars', n, n - nn3, nd3, mn3, mx3 FROM pb
)
SELECT COALESCE(ua.col_name, ub.col_name) AS col_name,
  CAST(ua.n AS BIGINT) AS n_rows_a, CAST(ua.nnull AS BIGINT) AS n_null_a,
  CAST(ua.nd AS BIGINT) AS n_distinct_a,
  CAST(ub.n AS BIGINT) AS n_rows_b, CAST(ub.nnull AS BIGINT) AS n_null_b,
  CAST(ub.nd AS BIGINT) AS n_distinct_b,
  (ua.mn IS NOT DISTINCT FROM ub.mn) AS same_min,
  (ua.mx IS NOT DISTINCT FROM ub.mx) AS same_max
FROM ua FULL OUTER JOIN ub ON ua.col_name = ub.col_name
ORDER BY 1
"""


def q_epoch_two_level(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-level (block) epoch shuffle (operators/ordering.py
    epoch_shuffle_two_level): from a fixed base enumeration, epoch 7's
    order permutes 64-row position BLOCKS and rows WITHIN each block —
    the tf.data/WebDataset shard-shuffling model, which at 100 TB
    makes every epoch a SKINNY-metadata job (one ~16 B/doc hash
    exchange for the bounded per-block window; the corpus text never
    moves — readers stream the existing layout's blocks in permuted
    order) instead of :func:`q_epoch_shuffle`'s full-corpus range
    exchange per epoch. Output = the full (pos2, doc_id) mapping,
    hash-oracled against the identical md5 block/within schedule via
    ROW_NUMBER — every position must agree.

    Scale: the only corpus-wide exchange hashes (pos, doc_id, two md5
    keys); the block frame is ≤ n_blocks rows end-to-end; no
    single-partition window (the within window partitions by block)."""
    from pulsar_elasticsearch_sync_rs_spark.operators.ordering import (
        epoch_shuffle_two_level,
        global_index,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    base = global_index(docs, "doc_id", out_col="pos")
    out = epoch_shuffle_two_level(
        base, "doc_id", epoch=7, block_size=64, pos_col="pos", out_col="pos2"
    )
    return out.select("pos2", "doc_id")


ORACLE_EPOCH_TWO_LEVEL = """
WITH base AS (
  SELECT doc_id, ROW_NUMBER() OVER (ORDER BY doc_id) - 1 AS pos FROM documents
), nb AS (
  SELECT count(*) AS n,
         (count(*) + 63) // 64 AS n_blocks
  FROM documents
), brank AS (
  SELECT b, ROW_NUMBER() OVER (ORDER BY md5('ep7|b' || CAST(b AS VARCHAR))) - 1 AS brk
  FROM (SELECT DISTINCT pos // 64 AS b FROM base)
), sr AS (
  SELECT brk AS short_rank FROM brank, nb WHERE b = nb.n_blocks - 1
), within AS (
  SELECT pos // 64 AS b, doc_id,
    ROW_NUMBER() OVER (
      PARTITION BY pos // 64
      ORDER BY md5('ep7|' || CAST(doc_id AS VARCHAR)), doc_id
    ) - 1 AS w
  FROM base
)
SELECT CAST(br.brk * 64
  - CASE WHEN br.brk > sr.short_rank
         THEN 64 - (nb.n - 64 * (nb.n_blocks - 1)) ELSE 0 END
  + wi.w AS BIGINT) AS pos2,
  wi.doc_id
FROM within wi JOIN brank br USING (b), sr, nb
ORDER BY pos2
"""


def q_interleave_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic weighted corpus interleave (operators/ordering.py
    interleave_by_weight): the blendable-dataset LAYOUT — every doc
    gets a global position such that any contiguous position slice
    carries the languages in the configured ratio (weight = 1 +
    (ascii(lang[0]) % 4), a closed-form rule both engines compute), so
    a trainer rank reading positions [a, b) gets the target mixture
    with NO read-time shuffle. Complements q_domain_mix: that lane
    decides how many docs of each source survive, this one decides
    WHERE they sit. Output = the full (pos, doc_id, lang) mapping,
    hash-oracled against the same virtual-time schedule computed via
    ROW_NUMBER — the strongest witness (every single position must
    agree).

    Scale: ONE skinny range exchange (the per-source rank pass) —
    the final position is closed-form rank arithmetic since the
    round-15 optimization (no window, no UDF); the absolute virtual
    keys differ from the oracle's only by a shared constant factor
    (lcm basis), which cannot reorder."""
    from pulsar_elasticsearch_sync_rs_spark.operators.ordering import (
        interleave_by_weight,
    )

    docs = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id", "lang")
        # NULL/empty lang would crash the ord(lang[0]) weight rule and
        # has no place in a mixture contract — excluded on BOTH engine
        # and oracle sides (round-14 ADVICE; vacuous on the fixtures,
        # which carry non-null 2-char langs)
        .filter(F.col("lang").isNotNull() & (F.length("lang") > 0))
    )
    # the weight rule rides in as a CALLABLE: the operator applies it
    # to the sources its post-rank stats collect surfaces, so the
    # separate distinct-scan job this lane used to run just to build
    # the dict is gone (optimization round 15 — one fewer full lang-
    # column scan per call; positions identical, empty corpus handled
    # by the operator's same-schema empty contract)
    return interleave_by_weight(
        docs, "lang", lambda lang: 1 + (ord(lang[0]) % 4), "doc_id", out_col="pos"
    ).select("pos", "doc_id", "lang")


# the interleave order is the NATIVE (virtual-time, lang, doc_id)
# composite, matching the engine exactly — the former '|'-separated
# string key ordered 'en|' ABOVE 'eng' ('|' = 0x7C sorts over
# lowercase) whenever one source name prefixes another (round-14
# ADVICE); 12 = lcm(1..4), a constant factor off the engine's lcm
# basis, which cannot reorder
ORACLE_INTERLEAVE_MIX = """
WITH r AS (
  SELECT doc_id, lang,
    1 + (ascii(substr(lang, 1, 1)) % 4) AS wt,
    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rnk
  FROM documents
  WHERE lang IS NOT NULL AND lang <> ''
)
SELECT ROW_NUMBER() OVER (ORDER BY rnk * (12 // wt), lang, doc_id) - 1 AS pos,
  doc_id, lang
FROM r ORDER BY pos
"""


# q_loader_compose scratch dir (at most one), reclaimed on the next
# invocation within the same process (q_epoch_layout_scan recipe)
_LOADER_COMPOSE_LAST: list[str] = []

LOADER_BLOCK = 48
LOADER_RANKS = 4
LOADER_EPOCH = 2


def q_loader_compose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """THE PRODUCTION LOADER, end-to-end as one graded lane (round-14
    VERDICT item 3): blend once — :func:`interleave_by_weight` places
    every doc so any position slice carries the language mixture —
    lay out once — :func:`persist_block_aligned` makes file ≡ block —
    then stream epoch ``LOADER_EPOCH`` purely by metadata:
    :func:`epoch_block_shards` deals the permuted blocks to
    ``LOADER_RANKS`` ranks from sidecar arithmetic and every rank's
    :func:`read_epoch_block_shard` loads ONLY its files and derives
    its rows' epoch positions in closed form. Output = the full
    (rank, pos2, doc_id, lang) mapping, hash-oracled: the oracle
    recomputes the interleave schedule, the block/within md5
    permutations, the short-block offset correction AND the
    contiguous rank dealing — one hash equality witnesses the whole
    loader story ("blend once, lay out once, stream every epoch by
    metadata").

    Scale: one skinny range exchange (the interleave), one hash
    exchange (the layout write), then N independent file-list reads
    with no predicate, no shuffle, and zero bytes rewritten per epoch
    — at 1000 ranks over 100 TB the LAYOUT is the shuffle service."""
    import atexit
    import shutil
    import tempfile

    from pulsar_elasticsearch_sync_rs_spark.operators.ordering import (
        epoch_block_shards,
        interleave_by_weight,
        persist_block_aligned,
        read_epoch_block_shard,
        read_layout_meta,
    )

    docs = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id", "lang")
        .filter(F.col("lang").isNotNull() & (F.length("lang") > 0))
    )
    # empty-corpus totality probe: limit-1 scan, NOT the full
    # distinct-scan job this lane used to run just to enumerate
    # sources — the weight RULE rides into interleave_by_weight as a
    # callable applied to the sources its post-rank stats collect
    # already surfaces (optimization round 15; positions identical)
    if docs.isEmpty():
        return docs.select(
            F.lit(0).alias("rank"),
            F.lit(None).cast("long").alias("pos2"),
            "doc_id",
            "lang",
        ).limit(0)
    mixed = interleave_by_weight(
        docs, "lang", lambda lang: 1 + (ord(lang[0]) % 4), "doc_id",
        out_col="pos")

    prev = _LOADER_COMPOSE_LAST.pop(0) if _LOADER_COMPOSE_LAST else None
    if prev:
        shutil.rmtree(prev, ignore_errors=True)
    path = tempfile.mkdtemp(prefix="spark_graft_loader_compose_")
    _LOADER_COMPOSE_LAST.append(path)
    atexit.register(shutil.rmtree, path, ignore_errors=True)
    persist_block_aligned(mixed, path, block_size=LOADER_BLOCK,
                          num_partitions=8)

    # every epoch from here on is sidecar arithmetic + 1/N file reads
    shards = epoch_block_shards(path, epoch=LOADER_EPOCH,
                                n_ranks=LOADER_RANKS)
    per_rank = [
        read_epoch_block_shard(
            spark, path, epoch=LOADER_EPOCH, rank=rank,
            n_ranks=LOADER_RANKS, id_col="doc_id",
        ).select(F.lit(rank).alias("rank"), "pos2", "doc_id", "lang")
        for rank, files in shards
        if files
    ]
    union = per_rank[0]
    for df in per_rank[1:]:
        union = union.unionByName(df)
    return union


ORACLE_LOADER_COMPOSE = """
WITH r AS (
  SELECT doc_id, lang,
    1 + (ascii(substr(lang, 1, 1)) % 4) AS wt,
    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rnk
  FROM documents
  WHERE lang IS NOT NULL AND lang <> ''
), mixed AS (
  SELECT doc_id, lang,
    ROW_NUMBER() OVER (ORDER BY rnk * (12 // wt), lang, doc_id) - 1 AS pos
  FROM r
), nb AS (
  SELECT count(*) AS n, (count(*) + 47) // 48 AS n_blocks FROM mixed
), brank AS (
  SELECT b, ROW_NUMBER() OVER (ORDER BY md5('ep2|b' || CAST(b AS VARCHAR))) - 1 AS brk
  FROM (SELECT DISTINCT pos // 48 AS b FROM mixed)
), sr AS (
  SELECT brk AS short_rank FROM brank, nb WHERE b = nb.n_blocks - 1
), within AS (
  SELECT pos // 48 AS b, doc_id, lang,
    ROW_NUMBER() OVER (
      PARTITION BY pos // 48
      ORDER BY md5('ep2|' || CAST(doc_id AS VARCHAR)), doc_id
    ) - 1 AS w
  FROM mixed
), sz AS (
  SELECT n_blocks // 4 AS base, n_blocks % 4 AS rem FROM nb
)
SELECT CAST(CASE WHEN br.brk < sz.rem * (sz.base + 1)
            THEN br.brk // (sz.base + 1)
            ELSE sz.rem + (br.brk - sz.rem * (sz.base + 1)) // sz.base
       END AS INT) AS rank,
  CAST(br.brk * 48
    - CASE WHEN br.brk > sr.short_rank
           THEN 48 - (nb.n - 48 * (nb.n_blocks - 1)) ELSE 0 END
    + wi.w AS BIGINT) AS pos2,
  wi.doc_id, wi.lang
FROM within wi JOIN brank br USING (b), sr, nb, sz
ORDER BY pos2
"""


# q_interleave_append scratch dir (at most one), reclaimed on the next
# invocation within the same process (q_epoch_layout_scan recipe)
_INTERLEAVE_APPEND_LAST: list[str] = []


def q_interleave_append(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MIXTURE-PRESERVING GROWTH, graded end-to-end
    (operators/ordering.interleave_append): the corpus's ``doc_id % 5
    != 0`` slice is blended and laid out block-aligned; the ``% 5 ==
    0`` slice then arrives as an APPEND in ``mode="continue"`` — each
    source's rank sequence resumes at its laid-out count, the
    deficit/catch-up scheduler (under-served sources front-load the
    appended region until global ratios converge; the default
    ``fresh`` mode's per-slice mixture is pytest-pinned separately) —
    and lands through the append lifecycle (new whole blocks, tail
    compaction, full blocks byte-untouched). Output = the grown
    layout's full (pos, doc_id, lang) mapping; the oracle replays the
    original interleave AND the continued schedule in closed form, so
    one hash equality witnesses that growth preserved the old
    positions and scheduled the increment exactly.

    Scale: the original interleave's one skinny range exchange for
    the base, ONE column-pruned per-source count over the layout +
    one range exchange over the NEW slice for the append (appended
    positions are closed-form since round 15) — growth cost tracks
    the increment, not the corpus."""
    import atexit
    import shutil
    import tempfile

    from pulsar_elasticsearch_sync_rs_spark.operators.ordering import (
        interleave_append,
        interleave_by_weight,
        persist_block_aligned,
    )

    docs = (
        read_table(spark, sf_dir, "documents")
        .select("doc_id", "lang")
        .filter(F.col("lang").isNotNull() & (F.length("lang") > 0))
    )
    langs = [r[0] for r in docs.select("lang").distinct().collect()]
    if not langs:
        return docs.select(
            F.lit(None).cast("long").alias("pos"), "doc_id", "lang"
        ).limit(0)
    weights = {lang: 1 + (ord(lang[0]) % 4) for lang in langs}
    old = docs.filter(F.col("doc_id") % 5 != 0)
    new = docs.filter(F.col("doc_id") % 5 == 0)

    prev = _INTERLEAVE_APPEND_LAST.pop(0) if _INTERLEAVE_APPEND_LAST else None
    if prev:
        shutil.rmtree(prev, ignore_errors=True)
    path = tempfile.mkdtemp(prefix="spark_graft_ileave_append_")
    _INTERLEAVE_APPEND_LAST.append(path)
    atexit.register(shutil.rmtree, path, ignore_errors=True)

    mixed = interleave_by_weight(old, "lang", weights, "doc_id",
                                 out_col="pos")
    persist_block_aligned(mixed, path, block_size=48, num_partitions=8)
    interleave_append(
        new, path, "lang", weights, "doc_id", pos_col="pos",
        mode="continue",
    )
    return spark.read.parquet(path).select("pos", "doc_id", "lang")


ORACLE_INTERLEAVE_APPEND = """
WITH base AS (
  SELECT doc_id, lang, 1 + (ascii(substr(lang, 1, 1)) % 4) AS wt
  FROM documents
  WHERE lang IS NOT NULL AND lang <> ''
), old_r AS (
  SELECT doc_id, lang, wt,
    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rnk
  FROM base WHERE doc_id % 5 <> 0
), old_m AS (
  SELECT doc_id, lang,
    ROW_NUMBER() OVER (ORDER BY rnk * (12 // wt), lang, doc_id) - 1 AS pos
  FROM old_r
), n0 AS (
  SELECT count(*) AS n FROM old_m
), oc AS (
  SELECT lang, count(*) AS c FROM old_r GROUP BY lang
), new_r AS (
  SELECT doc_id, lang, wt,
    ROW_NUMBER() OVER (PARTITION BY lang ORDER BY doc_id) AS rnk
  FROM base WHERE doc_id % 5 = 0
), new_m AS (
  SELECT r.doc_id, r.lang,
    ROW_NUMBER() OVER (
      ORDER BY (COALESCE(oc.c, 0) + r.rnk) * (12 // r.wt), r.lang, r.doc_id
    ) - 1 AS rel
  FROM new_r r LEFT JOIN oc ON oc.lang = r.lang
)
SELECT pos, doc_id, lang FROM old_m
UNION ALL
SELECT CAST(n0.n + rel AS BIGINT) AS pos, doc_id, lang FROM new_m, n0
ORDER BY pos
"""


# decorrelated from TRAIN_SPLIT_SALT (that stream hashes doc_id; this
# one hashes CLUSTER ids, but several lanes run both over the same
# table and independent permutations keep the decisions independent)
CLUSTER_SPLIT_SALT = 22695477


def q_split_leakage_safe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEAKAGE-SAFE train/val/test split: the unit of assignment is the
    near-dup CLUSTER, not the document. q_train_split's per-doc hash
    lets two near-identical documents straddle train and test — the
    classic eval-contamination leak (Lee et al. 2021 §6); hashing the
    cluster id (q_dedup_clusters' transitive components over exact
    Jaccard ≥ 0.35 pairs) pins every member of a duplicate family to
    ONE split by construction. 80/10/10 so val/test are non-vacuous at
    the grading fixtures (pytest asserts all three splits occupied AND
    a multi-doc cluster exists — the witness that the property is
    actually exercised).

    Output: per-doc (doc_id, cluster, split) — fully hash-oracled: the
    recursive-CTE transitive closure labels identically, and the split
    is the same pure Knuth-hash arithmetic on both engines.

    Scale: one narrow projection on top of the clustering (whose
    banded/blocked plan is the scale story — see q_dedup_clusters);
    the split adds no shuffle."""
    clusters = q_dedup_clusters(spark, sf_dir)
    bucket = knuth_u32(F.col("cluster"), CLUSTER_SPLIT_SALT) % F.lit(100)
    split = (
        F.when(bucket < 80, F.lit("train"))
        .when(bucket < 90, F.lit("val"))
        .otherwise(F.lit("test"))
    )
    return clusters.select("doc_id", "cluster", split.alias("split"))


ORACLE_SPLIT_LEAKAGE_SAFE = (
    _CLUSTERS_CTE
    + """
SELECT doc_id, cluster,
  CASE WHEN ((cluster + 22695477) * 2654435761) % 4294967296 % 100 < 80 THEN 'train'
       WHEN ((cluster + 22695477) * 2654435761) % 4294967296 % 100 < 90 THEN 'val'
       ELSE 'test' END AS split
FROM labeled ORDER BY doc_id
"""
)


def q_kmeans_balance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semantic clustering + cluster-balanced subsampling
    (operators/kmeans.py): fit full-corpus Lloyd k-means on the
    embeddings (k=8, 5 exact iterations — every update the global
    mean, one skinny moment row per partition per pass), label every
    vector, then cap each cluster at 30 deterministically-chosen rows —
    the mixture-rebalancing step of a DoReMi-style pipeline (head
    domains capped, tail domains kept whole).

    Rows-only lane: the eigen—iterative fit has no ANSI-SQL twin;
    determinism up to float summation order and the full numpy-parity
    math are pinned in tests/test_kmeans.py. Output: one row per
    non-empty cluster (count before/after the cap)."""
    from pulsar_elasticsearch_sync_rs_spark.operators.kmeans import (
        assign_clusters,
        kmeans_fit,
        sample_balanced_by_cluster,
    )

    emb = read_table(spark, sf_dir, "embeddings")
    model = kmeans_fit(emb, "embedding", k=8, n_iter=5, id_col="vec_id")
    # the join below consumes `assigned` twice — pay the Arrow
    # assignment pass once (lazy, so a plan-only inspection stays free)
    assigned = assign_clusters(emb, model, "embedding").localCheckpoint(
        eager=False
    )
    balanced = sample_balanced_by_cluster(
        assigned, "cluster_id", n_per_cluster=30, id_col="vec_id"
    )
    return (
        assigned.groupBy("cluster_id")
        .agg(F.count("*").alias("n_vecs"))
        .join(
            balanced.groupBy("cluster_id").agg(
                F.count("*").alias("n_sampled")
            ),
            "cluster_id",
        )
        .orderBy("cluster_id")
    )


def q_curriculum_order(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Curriculum data ordering: every document's 0-based position in a
    quality-descending training order — docs bucket into quality
    deciles (floor(quality·10), clamped) and enumerate highest-decile
    first, shuffled WITHIN a decile by the deterministic md5 stream.
    The curriculum-learning data layout: easy/clean data first, without
    trusting a dense score as a sort key (equal scores are common, so
    the md5 tiebreak keeps range partitions balanced where a raw
    score sort would skew them).

    Composition: quality_score_fast (the Arrow twin — value-identical
    to the C4-heuristics HOF chain, equality pinned in
    tests/test_text_fast.py; the round-12 sf100 probe showed the
    INTERPRETED chain was this lane's wall, 169 s of per-element boxed
    lambda evaluation) → two-level composite sort key →
    operators/ordering.global_index (range exchange + monotonic-id
    rank — no single-partition window). Fully hash-oracled: the same
    decile arithmetic, lpad key and md5 stream reproduce every
    position in DuckDB — the twin's exact value parity is what keeps
    the hash green."""
    from pulsar_elasticsearch_sync_rs_spark.functions.text import (
        quality_score_fast,
    )
    from pulsar_elasticsearch_sync_rs_spark.operators.ordering import (
        global_index,
    )

    docs = read_table(spark, sf_dir, "documents")
    decile = F.least(
        F.floor(quality_score_fast("text") * 10), F.lit(9)
    ).cast("int")
    # two-step select: deriving the sort key from the ALIASED decile
    # keeps exactly ONE instance of the interpreted quality chain in
    # the plan — referencing `decile` directly in both columns would
    # instantiate the HOF subtree twice (subexpression elimination
    # skips lambda-bearing trees; round-12 review finding, plan-pinned
    # in tests/test_extra_oracles.py)
    # NATIVE numeric composite (round-14 sort-key rule): inverted
    # decile as an int, then the 60-bit md5 prefix, then the full hex
    # as tiebreak — identical total order to the former packed string
    # ("09|<hex>"), long compares instead of 35-byte string compares
    cur_md5 = F.md5(F.concat(F.lit("cur|"), F.col("doc_id").cast("string")))
    # materialize the SKINNY key frame once before the range sort: the
    # quality score is an interpreted-HOF chain, and without a barrier
    # the range partitioner's SAMPLING pass, the exchange and the sort
    # each re-tokenize every document (the projection-collapse pitfall;
    # measured 12× superlinear at the sf100 decade — 495 s → re-probed
    # sublinear after this one checkpoint, SCALE.md round-12 table)
    keyed = (
        docs.select("doc_id", decile.alias("q_decile"))
        .select(
            "doc_id",
            "q_decile",
            (F.lit(9) - F.col("q_decile")).alias("__cd"),
            F.conv(F.substring(cur_md5, 1, 15), 16, 10)
            .cast("long")
            .alias("__cp"),
            cur_md5.alias("__ck"),
        )
        .localCheckpoint(eager=False)
    )
    ordered = global_index(keyed, ["__cd", "__cp", "__ck"], out_col="pos")
    return ordered.select("pos", "doc_id", "q_decile")


ORACLE_CURRICULUM_ORDER = r"""
WITH toks AS (
  SELECT doc_id, text,
    list_filter(string_split_regex(trim(text), '[ \t\n\x0B\f\r]+'), t -> t <> '') AS t,
    list_filter(string_split_regex(trim(lower(text)), '[ \t\n\x0B\f\r]+'), t -> t <> '') AS tl
  FROM documents
), feat AS (
  SELECT doc_id,
    CAST(len(t) AS DOUBLE) AS n_tok,
    CASE WHEN len(t) > 0
         THEN CAST(list_sum(list_transform(t, x -> length(x))) AS DOUBLE) / len(t)
         ELSE 0.0 END AS mean_wlen,
    CASE WHEN length(text) > 0
         THEN CAST(length(regexp_replace(text, '[^[:punct:]]', '', 'g')) AS DOUBLE) / length(text)
         ELSE 0.0 END AS punct_ratio,
    CASE WHEN len(tl) > 0
         THEN CAST(len(list_filter(tl, x -> list_contains(['the','and','of','to','a','in','is','it'], x))) AS DOUBLE) / len(tl)
         ELSE 0.0 END AS sw_ratio
  FROM toks
), scored AS (
  SELECT doc_id,
    CAST(least(CAST(floor(round(
      least(n_tok / 50.0, 1.0) * 0.3
      + (CASE WHEN mean_wlen >= 3 AND mean_wlen <= 10 THEN 1.0 ELSE 0.5 END) * 0.2
      + (1.0 - least(punct_ratio * 5, 1.0)) * 0.25
      + least(sw_ratio * 4, 1.0) * 0.25, 6) * 10) AS BIGINT), 9) AS INTEGER) AS q_decile
  FROM feat
)
SELECT
  ROW_NUMBER() OVER (ORDER BY
    lpad(CAST(9 - q_decile AS VARCHAR), 2, '0') || '|' || md5('cur|' || CAST(doc_id AS VARCHAR))
  ) - 1 AS pos,
  doc_id, q_decile
FROM scored
"""
