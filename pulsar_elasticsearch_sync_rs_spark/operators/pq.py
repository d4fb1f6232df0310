"""Product quantization (PQ) approximate nearest neighbor — the
memory-compression scale path beside IVF and sign-LSH (SURVEY.md §2.9).

Classic PQ (Jégou, Douze, Schmid, "Product quantization for nearest
neighbor search", IEEE TPAMI 2011 — public literature): split each
d-dim vector into ``m`` subvectors, k-means each subspace into
``ksub`` centroids, and store a vector as ``m`` small codes
(m=16 × ksub=64 on 64-dim float32 = 16 bytes/vector vs 256 — a 16×
compression; 64 centroids/subspace keeps ADC ranking sharp enough on
unstructured embeddings for the refine step to recover ≥0.95 recall,
pytest-pinned). Search is ADC (asymmetric distance computation): the
query stays exact; per-subspace dot products against the codebook form
a lookup table, and each database vector's approximate similarity is
``m`` table lookups — no vector arithmetic per candidate.

Spark-first shape:
- codebook training: the SAME bounded deterministic sample + driver
  numpy Lloyd recipe as the IVF coarse quantizer
  (operators/ivf.py:bounded_training_sample / lloyd_kmeans) — the only
  driver collect is O(sample · dim) regardless of corpus size;
- encoding: ONE distributed Arrow pass (pandas_udf) → ``array<int>``
  codes; at 100 TB the codes table is what you persist — it is 16×
  smaller than the embeddings and is the only thing the search scans;
- search: queries are tiny → their ADC lookup tables ship in the UDF
  closure; ``mapInPandas`` scans the codes, keeping a per-partition
  top-C per query (C = k·refine), so the shuffle after the scan is
  #partitions × #queries × C candidate ROWS (ids + scores, no
  vectors); an exact cosine re-rank over only those candidates
  restores high recall (the standard PQ + refine recipe).
"""

from __future__ import annotations

from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pulsar_elasticsearch_sync_rs_spark.operators.similarity import (
    DEFAULT_MAX_QUERIES,
    collect_bounded,
)
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pulsar_elasticsearch_sync_rs_spark.operators.ivf import (
    bounded_training_sample,
    lloyd_kmeans,
)
from pulsar_elasticsearch_sync_rs_spark.operators.layout_io import hadoop_fs
from pulsar_elasticsearch_sync_rs_spark.operators.similarity import cosine


def train_pq_codebooks(
    corpus: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 16,
    ksub: int = 64,
    seed: int = 42,
    max_iter: int = 20,
) -> np.ndarray:
    """Train the ``m`` per-subspace codebooks on ONE bounded sample
    (one driver collect shared across subspaces). Returns an
    (m, ksub, dsub) ndarray. dim must divide evenly into m."""
    X = bounded_training_sample(corpus, id_col, vec_col)
    dim = X.shape[1]
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m} subspaces")
    dsub = dim // m
    books = [
        lloyd_kmeans(X[:, j * dsub : (j + 1) * dsub], ksub, seed=seed + j, max_iter=max_iter)
        for j in range(m)
    ]
    if len(books[0]) < ksub:
        # lloyd_kmeans returns min(ksub, sample) centers — a short
        # sample silently degrades every codebook, so fail loudly
        raise ValueError(
            f"training sample ({len(X)} vectors) smaller than ksub={ksub}; "
            "lower ksub or supply more data"
        )
    return np.stack(books)


def make_pq_encode_udf(codebooks: np.ndarray):
    """One vectorized Arrow pass: vector → m nearest-sub-centroid codes."""
    m, ksub, dsub = codebooks.shape

    # per-subspace centroid norms are batch-invariant — compute once
    # at UDF build time, not m times per Arrow batch
    cnorm2 = (codebooks * codebooks).sum(axis=2)

    @F.pandas_udf(T.ArrayType(T.IntegerType()))
    def encode(vec: pd.Series) -> pd.Series:
        V = np.array(vec.tolist(), dtype=np.float64)
        codes = np.empty((len(V), m), dtype=np.int32)
        # one reused (n, ksub) distance buffer instead of three fresh
        # above-mmap-threshold temporaries per subspace (the Lloyd
        # trainer's round-15 finding; same bit-identical rewrite:
        # d·(−2)+||x||² == ||x||²−2·d exactly in IEEE float)
        d = np.empty((len(V), ksub))
        for j in range(m):
            sub = V[:, j * dsub : (j + 1) * dsub]
            np.matmul(sub, codebooks[j].T, out=d)
            d *= -2.0
            d += (sub * sub).sum(axis=1, keepdims=True)
            d += cnorm2[j]
            codes[:, j] = d.argmin(axis=1)
        return pd.Series([row.tolist() for row in codes])

    return encode


def _save_ndarray(spark, path: str, arr: np.ndarray) -> None:
    """Persist a SMALL numpy array (codebooks / coarse centers) as a
    one-file parquet table through the Spark writer, so the whole index
    artifact lives on the same filesystem as the codes table for ANY
    Hadoop-addressable ``path`` (s3a://, hdfs://, …). A driver-local
    ``np.save`` would silently split the artifact across filesystems
    for non-local paths and the loader could never read it back."""
    flat = arr.reshape(arr.shape[0], -1)
    rows = [
        (int(i), [int(s) for s in arr.shape], [float(x) for x in flat[i]])
        for i in range(arr.shape[0])
    ]
    (
        spark.createDataFrame(rows, "row_id INT, shape ARRAY<INT>, vals ARRAY<DOUBLE>")
        .coalesce(1)
        .write.mode("overwrite")
        .parquet(path)
    )


def _load_ndarray(spark, path: str) -> np.ndarray:
    """Inverse of :func:`_save_ndarray` — a bounded driver read
    (m·ksub·dsub / nlist·d floats, kilobytes by construction)."""
    rows = spark.read.parquet(path).orderBy("row_id").collect()
    shape = tuple(rows[0]["shape"])
    flat = np.array([r["vals"] for r in rows], dtype=np.float64)
    return flat.reshape(shape)


def _resolve_ivfpq_root(path: str) -> str:
    """The directory the IVF-PQ artifact currently lives in: ``path``
    itself for a flat :func:`persist_ivfpq_index` build, or
    ``path/<version>`` once :func:`maintain_ivfpq_index` has retrained
    and atomically repointed the ``_CURRENT`` marker (the mview
    versioned-snapshot recipe, streaming/mview.py). Every reader —
    search, append, drift check — resolves through this, so a retrain
    is one atomic marker repoint away from being visible and a reader
    never observes a half-written artifact. Marker probing rides
    :mod:`layout_io` (round 15): local paths stay a driver ``os``
    check, ``hdfs://``/``s3a://``/``file://`` paths go through the
    Hadoop FS API — the same remote reach the training-layout
    envelope has."""
    from . import layout_io

    text = layout_io.read_text(layout_io.join(path, "_CURRENT"))
    if text:
        version = text.strip()
        if version:
            return layout_io.join(path, version)
    return path


def encode_pq(
    corpus: DataFrame,
    codebooks: np.ndarray,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """The persistable PQ codes table: (id, codes). 16× smaller than
    the embeddings at m=16 codes/vector — at 100 TB this table is the
    search's only scan input."""
    encode = make_pq_encode_udf(codebooks)
    return corpus.select(F.col(id_col), encode(F.col(vec_col)).alias("codes"))


def persist_pq_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 16,
    ksub: int = 64,
    seed: int = 42,
) -> np.ndarray:
    """The one-off offline pass of PQ at scale (mirror of
    persist_ivf_index): train the codebooks, encode the corpus ONCE,
    and write the codes table + codebooks under ``path``. Every
    subsequent search reads the 16×-smaller codes table and never
    re-runs the encode UDF (plan-asserted in tests) — at 100 TB the
    codes table is the only thing a query scans; re-encoding per query
    would re-read the full embeddings every time. Returns the trained
    (m, ksub, dsub) codebooks. The codebooks sidecar is written through
    the Spark writer too (see :func:`_save_ndarray`), so the artifact
    is one coherent directory on whatever filesystem ``path`` names."""
    import posixpath

    codebooks = train_pq_codebooks(
        corpus, id_col=id_col, vec_col=vec_col, m=m, ksub=ksub, seed=seed
    )
    encode_pq(corpus, codebooks, id_col=id_col, vec_col=vec_col).write.mode(
        "overwrite"
    ).parquet(posixpath.join(path, "codes"))
    _save_ndarray(corpus.sparkSession, posixpath.join(path, "codebooks"), codebooks)
    return codebooks


def load_pq_index(spark, path: str):
    """Read back a persisted PQ artifact → (codes DataFrame, codebooks).
    The codebooks are tiny (m·ksub·dsub floats); the codes table stays
    distributed."""
    import posixpath

    codes = spark.read.parquet(posixpath.join(path, "codes"))
    codebooks = _load_ndarray(spark, posixpath.join(path, "codebooks"))
    return codes, codebooks


def knn_cosine_pq(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    m: int = 16,
    ksub: int = 64,
    refine: int = 8,
    seed: int = 42,
    max_queries: int = DEFAULT_MAX_QUERIES,
) -> DataFrame:
    """Approximate top-k by cosine: ADC scan over PQ codes → top
    (k·refine) candidates per query → exact cosine re-rank on the
    candidates only. Output schema matches the other KNN lanes.
    Trains + encodes inline — the self-contained form; production
    persists once with :func:`persist_pq_index` and searches with
    :func:`knn_cosine_pq_persisted`."""
    codebooks = train_pq_codebooks(
        corpus, id_col=id_col, vec_col=vec_col, m=m, ksub=ksub, seed=seed
    )
    codes = encode_pq(corpus, codebooks, id_col=id_col, vec_col=vec_col)
    return pq_search(
        codes,
        codebooks,
        corpus,
        queries,
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        query_id=query_id,
        refine=refine,
        max_queries=max_queries,
    )


def knn_cosine_pq_persisted(
    spark,
    path: str,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    refine: int = 8,
    max_queries: int = DEFAULT_MAX_QUERIES,
) -> DataFrame:
    """Search against a :func:`persist_pq_index` artifact: the plan
    scans the persisted codes table (no encode UDF stage — asserted in
    tests); ``corpus`` is touched only by the candidate re-rank join,
    which reads O(#queries · k·refine) ids."""
    codes, codebooks = load_pq_index(spark, path)
    return pq_search(
        codes,
        codebooks,
        corpus,
        queries,
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        query_id=query_id,
        refine=refine,
        max_queries=max_queries,
    )


def pq_search(
    codes: DataFrame,
    codebooks: np.ndarray,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    refine: int = 8,
    max_queries: int | None = None,
) -> DataFrame:
    """ADC scan + exact re-rank over an already-encoded codes table —
    the shared engine behind the inline, persisted, and IVF-PQ
    entries (the latter adds a cell-probe mask)."""
    return _adc_scan_and_rerank(
        codes,
        codebooks,
        corpus,
        queries,
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        query_id=query_id,
        refine=refine,
        probe_bool=None,
        max_queries=max_queries,
    )


def _adc_scan_and_rerank(
    codes: DataFrame,
    codebooks: np.ndarray,
    corpus: DataFrame,
    queries: DataFrame,
    k: int,
    id_col: str,
    vec_col: str,
    query_id: str,
    refine: int,
    probe_bool,
    q_rows=None,
    max_queries: int | None = None,
    rerank_q_rows=None,
) -> DataFrame:
    """One implementation of ADC scan → global top-C → exact re-rank.
    ``probe_bool`` is None (scan every row for every query) or an
    (n_q, nlist) boolean lookup — then ``codes`` must carry a
    ``cell_id`` column and each query ranks only rows whose cell it
    probes (``mask = probe_bool[q, cells]``, fully vectorized — cells
    are bounded ints, so the lookup is one fancy-index, no per-row
    Python). ``rerank_q_rows`` decouples the exact re-rank's query
    vectors from the ADC ranking's: the PCA-composed lane ranks codes
    in the REDUCED space (``q_rows`` projected) but re-ranks with the
    ORIGINAL vectors against the original corpus — pass those here
    (defaults to ``q_rows``, same order required)."""
    m, _ksub, _dsub = codebooks.shape

    # queries are a bounded set by contract (the other KNN lanes
    # broadcast them); their ADC tables are tiny: Q × m × ksub doubles
    if q_rows is None:
        q_rows = collect_bounded(
            queries.select(F.col(query_id), F.col("query_vec")),
            DEFAULT_MAX_QUERIES if max_queries is None else max_queries,
            "pq search",
        )
    if not q_rows:
        raise ValueError("pq search: empty query set")
    q_ids = [r[query_id] for r in q_rows]
    Q = np.array([r["query_vec"] for r in q_rows], dtype=np.float64)
    n_q, dim = Q.shape
    dsub = dim // m
    # luts[q, j, c] = dot(q_sub_j, codebook[j, c]); cnorm2[j, c] = ||c||²
    luts = np.einsum("qjd,jcd->qjc", Q.reshape(n_q, m, dsub), codebooks)
    cnorm2 = (codebooks * codebooks).sum(axis=2)
    q_norms = np.linalg.norm(Q, axis=1)
    n_cand = k * refine
    cand_schema = T.StructType(
        [
            T.StructField("query_ix", T.IntegerType()),
            T.StructField(id_col, corpus.schema[id_col].dataType),
            T.StructField("adc_sim", T.DoubleType()),
        ]
    )

    def scan_partition(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # running per-partition top-n_cand per query across batches
        best_ids = [[] for _ in range(n_q)]
        best_sims = [[] for _ in range(n_q)]
        j_ix = np.arange(m)
        for pdf in batches:
            if pdf.empty:
                continue
            C = np.array(pdf["codes"].tolist(), dtype=np.int64)  # (n, m)
            ids = pdf[id_col].to_numpy()
            cells = pdf["cell_id"].to_numpy() if probe_bool is not None else None
            approx_norm = np.sqrt(cnorm2[j_ix[None, :], C].sum(axis=1))  # (n,)
            den = np.where(approx_norm == 0, 1.0, approx_norm)
            for q in range(n_q):
                if probe_bool is not None:
                    mask = probe_bool[q, cells]
                    if not mask.any():
                        continue
                    dots = luts[q][j_ix[None, :], C[mask]].sum(axis=1)
                    sims = dots / (q_norms[q] * den[mask])
                    ids_q = ids[mask]
                else:
                    dots = luts[q][j_ix[None, :], C].sum(axis=1)  # (n,)
                    sims = dots / (q_norms[q] * den)
                    ids_q = ids
                top = (
                    np.argpartition(-sims, n_cand - 1)[:n_cand]
                    if len(sims) > n_cand
                    else np.arange(len(sims))
                )
                best_ids[q].append(ids_q[top])
                best_sims[q].append(sims[top])
        out_q, out_id, out_sim = [], [], []
        for q in range(n_q):
            if not best_ids[q]:
                continue
            ids_all = np.concatenate(best_ids[q])
            sims_all = np.concatenate(best_sims[q])
            top = (
                np.argpartition(-sims_all, n_cand - 1)[:n_cand]
                if len(sims_all) > n_cand
                else np.arange(len(sims_all))
            )
            out_q.extend([q] * len(top))
            out_id.extend(ids_all[top].tolist())
            out_sim.extend(sims_all[top].tolist())
        yield pd.DataFrame({"query_ix": out_q, id_col: out_id, "adc_sim": out_sim})

    local_cands = codes.mapInPandas(scan_partition, cand_schema)
    # global top n_cand per query over the (tiny) per-partition winners
    w_adc = Window.partitionBy("query_ix").orderBy(
        F.col("adc_sim").desc(), F.col(id_col).asc()
    )
    cands = (
        local_cands.withColumn("__r", F.row_number().over(w_adc))
        .filter(F.col("__r") <= n_cand)
        .drop("__r", "adc_sim")
    )
    # exact re-rank: join candidates (ids only) back to their vectors,
    # broadcast the query vectors, window top-k — candidates are
    # O(#queries · k·refine) rows no matter the corpus size
    # build directly from the already-collected rows (preserving the
    # caller's id/vector types): the driver holds the vectors, so
    # re-evaluating the queries lineage plus a join to reattach them
    # would be a second pointless job
    q_schema = T.StructType(
        [
            T.StructField("query_ix", T.IntegerType()),
            T.StructField("q_id", queries.schema[query_id].dataType),
            T.StructField("query_vec", queries.schema["query_vec"].dataType),
        ]
    )
    rr_rows = q_rows if rerank_q_rows is None else rerank_q_rows
    qdf = queries.sparkSession.createDataFrame(
        [(int(i), qid, r["query_vec"]) for i, (qid, r) in enumerate(zip(q_ids, rr_rows))],
        q_schema,
    )
    exact = (
        cands.join(corpus.select(id_col, vec_col), id_col)
        .join(F.broadcast(qdf), "query_ix")
        .filter(F.col(id_col) != F.col("q_id"))
        .withColumn("sim", cosine(F.col("query_vec"), F.col(vec_col)))
    )
    w = Window.partitionBy("q_id").orderBy(F.col("sim").desc(), F.col(id_col).asc())
    return (
        exact.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("q_id").alias(query_id),
            F.col(id_col).alias("neighbor_id"),
            F.col("rank"),
            F.round("sim", 6).alias("cosine_sim"),
        )
    )


def knn_cosine_ivfpq(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    m: int = 16,
    ksub: int = 64,
    nlist: int = 8,
    nprobe: int = 4,
    refine: int = 8,
    seed: int = 42,
    max_queries: int = DEFAULT_MAX_QUERIES,
) -> DataFrame:
    """IVF-PQ (Jégou et al. 2011 §V: inverted file + product codes) —
    the composition that actually runs at 100 TB: the IVF coarse
    quantizer prunes the scan to the ``nprobe`` cells nearest each
    query, and PQ/ADC ranks only those cells' 16-byte codes. The scan
    cost drops to ~nprobe/nlist of the PQ-only lane while recall stays
    within the probe radius (pytest-pinned vs brute force, and exact
    degeneration to plain PQ at nprobe=nlist).

    Spark shape: codes carry their cell_id; the union-of-probes filter
    prunes BEFORE the Python scan (with a cell-partitioned codes table
    — operators/layout.py — it becomes directory pruning), then each
    query masks to ITS probed cells inside the one shared
    ``mapInPandas`` ADC engine (a vectorized (n_q, nlist) boolean
    lookup, no per-row Python)."""
    from pulsar_elasticsearch_sync_rs_spark.operators.ivf import build_ivf_index

    assigned, centers = build_ivf_index(
        corpus, vec_col, nlist=nlist, seed=seed, id_col=id_col
    )
    codebooks = train_pq_codebooks(
        corpus, id_col=id_col, vec_col=vec_col, m=m, ksub=ksub, seed=seed
    )
    enc = make_pq_encode_udf(codebooks)
    codes = assigned.select(
        F.col(id_col), F.col("cell_id"), enc(F.col(vec_col)).alias("codes")
    )

    q_rows = collect_bounded(
        queries.select(F.col(query_id), F.col("query_vec")),
        max_queries,
        "knn_cosine_ivfpq",
    )
    if not q_rows:
        raise ValueError("knn_cosine_ivfpq: empty query set")
    Q = np.array([r["query_vec"] for r in q_rows], dtype=np.float64)
    n_q = len(Q)
    # nprobe nearest coarse cells per query (driver-side: Q is bounded)
    d2 = (
        (Q * Q).sum(axis=1, keepdims=True)
        - 2.0 * (Q @ centers.T)
        + (centers * centers).sum(axis=1)
    )
    probe = np.argsort(d2, axis=1)[:, :nprobe]  # (n_q, nprobe)
    probe_bool = np.zeros((n_q, len(centers)), dtype=bool)
    probe_bool[np.arange(n_q)[:, None], probe] = True
    probed_any = sorted(int(c) for c in np.unique(probe))

    pruned = codes.filter(F.col("cell_id").isin(probed_any))
    return _adc_scan_and_rerank(
        pruned,
        codebooks,
        corpus,
        queries,
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        query_id=query_id,
        refine=refine,
        probe_bool=probe_bool,
        q_rows=q_rows,
    )


def knn_cosine_ivfpq_pca(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    pca_dim: int = 16,
    m: int = 16,
    ksub: int = 64,
    nlist: int = 8,
    nprobe: int = 4,
    refine: int = 8,
    seed: int = 42,
    max_queries: int = DEFAULT_MAX_QUERIES,
    model=None,
) -> DataFrame:
    """IVF-PQ with a PCA front (operators/pca): fit PCA once, build the
    coarse quantizer AND the product codebooks in the ``pca_dim``-dim
    projected space, ADC-rank there, then re-rank the survivors EXACTLY
    with the ORIGINAL vectors. Same code bytes as the full-dim index
    (same m × ksub); the bytes go to the leading principal directions
    instead of being spread over noise dimensions.

    When it helps — measured, not vibes (round 10): on embeddings with
    a DECAYING spectrum (real text/image encoders: low-rank structure +
    noise; the planted pytest fixture: 6 latent dims, 99.9% energy in
    8) recall@5 at equal bytes beats full-dim PQ (0.92 → 1.00 at m=8 on
    the fixture, pytest-pinned). On a near-ISOTROPIC corpus (the
    synthetic sf fixtures: 64 dims, 65% energy in 32) truncation costs
    more than quantization-noise savings and the full-dim index wins —
    check the spectrum (``pca_fit(...).explained_var``) before choosing
    this lane; SCALE.md records both measurements.

    Scale: adds one moment pass (pca_fit) + one Arrow projection map
    over the build; the scan gets CHEAPER (luts are m × ksub regardless,
    but encode/centroid work drops with the width). Queries are bounded
    by contract; they project on the driver (numpy, microseconds)."""
    from pulsar_elasticsearch_sync_rs_spark.operators.ivf import build_ivf_index
    from pulsar_elasticsearch_sync_rs_spark.operators.pca import (
        pca_fit,
        pca_transform,
    )

    if pca_dim % m != 0:
        raise ValueError(
            f"pca_dim {pca_dim} not divisible by m={m} subspaces — equal-byte "
            "comparison needs the same m; pick pca_dim a multiple of m"
        )
    if model is None:
        model = pca_fit(corpus, vec_col, k=pca_dim)
    elif model.components.shape[0] != pca_dim:
        raise ValueError(
            f"knn_cosine_ivfpq_pca: supplied model has "
            f"{model.components.shape[0]} components, pca_dim={pca_dim}"
        )
    proj = pca_transform(corpus, model, vec_col, "__proj")
    assigned, centers = build_ivf_index(
        proj, "__proj", nlist=nlist, seed=seed, id_col=id_col
    )
    codebooks = train_pq_codebooks(
        proj, id_col=id_col, vec_col="__proj", m=m, ksub=ksub, seed=seed
    )
    enc = make_pq_encode_udf(codebooks)
    codes = assigned.select(
        F.col(id_col), F.col("cell_id"), enc(F.col("__proj")).alias("codes")
    )

    q_rows = collect_bounded(
        queries.select(F.col(query_id), F.col("query_vec")),
        max_queries,
        "knn_cosine_ivfpq_pca",
    )
    if not q_rows:
        raise ValueError("knn_cosine_ivfpq_pca: empty query set")
    Q = np.array([r["query_vec"] for r in q_rows], dtype=np.float64)
    Qp = (Q - model.mean) @ model.components.T  # driver-side projection
    n_q = len(Q)
    d2 = (
        (Qp * Qp).sum(axis=1, keepdims=True)
        - 2.0 * (Qp @ centers.T)
        + (centers * centers).sum(axis=1)
    )
    probe = np.argsort(d2, axis=1)[:, :nprobe]
    probe_bool = np.zeros((n_q, len(centers)), dtype=bool)
    probe_bool[np.arange(n_q)[:, None], probe] = True
    probed_any = sorted(int(c) for c in np.unique(probe))

    pruned = codes.filter(F.col("cell_id").isin(probed_any))
    proj_q_rows = [
        {query_id: r[query_id], "query_vec": Qp[i].tolist()}
        for i, r in enumerate(q_rows)
    ]
    return _adc_scan_and_rerank(
        pruned,
        codebooks,
        corpus,
        queries,
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        query_id=query_id,
        refine=refine,
        probe_bool=probe_bool,
        q_rows=proj_q_rows,
        rerank_q_rows=q_rows,
    )


def knn_cosine_ivfpq_auto(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    pca_dim: int = 16,
    m: int = 16,
    ksub: int = 64,
    nlist: int = 8,
    nprobe: int = 4,
    refine: int = 8,
    seed: int = 42,
    energy_threshold: float = 0.75,
    max_queries: int = DEFAULT_MAX_QUERIES,
    choice_out: dict | None = None,
) -> DataFrame:
    """Auto-select the IVF-PQ build from the measured spectrum decay —
    round-10 showed the PCA-composed build wins ONLY on decaying
    spectra (recall@5 0.92 → 1.00 on the low-rank fixture) and LOSES on
    near-isotropic embeddings (0.75 → 0.66 on the synthetic fixtures);
    until now the caller had to know which regime they were in.

    Selector: one ``pca_fit`` gives both the candidate model and the
    spectrum — the top-``pca_dim`` energy fraction
    ``sum(explained_var) / total_var``. At or above
    ``energy_threshold`` (default 0.75 — the measured regimes sit far
    apart: ≈0.999 on the decaying fixture vs ≈0.25–0.45 for isotropic
    64-d at pca_dim=16) the PCA build runs, REUSING the fitted model
    (no second moments pass); below it the full-dim build runs and the
    fit was the only extra corpus pass. The decision lands in
    ``choice_out`` (``build``, ``energy_fraction``, ``threshold``) so a
    caller materializing the result can persist it beside the index.

    Scope: in-memory builds (the persisted artifact family stays
    explicit — a persisted reduced-space index would need the PCA model
    stored beside the codebooks, a format change deferred until a user
    needs it)."""
    from pulsar_elasticsearch_sync_rs_spark.operators.pca import pca_fit

    # validate the config BEFORE the full-corpus moments pass — a bad
    # pca_dim must not "work" on isotropic corpora only to die after an
    # expensive fit on the first decaying one (round-11 review finding)
    if pca_dim % m != 0:
        raise ValueError(
            f"pca_dim {pca_dim} not divisible by m={m} subspaces — equal-byte "
            "comparison needs the same m; pick pca_dim a multiple of m"
        )
    probe = corpus.select(F.size(vec_col).alias("d")).first()
    if probe is not None and probe["d"] is not None:
        d = int(probe["d"])
        if pca_dim > d:
            raise ValueError(
                f"knn_cosine_ivfpq_auto: pca_dim {pca_dim} exceeds the "
                f"embedding width {d}"
            )
        if d % m != 0:
            # the FULL-DIM branch would die in train_pq_codebooks only
            # after the fit — both branches must be viable before the
            # expensive pass (round-11 review-2 finding)
            raise ValueError(
                f"knn_cosine_ivfpq_auto: embedding width {d} not divisible "
                f"by m={m} subspaces — the full-dim build needs dim % m == 0"
            )
    model = pca_fit(corpus, vec_col, k=pca_dim)
    energy = float(model.explained_var.sum() / max(model.total_var, 1e-300))
    use_pca = energy >= energy_threshold
    if choice_out is not None:
        choice_out.update(
            build="pca" if use_pca else "full",
            energy_fraction=round(energy, 6),
            pca_dim=pca_dim,
            threshold=energy_threshold,
        )
    if use_pca:
        return knn_cosine_ivfpq_pca(
            corpus, queries, k=k, id_col=id_col, vec_col=vec_col,
            query_id=query_id, pca_dim=pca_dim, m=m, ksub=ksub,
            nlist=nlist, nprobe=nprobe, refine=refine, seed=seed,
            max_queries=max_queries, model=model,
        )
    return knn_cosine_ivfpq(
        corpus, queries, k=k, id_col=id_col, vec_col=vec_col,
        query_id=query_id, m=m, ksub=ksub, nlist=nlist, nprobe=nprobe,
        refine=refine, seed=seed, max_queries=max_queries,
    )


def persist_ivfpq_index(
    corpus: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 16,
    ksub: int = 64,
    nlist: int = 8,
    seed: int = 42,
):
    """The at-rest form of IVF-PQ — the 100 TB ANN layout: codes
    written PARTITIONED BY cell_id (operators/layout.py's directory
    pruning applied to ANN), so a search's union-of-probes filter
    prunes whole cell directories at planning time and the scan never
    lists the unprobed cells' files. Coarse centers + codebooks (tiny)
    sit beside the codes — written through the Spark writer so the
    artifact is coherent on any Hadoop filesystem (:func:`_save_ndarray`).
    Returns (centers, codebooks)."""
    import posixpath

    from pulsar_elasticsearch_sync_rs_spark.operators.ivf import build_ivf_index

    assigned, centers = build_ivf_index(
        corpus, vec_col, nlist=nlist, seed=seed, id_col=id_col
    )
    codebooks = train_pq_codebooks(
        corpus, id_col=id_col, vec_col=vec_col, m=m, ksub=ksub, seed=seed
    )
    enc = make_pq_encode_udf(codebooks)
    (
        assigned.select(F.col(id_col), F.col("cell_id"), enc(F.col(vec_col)).alias("codes"))
        .write.mode("overwrite")
        .partitionBy("cell_id")
        .parquet(posixpath.join(path, "codes"))
    )
    spark = corpus.sparkSession
    _save_ndarray(spark, posixpath.join(path, "centers"), centers)
    _save_ndarray(spark, posixpath.join(path, "codebooks"), codebooks)
    # training-time quantization-error baseline (stats sidecar): the
    # yardstick append_to_ivfpq_index's drift check compares against.
    # Same bounded deterministic sample the codebooks trained on — one
    # more driver-side numpy pass, no distributed job.
    X = bounded_training_sample(corpus, id_col, vec_col)
    _save_ndarray(
        spark,
        posixpath.join(path, "stats"),
        np.array([[_pq_relative_error(X, codebooks)]]),
    )
    return centers, codebooks


def knn_cosine_ivfpq_persisted(
    spark,
    path: str,
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    nprobe: int = 4,
    refine: int = 8,
    max_queries: int = DEFAULT_MAX_QUERIES,
) -> DataFrame:
    """Search a :func:`persist_ivfpq_index` artifact: no training, no
    encoding (plan-asserted) — the probe filter lands in the scan's
    PartitionFilters, so only the probed cells' directories are read;
    the corpus is touched only by the exact re-rank's candidate join."""
    import posixpath

    root = _resolve_ivfpq_root(path)
    codes = spark.read.parquet(posixpath.join(root, "codes"))
    centers = _load_ndarray(spark, posixpath.join(root, "centers"))
    codebooks = _load_ndarray(spark, posixpath.join(root, "codebooks"))

    q_rows = collect_bounded(
        queries.select(F.col(query_id), F.col("query_vec")),
        max_queries,
        "knn_cosine_ivfpq_persisted",
    )
    if not q_rows:
        raise ValueError("knn_cosine_ivfpq_persisted: empty query set")
    Q = np.array([r["query_vec"] for r in q_rows], dtype=np.float64)
    n_q = len(Q)
    d2 = (
        (Q * Q).sum(axis=1, keepdims=True)
        - 2.0 * (Q @ centers.T)
        + (centers * centers).sum(axis=1)
    )
    probe = np.argsort(d2, axis=1)[:, :nprobe]
    probe_bool = np.zeros((n_q, len(centers)), dtype=bool)
    probe_bool[np.arange(n_q)[:, None], probe] = True
    probed_any = sorted(int(c) for c in np.unique(probe))

    pruned = codes.filter(F.col("cell_id").isin(probed_any))
    tomb = _load_tombstone_ids(spark, root, id_col)
    if tomb is not None:
        # deletes take effect immediately: one broadcast anti probe per
        # probed code row, no shuffle on the codes side (the tombstone
        # set is kept bounded by fold_ivfpq_tombstones / retrains)
        pruned = pruned.join(F.broadcast(tomb), id_col, "left_anti")
    return _adc_scan_and_rerank(
        pruned,
        codebooks,
        corpus,
        queries,
        k=k,
        id_col=id_col,
        vec_col=vec_col,
        query_id=query_id,
        refine=refine,
        probe_bool=probe_bool,
        q_rows=q_rows,
    )


def _pq_relative_error(X: np.ndarray, codebooks: np.ndarray) -> float:
    """Mean relative L2 quantization error of ``X`` under the given
    codebooks: ||x − recon(x)|| / ||x|| averaged over rows, where
    recon replaces each subvector by its nearest sub-centroid. The
    drift signal for :func:`append_to_ivfpq_index` — a batch drawn
    from the training distribution reconstructs about as well as the
    training sample did; a shifted distribution doesn't."""
    m, _ksub, dsub = codebooks.shape
    recon = np.empty_like(X)
    for j in range(m):
        sub = X[:, j * dsub : (j + 1) * dsub]
        C = codebooks[j]
        d = (
            (sub * sub).sum(axis=1, keepdims=True)
            - 2.0 * (sub @ C.T)
            + (C * C).sum(axis=1)
        )
        recon[:, j * dsub : (j + 1) * dsub] = C[d.argmin(axis=1)]
    num = np.linalg.norm(X - recon, axis=1)
    den = np.maximum(np.linalg.norm(X, axis=1), 1e-12)
    return float((num / den).mean())


def append_to_ivfpq_index(
    spark,
    batch: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    qerr_ratio_threshold: float = 1.5,
    skew_threshold: float = 4.0,
) -> dict:
    """Incremental IVF-PQ maintenance: add a batch of embeddings to a
    :func:`persist_ivfpq_index` artifact WITHOUT retraining — assign
    each batch vector to its coarse cell and PQ-encode it with the
    FROZEN quantizer/codebooks read from the artifact, then APPEND the
    new code rows into the existing ``cell_id=…`` directory layout
    (the Faiss add-vs-train split: ``index.add()`` never moves
    centroids). Searches over the artifact see the union immediately;
    the probe filter still prunes whole cell directories.

    At 100 TB this is the only sane maintenance path: a retrain means
    re-encoding the full corpus (a complete rewrite of the codes
    table), while an append touches exactly the new rows. The returned
    drift report says when the frozen quantizer has decayed enough to
    SCHEDULE that retrain:

    - ``qerr_ratio``: mean relative quantization error of a bounded
      deterministic sample of the batch vs the training-time baseline
      persisted beside the codebooks (``stats`` sidecar). A batch from
      the training distribution reconstructs comparably (ratio ≈ 1);
      drift inflates it.
    - ``cell_skew``: max/mean of per-cell code counts after the
      append — computed by scanning ONLY the partition column of the
      codes table (column pruning: no data pages read). A hot cell
      degrades probe-pruning toward a full scan.
    - ``needs_retrain``: either signal past its threshold.

    Id uniqueness across appends is the caller's contract (same as
    Faiss ``add_with_ids``). Returns the report dict."""
    import posixpath

    from pulsar_elasticsearch_sync_rs_spark.operators.ivf import (
        bounded_training_sample,
        make_cell_probe_udf,
    )

    root = _resolve_ivfpq_root(path)
    centers = _load_ndarray(spark, posixpath.join(root, "centers"))
    codebooks = _load_ndarray(spark, posixpath.join(root, "codebooks"))

    probe1 = make_cell_probe_udf(centers, nprobe=1)
    enc = make_pq_encode_udf(codebooks)
    n_appended = batch.count()
    if n_appended == 0:
        # nothing to append (an availableNow drain can hand an empty
        # batch): short-circuit instead of letting the drift math
        # average an empty sample into NaN — NaN compares False against
        # every threshold, silently disabling the retrain signal
        return {
            "n_appended": 0,
            "batch_qerr": None,
            "baseline_qerr": None,
            "qerr_ratio": None,
            "cell_skew": None,
            "needs_retrain": False,
        }
    (
        batch.select(
            F.col(id_col),
            F.element_at(probe1(F.col(vec_col)), 1).alias("cell_id"),
            enc(F.col(vec_col)).alias("codes"),
        )
        .write.mode("append")
        .partitionBy("cell_id")
        .parquet(posixpath.join(root, "codes"))
    )

    # drift signals (bounded driver compute + a partition-column-only scan)
    Xb = bounded_training_sample(batch, id_col, vec_col)
    batch_qerr = _pq_relative_error(Xb, codebooks)
    try:
        baseline_qerr = float(
            _load_ndarray(spark, posixpath.join(root, "stats"))[0, 0]
        )
    except Exception:
        baseline_qerr = None  # pre-stats artifact: skew signal only
    counts = [
        r["n"]
        for r in spark.read.parquet(posixpath.join(root, "codes"))
        .groupBy("cell_id")
        .agg(F.count(F.lit(1)).alias("n"))
        .collect()
    ]
    cell_skew = float(max(counts) / (sum(counts) / len(counts)))
    qerr_ratio = (
        batch_qerr / max(baseline_qerr, 1e-12) if baseline_qerr is not None else None
    )
    return {
        "n_appended": n_appended,
        "batch_qerr": batch_qerr,
        "baseline_qerr": baseline_qerr,
        "qerr_ratio": qerr_ratio,
        "cell_skew": cell_skew,
        "needs_retrain": bool(
            (qerr_ratio is not None and qerr_ratio > qerr_ratio_threshold)
            or cell_skew > skew_threshold
        ),
    }


def _load_tombstone_ids(spark, root: str, id_col: str):
    """The distinct tombstoned ids of an IVF-PQ artifact generation, or
    None when no delete has ever been issued against it. Absent path is
    the ONLY silent case — an unreadable tombstone table must fail
    loudly (dropping deletes silently would resurrect removed vectors,
    the layout.py corrupt-sidecar rule applied to ANN)."""
    import posixpath

    from pyspark.errors import AnalysisException

    from pulsar_elasticsearch_sync_rs_spark.operators.layout import (
        is_path_missing,
    )

    try:
        t = spark.read.parquet(posixpath.join(root, "tombstones"))
    except AnalysisException as e:
        if is_path_missing(e):
            return None
        raise
    return t.select(id_col).distinct()


def delete_from_ivfpq_index(
    spark,
    ids,
    path: str,
    id_col: str = "vec_id",
    max_pending: int = 500_000,
) -> dict:
    """Delete vectors from a persisted IVF-PQ artifact (round-10
    verdict gap: real 100 TB corpora delete — takedowns, dedup-survivor
    changes — and until now a removed document could only leave the
    index via a full retrain). Faiss calls this ``remove_ids``; at rest
    the cheap form is a TOMBSTONE: the ids are appended to a
    ``tombstones`` parquet table beside the codes, and

      - :func:`knn_cosine_ivfpq_persisted` anti-joins the probed codes
        against it (broadcast — the set is kept bounded by the folds
        below), so searches exclude deleted ids IMMEDIATELY;
      - :func:`fold_ivfpq_tombstones` physically rewrites only the
        cells that contain tombstoned codes (partition-pruned
        copy-on-write) and clears the table;
      - :func:`maintain_ivfpq_index` retrains on the corpus MINUS the
        tombstones, so a rebuilt generation starts clean.

    ``ids`` is a DataFrame carrying ``id_col`` or a Python iterable of
    ids (cast to the codes table's id dtype). Deleting an id that was
    never added is a no-op. Re-adding a previously tombstoned id is NOT
    supported until a fold/retrain clears the tombstone — same
    id-uniqueness contract as :func:`append_to_ivfpq_index`.

    ``max_pending`` makes the search-time broadcast bound ENFORCED
    rather than operational convention (round-11 ADVICE): every search
    broadcasts the whole pending tombstone set, so an unfolded backlog
    can exceed driver/broadcast memory. If this batch would push the
    pending distinct-id count past the ceiling, the call REFUSES
    (nothing is written — fold with :func:`fold_ivfpq_tombstones`, then
    retry; the default 500k ids ≈ a few MB broadcast). Returns
    ``{"n_tombstoned", "n_pending"}`` — ``n_pending`` is the post-write
    backlog, the signal to schedule a fold before the ceiling bites."""
    import posixpath

    root = _resolve_ivfpq_root(path)
    # BOTH input paths cast to the codes table's id dtype (footer-only
    # schema read): mixed dtypes across delete batches would leave the
    # tombstones directory with conflicting parquet schemas and break
    # every later read — the same type-sensitivity rule as
    # scd2_apply_partitioned's xxhash64 key cast
    id_type = {
        f.name: f.dataType
        for f in spark.read.parquet(
            posixpath.join(root, "codes")
        ).schema.fields
    }[id_col]
    existing = _load_tombstone_ids(spark, root, id_col)

    def pending_now() -> int:
        # counted lazily: only the empty-batch early returns need the
        # standalone figure (the normal path's union-distinct count
        # subsumes it — round-12 review finding)
        return existing.count() if existing is not None else 0

    if isinstance(ids, DataFrame):
        df = ids.select(F.col(id_col).cast(id_type)).distinct()
    else:
        ids = list(ids)
        if not ids:
            return {"n_tombstoned": 0, "n_pending": pending_now()}
        df = (
            spark.createDataFrame([(x,) for x in ids], [id_col])
            .select(F.col(id_col).cast(id_type))
            .distinct()
        )
    n = df.count()
    if n == 0:
        return {"n_tombstoned": 0, "n_pending": pending_now()}
    # exact post-write backlog (union distinct, both sides tiny) — the
    # ceiling check must not refuse spuriously on re-deletes of
    # already-tombstoned ids
    n_pending = (
        existing.unionByName(df).distinct().count()
        if existing is not None
        else n
    )
    if n_pending > max_pending:
        raise ValueError(
            f"delete_from_ivfpq_index: this batch would leave "
            f"{n_pending} pending tombstones > max_pending={max_pending} "
            f"(every search broadcasts the whole pending set); nothing "
            f"was written — run fold_ivfpq_tombstones first, then retry"
        )
    df.coalesce(1).write.mode("append").parquet(
        posixpath.join(root, "tombstones")
    )
    return {"n_tombstoned": n, "n_pending": n_pending}


def fold_ivfpq_tombstones(
    spark,
    path: str,
    id_col: str = "vec_id",
) -> dict:
    """Physically apply the tombstones: rewrite ONLY the cell
    partitions that contain tombstoned codes (one id-column scan to
    find them — column-pruned, no code pages read — then a dynamic
    partition overwrite of just those directories; a cell whose rows
    are ALL deleted is dropped via the filesystem, since a zero-row
    dynamic overwrite never replaces its partition), then clear the
    tombstone table. Bounds the tombstone set the search-time anti-join
    broadcasts — the compaction half of the delete protocol.

    Not concurrency-safe against in-flight searches on the same
    generation (the rewrite replaces directories a running scan may
    hold open) — run under the same quiesce rule as
    :func:`prune_ivfpq_versions`. Returns ``{"n_folded",
    "cells_rewritten", "cells_dropped"}``."""
    import posixpath

    root = _resolve_ivfpq_root(path)
    tomb = _load_tombstone_ids(spark, root, id_col)
    if tomb is None:
        return {"n_folded": 0, "cells_rewritten": [], "cells_dropped": []}
    tomb = tomb.localCheckpoint(eager=True)
    codes_path = posixpath.join(root, "codes")
    codes = spark.read.parquet(codes_path)
    hit = (
        codes.join(F.broadcast(tomb), id_col, "left_semi")
        .select("cell_id")
        .distinct()
        .collect()
    )
    cells = sorted(int(r["cell_id"]) for r in hit)
    n_folded = 0
    kept_cells: set[int] = set()
    if cells:
        # ONE disk pass over the hit cells: the checkpoint both feeds
        # the rewrite (so the dynamic overwrite never reads the files
        # it replaces) and serves the before-count (a second parquet
        # scan of every rewritten cell just for bookkeeping would be a
        # full extra read on a large artifact — round-11 review)
        hit_rows = codes.filter(F.col("cell_id").isin(cells)).localCheckpoint(
            eager=True
        )
        n_before = hit_rows.count()
        kept = hit_rows.join(F.broadcast(tomb), id_col, "left_anti")
        n_after = kept.count()
        n_folded = n_before - n_after
        kept_cells = {
            int(r["cell_id"])
            for r in kept.select("cell_id").distinct().collect()
        }
        if n_after > 0:
            (
                kept.repartition("cell_id")
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("cell_id")
                .parquet(codes_path)
            )
        # fully-emptied cells: dynamic overwrite writes nothing for
        # them, so their stale directories go via the filesystem
        for c in cells:
            if c not in kept_cells:
                fs, hp = hadoop_fs(
                    spark, posixpath.join(codes_path, f"cell_id={c}")
                )
                fs.delete(hp, True)
    fs, hp = hadoop_fs(spark, posixpath.join(root, "tombstones"))
    fs.delete(hp, True)
    return {
        "n_folded": int(n_folded),
        "cells_rewritten": sorted(kept_cells),
        "cells_dropped": [c for c in cells if c not in kept_cells],
    }


def maintain_ivfpq_index(
    spark,
    corpus: DataFrame,
    path: str,
    report: dict,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    m: int = 16,
    ksub: int = 64,
    nlist: int = 8,
    seed: int = 42,
) -> dict:
    """Close the drift loop :func:`append_to_ivfpq_index` opens: when
    the report's ``needs_retrain`` flag fired, retrain the quantizer +
    codebooks on the CURRENT corpus (original + everything appended —
    ``corpus`` is the caller's, since the index stores 16-byte codes,
    not vectors), build the full artifact into a fresh versioned
    subdirectory, and atomically repoint the ``_CURRENT`` marker (the
    mview snapshot recipe: readers either see the old complete artifact
    or the new complete artifact, never a mix — an in-flight search
    that already resolved the old root keeps reading it consistently).

    The no-drift path is deliberately inert: ``needs_retrain`` False
    returns without touching ANY file (pytest-pinned byte-identical),
    so the maintenance loop can run after every append batch with the
    retrain cost paid only when a signal fires — the Faiss operational
    split (add per batch, train on schedule) expressed as a pure
    artifact-directory protocol. Old versions are left for running
    readers; pruning them is a separate janitor concern once no reader
    can hold a pre-repoint root (same policy as mview versions).

    Returns the input report extended with ``retrained`` and (when
    retrained) ``version``."""
    from . import layout_io

    if not report.get("needs_retrain"):
        return {**report, "retrained": False}

    prev = _resolve_ivfpq_root(path)
    # version counter from the marker lineage: flat root -> v1, vN -> vN+1
    base = prev.rstrip("/").rsplit("/", 1)[-1]
    n_next = int(base[1:]) + 1 if base.startswith("v") and base[1:].isdigit() else 1
    version = f"v{n_next}"
    # fold the outgoing generation's tombstones: the rebuilt artifact
    # starts clean (no tombstones table, deleted vectors absent), so
    # the search-time anti-join set never grows across retrains
    tomb = _load_tombstone_ids(corpus.sparkSession, prev, id_col)
    if tomb is not None:
        corpus = corpus.join(F.broadcast(tomb), id_col, "left_anti")
    persist_ivfpq_index(
        corpus,
        layout_io.join(path, version),
        id_col=id_col,
        vec_col=vec_col,
        m=m,
        ksub=ksub,
        nlist=nlist,
        seed=seed,
    )
    # atomic repoint (os.replace locally; FileContext rename(OVERWRITE)
    # on Hadoop paths)
    layout_io.write_text_atomic(path, "_CURRENT", version)
    return {**report, "retrained": True, "version": version}


_FLAT_MEMBERS = ("codes", "centers", "codebooks", "stats", "tombstones")


def prune_ivfpq_versions(path: str, keep: int = 1) -> dict:
    """The janitor :func:`maintain_ivfpq_index` defers to: every retrain
    leaves its predecessor's full artifact (codes + centers + codebooks
    + stats) on disk for in-flight readers, so generations accumulate
    forever. Delete all but the newest ``keep`` PREDECESSOR generations
    — generations strictly older than the ``_CURRENT``-reachable root,
    with the pre-``v1`` FLAT build (artifacts directly in ``path``)
    counting as the oldest predecessor. ``keep=1`` therefore retains
    one complete fallback an in-flight reader may still be resolving;
    ``keep=0`` deletes every predecessor.

    Never touched, at any ``keep``:
      - the current root itself (a reader that resolved the marker a
        moment ago must keep reading a complete artifact — run the
        prune once no reader can still hold a pre-repoint root, the
        quiesce rule the maintenance docstring states);
      - versions NEWER than current: a ``v<N+1>`` directory without a
        repointed marker is a retrain in flight (or its crash residue,
        which the next retrain overwrites) — deleting it here would
        race :func:`maintain_ivfpq_index` mid-build;
      - the flat members while ``_CURRENT`` is absent (the flat root
        IS current then).

    Same :mod:`layout_io` envelope as ``_resolve_ivfpq_root`` — local
    ``os`` fast path, Hadoop FS API for remote paths (round 15).
    Returns ``{"current", "kept", "deleted"}``."""
    import os

    from . import layout_io

    cur_root = _resolve_ivfpq_root(path)
    if layout_io.is_remote(path):
        flat_is_current = cur_root.rstrip("/") == path.rstrip("/")
    else:
        flat_is_current = os.path.abspath(cur_root) == os.path.abspath(path)
    cur_name = (
        "." if flat_is_current else cur_root.rstrip("/").rsplit("/", 1)[-1]
    )
    cur_n = 0 if flat_is_current else int(cur_name[1:])
    versions = sorted(
        (int(d[1:]), d)
        for d in layout_io.list_names(path)
        if d.startswith("v")
        and d[1:].isdigit()
        and layout_io.isdir(layout_io.join(path, d))
    )
    # predecessors, oldest → newest: the flat generation (if it is not
    # itself current and has artifact members on disk), then v<n<cur>
    preds: list[str] = []
    if not flat_is_current and any(
        layout_io.exists(layout_io.join(path, m)) for m in _FLAT_MEMBERS
    ):
        preds.append(".")
    preds += [d for n, d in versions if n < cur_n]
    retained = set(preds[len(preds) - min(len(preds), max(0, int(keep))):])
    deleted: list[str] = []
    for d in preds:
        if d in retained:
            continue
        if d == ".":
            for member in _FLAT_MEMBERS:
                p = layout_io.join(path, member)
                if layout_io.exists(p):
                    layout_io.rmtree(p)
                    deleted.append(member)
        else:
            layout_io.rmtree(layout_io.join(path, d))
            deleted.append(d)
    kept = sorted(retained) + [cur_name] + [d for n, d in versions if n > cur_n]
    return {"current": cur_name, "kept": kept, "deleted": deleted}
