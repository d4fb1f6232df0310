"""Vector similarity search (SURVEY.md §2.9): brute-force cosine top-k
baseline + LSH-bucketed approximate variant for the 100 TB path.

Engine-design note (measured, not guessed): Spark's higher-order
functions (``zip_with``/``aggregate``) are CodegenFallback — evaluated
interpreted, row-at-a-time, with per-element boxing. For pair-heavy
vector math that is orders of magnitude slower than the Arrow path. So
all hot vector kernels here are **vectorized Pandas UDFs over numpy**
(one BLAS call per Arrow batch); the pure-expression forms are kept
for small bounded uses and documentation. This is the idiomatic Spark
trade: JVM built-ins when they're codegen'd, Arrow+numpy when they're
not.

Scale shape:
- brute-force KNN: broadcast the (small) query set, one corpus scan,
  per-query window top-k — no corpus shuffle;
- LSH: corpus bucketed once by random-hyperplane signs (narrow map),
  candidates from bucket-equality joins on short keys;
- near-dup: bucket self-join, exact cosine verify on candidates only.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T


# --- pure-expression kernels (kept for bounded/rule-table uses) ---------

def dot(a: Column, b: Column) -> Column:
    """Sequential-fold dot product in double. Interpreted HOF — use
    only on bounded inputs (e.g. config-sized plane tables)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


# --- vectorized kernels (the hot path) ----------------------------------

def _cosine_np(a: pd.Series, b: pd.Series) -> pd.Series:
    """Cosine similarity per row, vectorized: one numpy matmul-ish pass
    per Arrow batch (float64 accumulation)."""
    am = np.array(a.tolist(), dtype=np.float64)
    bm = np.array(b.tolist(), dtype=np.float64)
    num = np.einsum("ij,ij->i", am, bm)
    den = np.linalg.norm(am, axis=1) * np.linalg.norm(bm, axis=1)
    out = np.where(den > 0, num / np.where(den == 0, 1.0, den), 0.0)
    return pd.Series(out)


cosine_udf = F.pandas_udf(_cosine_np, T.DoubleType())

# evaluate-once twin for pair-verify lanes that FILTER on the output:
# predicate pushdown clones a deterministic UDF into Filter AND Project
# (two Arrow passes over every candidate pair); the nondeterministic
# marker is purely an evaluate-once fence — the kernel is pure. It MUST
# be its own instance: PySpark's wrapper.asNondeterministic() mutates
# the shared underlying UDF (measured — deriving from cosine_udf would
# silently turn every knn lane nondeterministic too).
cosine_once = F.pandas_udf(_cosine_np, T.DoubleType()).asNondeterministic()


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity column — Arrow/numpy vectorized."""
    return cosine_udf(a, b)


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> list[list[float]]:
    """Deterministic pseudo-random hyperplanes (LCG; reproducible across
    runs and plan rebuilds) for sign-LSH bucketing."""
    planes = []
    state = seed
    for _ in range(n_planes):
        v = []
        for _ in range(dim):
            state = (state * 6364136223846793005 + 1442695040888963407) % (1 << 64)
            v.append(((state >> 11) / float(1 << 53)) * 2.0 - 1.0)
        planes.append(v)
    return planes


DEFAULT_MAX_QUERIES = 4096


def collect_bounded(df: DataFrame, max_rows: int, what: str) -> list:
    """Driver-side collect guarded by a fail-fast bound — the
    decontaminate ``_guarded`` posture applied to the KNN lanes'
    "queries are a bounded set" contract. Reads ``max_rows + 1`` rows
    through a limit (ONE job, no extra counting pass; the distributed
    plans the caller returns are untouched) and raises before the
    driver materializes an unbounded set: at 100 TB a "query set" that
    is accidentally a corpus must die with a named contract, not an
    executor-sized driver OOM or an opaque broadcast failure."""
    rows = df.limit(max_rows + 1).collect()
    if len(rows) > max_rows:
        raise ValueError(
            f"{what}: query set exceeds the bounded-collect contract "
            f"(max_queries={max_rows}): the KNN lanes collect/broadcast "
            "the query side by design - split the query set into "
            "bounded chunks, or raise max_queries if the driver and the "
            "per-query state (ADC LUTs are n_q x m x ksub doubles) can "
            "hold it"
        )
    return rows


def ensure_bounded_queries(
    queries: DataFrame, max_queries: int, what: str
) -> None:
    """Fail-fast twin of :func:`collect_bounded` for lanes that
    BROADCAST the query set instead of collecting it: one tiny
    limit-bounded probe job (reads at most ``max_queries + 1``
    single-column rows), then the caller's plan proceeds unchanged."""
    n = queries.select(F.lit(1).alias("one")).limit(max_queries + 1).count()
    if n > max_queries:
        raise ValueError(
            f"{what}: query set exceeds the bounded-broadcast contract "
            f"(max_queries={max_queries}) - split the query set into "
            "bounded chunks, or raise max_queries if every executor can "
            "hold the broadcast"
        )


def knn_cosine_bruteforce(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    max_queries: int = DEFAULT_MAX_QUERIES,
) -> DataFrame:
    """Exact top-k by cosine for each query vector. Broadcast the query
    set; one corpus scan; per-query window rank. Self-matches excluded."""
    ensure_bounded_queries(queries, max_queries, "knn_cosine_bruteforce")
    q = queries.select(F.col(query_id), F.col("query_vec"))
    joined = corpus.select(F.col(id_col), F.col(vec_col)).crossJoin(F.broadcast(q))
    sim = joined.withColumn("sim", cosine(F.col("query_vec"), F.col(vec_col))).filter(
        F.col(id_col) != F.col(query_id)
    )
    w = Window.partitionBy(query_id).orderBy(F.col("sim").desc(), F.col(id_col).asc())
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col(query_id),
            F.col(id_col).alias("neighbor_id"),
            F.col("rank"),
            F.round("sim", 6).alias("cosine_sim"),
        )
    )


def knn_cosine_lsh(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    query_id: str = "query_id",
    n_planes: int = 8,
    dim: int = 64,
    n_tables: int = 4,
    max_queries: int = DEFAULT_MAX_QUERIES,
) -> DataFrame:
    """Approximate top-k: multi-table sign-LSH pruning, then exact
    cosine rank within the candidate union. The corpus is bucketed once
    per table (narrow map); candidates come from bucket equality.

    All tables' bucket ids come from ONE
    :func:`make_multi_table_bucket_udf` Arrow pass per side (seed=42
    reproduces the former per-table loop's ``42 + 1000·t`` planes, so
    results are bit-identical), instead of n_tables UDF calls each.
    Bucket ids are table-qualified inside the kernel (``id +
    t·2^planes``) so a single ``arrays_overlap`` expresses "collides
    in ≥1 table" without cross-table false matches."""
    ensure_bounded_queries(queries, max_queries, "knn_cosine_lsh")
    udf = make_multi_table_bucket_udf(dim, n_planes, n_tables, seed=42, qualify=True)
    c = corpus.select(F.col(id_col), F.col(vec_col)).withColumn(
        "__bk", udf(F.col(vec_col))
    )
    q = queries.select(F.col(query_id), F.col("query_vec")).withColumn(
        "__qbk", udf(F.col("query_vec"))
    )
    # coalesce(..., false) blocks InferFiltersFromConstraints from
    # deriving isnotnull(__bk) out of the null-intolerant condition —
    # that inferred filter is a second full evaluation of the Arrow
    # UDF. The kernel never returns null, so semantics are unchanged.
    joined = c.join(
        F.broadcast(q),
        F.coalesce(F.arrays_overlap("__bk", "__qbk"), F.lit(False)),
    )
    sim = joined.withColumn("sim", cosine(F.col("query_vec"), F.col(vec_col))).filter(
        F.col(id_col) != F.col(query_id)
    )
    w = Window.partitionBy(query_id).orderBy(F.col("sim").desc(), F.col(id_col).asc())
    return (
        sim.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col(query_id),
            F.col(id_col).alias("neighbor_id"),
            F.col("rank"),
            F.round("sim", 6).alias("cosine_sim"),
        )
    )


def make_multi_table_bucket_udf(
    dim: int, n_planes: int, n_tables: int, seed: int = 7, qualify: bool = False
):
    """One vectorized UDF emitting the bucket id of EVERY LSH table as
    an array — a single Arrow pass instead of n_tables UDF calls.

    ``qualify=True`` adds ``t · 2^n_planes`` to table t's bucket id so
    ids are globally unique across tables and a plain
    ``arrays_overlap`` means "collides in ≥1 table" (no cross-table
    false matches). Done inside the numpy kernel rather than a
    downstream ``transform`` because nesting the UDF inside another
    expression makes Catalyst's Python-UDF extraction evaluate the
    Arrow pass once per referencing operator."""
    stacked = np.array(
        [random_hyperplanes(dim, n_planes, seed=seed + 1000 * t) for t in range(n_tables)],
        dtype=np.float64,
    )  # T × p × d
    weights = 1 << np.arange(n_planes, dtype=np.int64)
    offsets = (np.arange(n_tables, dtype=np.int64) << n_planes) if qualify else 0

    @F.pandas_udf(T.ArrayType(T.LongType()))
    def buckets_udf(vec: pd.Series) -> pd.Series:
        vm = np.array(vec.tolist(), dtype=np.float64)  # n × d
        # n × T × p sign bits → n × T packed bucket ids
        signs = np.einsum("nd,tpd->ntp", vm, stacked) > 0
        ids = ((signs * weights).sum(axis=2) + offsets).astype(np.int64)
        return pd.Series([row.tolist() for row in ids])

    return buckets_udf


def embedding_near_dup(
    df: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    threshold: float = 0.95,
    n_planes: int = 12,
    dim: int = 64,
    n_tables: int = 4,
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs at scale: multi-table
    sign-LSH bucket self-join (same explode/equi-join shape as the
    minhash band join — candidates = pairs colliding in ≥1 table),
    then exact cosine ≥ threshold on candidates only.

    Regime note (physics, not a bug): sign-LSH collision probability
    per plane is 1-θ/π, so recall 1-(1-(1-θ/π)^p)^T is high only for
    genuinely close vectors (cosine ≳0.9). For moderate thresholds
    (0.3-0.8) on near-uniform embeddings, use the IVF cell-blocked
    variant (operators.ivf.embedding_near_dup_ivf)."""
    udf = make_multi_table_bucket_udf(dim, n_planes, n_tables, seed=7)
    b = df.select(F.col(id_col), F.col(vec_col)).withColumn("buckets", udf(F.col(vec_col)))
    banded = b.select(id_col, F.posexplode("buckets").alias("tbl", "bucket"))
    x, y = banded.alias("x"), banded.alias("y")
    cand = (
        x.join(
            y,
            (F.col("x.tbl") == F.col("y.tbl"))
            & (F.col("x.bucket") == F.col("y.bucket"))
            & (F.col(f"x.{id_col}") < F.col(f"y.{id_col}")),
        )
        .select(F.col(f"x.{id_col}").alias("id_a"), F.col(f"y.{id_col}").alias("id_b"))
        .distinct()
    )
    va = df.select(F.col(id_col).alias("id_a"), F.col(vec_col).alias("__va"))
    vb = df.select(F.col(id_col).alias("id_b"), F.col(vec_col).alias("__vb"))
    # cosine_once: the threshold filter below is on the UDF's output —
    # the deterministic kernel would be cloned into Filter AND Project
    sim = cosine_once(F.col("__va"), F.col("__vb"))
    return (
        cand.join(va, "id_a")
        .join(vb, "id_b")
        .select("id_a", "id_b", F.round(sim, 6).alias("cosine_sim"))
        .filter(F.col("cosine_sim") >= threshold)
    )
