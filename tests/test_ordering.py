"""Distributed total ordering (operators/ordering.py): exact gap-free
global positions with NO single-partition window — the scale-correct
zipWithIndex for DataFrames — and the deterministic epoch shuffle
built on it."""

from __future__ import annotations

import hashlib
import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, ".")

from pulsar_elasticsearch_sync_rs_spark.operators.ordering import (
    epoch_shuffle,
    global_index,
)
from pulsar_elasticsearch_sync_rs_spark.sources.batch import read_table


def test_global_index_exact_gapfree_and_ordered(spark):
    df = spark.createDataFrame(
        [(i, f"v{i % 7}") for i in range(101)], "id long, v string"
    ).repartition(5)
    out = global_index(df, "id", num_partitions=4).collect()
    assert sorted(r.pos for r in out) == list(range(101))
    # positions follow the order column exactly
    by_pos = sorted(out, key=lambda r: r.pos)
    assert [r.id for r in by_pos] == sorted(r.id for r in out)
    # payload columns survive untouched
    assert all(r.v == f"v{r.id % 7}" for r in out)


def test_global_index_start_offset_ties_and_guards(spark):
    df = spark.createDataFrame([(i % 3,) for i in range(30)], "k long")
    out = global_index(df, "k", start=100, num_partitions=3).collect()
    # ties: every row still gets a distinct position, count preserved
    assert sorted(r.pos for r in out) == list(range(100, 130))
    # tied keys occupy contiguous position blocks (range partitioner
    # keeps equal keys together; sort is by k)
    by_pos = sorted(out, key=lambda r: r.pos)
    assert [r.k for r in by_pos] == sorted(r.k for r in out)
    with pytest.raises(ValueError, match="no column"):
        global_index(df, "nope")
    with pytest.raises(ValueError, match="already exists"):
        global_index(df.withColumn("pos", F.lit(1)), "k")


def test_global_index_empty_input_total(spark):
    df = spark.createDataFrame([], "id long, v string")
    assert global_index(df, "id").collect() == []


def test_global_index_pins_row_count_and_two_level_uses_it(spark):
    """Round-15 optimization: global_index pins its exact row count on
    the returned frame (the offsets collect already summed it), and
    epoch_shuffle_two_level over that frame builds its permutation
    plan with ZERO extra Spark jobs (no df.count()), with a mapping
    identical to the explicit-n form."""
    from pulsar_elasticsearch_sync_rs_spark.operators.ordering import (
        epoch_shuffle_two_level,
    )

    df = spark.createDataFrame([(i,) for i in range(137)], "doc_id long")
    base = global_index(df, "doc_id", out_col="pos", num_partitions=4)
    assert base._graft_row_count == 137
    # start=k offsets the positions but not the count
    assert global_index(df, "doc_id", out_col="p2", start=5)._graft_row_count == 137
    # a derived frame must NOT inherit the pin (its count may differ)
    assert not hasattr(base.filter(F.col("pos") < 10), "_graft_row_count")

    sc = spark.sparkContext
    sc.setJobGroup("two_level_pinned_n", "zero-job witness")
    try:
        out = epoch_shuffle_two_level(
            base, "doc_id", epoch=3, block_size=16, out_col="pos2"
        )
        jobs = sc.statusTracker().getJobIdsForGroup("two_level_pinned_n")
        assert list(jobs) == []  # plan built without a count job
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    want = {
        (r.doc_id, r.pos2)
        for r in epoch_shuffle_two_level(
            base, "doc_id", epoch=3, block_size=16, out_col="pos2", n=137
        ).collect()
    }
    assert {(r.doc_id, r.pos2) for r in out.collect()} == want


def test_global_index_plan_no_window(spark):
    """The reason this operator exists: row_number().over(orderBy)
    plans a single partition holding the whole dataset. The operator's
    plan must contain NO window, and the result must keep the range
    exchange's partition count (the work stays distributed)."""
    df = spark.createDataFrame([(i,) for i in range(1000)], "id long")
    out = global_index(df, "id", num_partitions=8)
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Window" not in plan
    assert out.rdd.getNumPartitions() == 8


def test_epoch_shuffle_matches_reference_and_is_stable(spark, sf_dir):
    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    got = {
        (r.pos, r.doc_id)
        for r in epoch_shuffle(docs, "doc_id", epoch=7).collect()
    }
    ids = [r.doc_id for r in docs.collect()]
    order = sorted(
        ids, key=lambda i: hashlib.md5(f"ep7|{i}".encode()).hexdigest()
    )
    want = {(p, i) for p, i in enumerate(order)}
    assert got == want
    # partitioning-independent: same permutation from a skewed layout
    got2 = {
        (r.pos, r.doc_id)
        for r in epoch_shuffle(
            docs.repartition(13), "doc_id", epoch=7
        ).collect()
    }
    assert got2 == got
    # a different epoch is a different permutation
    got8 = {
        (r.pos, r.doc_id)
        for r in epoch_shuffle(docs, "doc_id", epoch=8).collect()
    }
    assert {i for _, i in got8} == set(ids) and got8 != got
    # the shuffle key is internal — output schema is input + pos
    assert set(epoch_shuffle(docs, "doc_id", epoch=7).columns) == {
        "doc_id",
        "pos",
    }


def test_murmur3_int32_matches_spark_hash(spark):
    """The driver-side murmur3 twin agrees bit-for-bit with ``F.hash``
    (same seed 42 as HashPartitioning) on the int32 edge values and a
    seeded random sample — a Spark hash change fails here, not as a
    silently misplaced fast-path bucket."""
    import random

    from pulsar_elasticsearch_sync_rs_spark.operators.ordering import (
        _murmur3_int32,
    )

    rng = random.Random(11)
    xs = [0, 1, -1, -(2**31), 2**31 - 1] + [
        rng.randrange(-(2**31), 2**31) for _ in range(500)
    ]
    got = spark.createDataFrame([(x,) for x in xs], "x int").select(
        "x", F.hash("x").alias("h")
    ).collect()
    assert {r.x: r.h for r in got} == {x: _murmur3_int32(x) for x in xs}


@pytest.mark.parametrize("n", [1, 3, 8, 13, 32])
def test_hash_partition_keys_land_in_their_partition(spark, n):
    """``_hash_partition_keys(n)[b]`` is routed to physical partition b
    by ``repartition(n, col)`` — the placement global_index's uniform
    fast path builds its range contract on."""
    from pulsar_elasticsearch_sync_rs_spark.operators.ordering import (
        _hash_partition_keys,
    )

    keys = _hash_partition_keys(n)
    rows = (
        spark.createDataFrame(list(enumerate(keys)), "b int, k int")
        .repartition(n, "k")
        .select("b", F.spark_partition_id().alias("pid"))
        .collect()
    )
    assert len(rows) == n
    assert all(r.b == r.pid for r in rows)


def test_global_index_uniform_fast_path_matches_classic(spark):
    """On the (md5 prefix, md5 hex) frame epoch_shuffle builds, the
    closed-form uniform path assigns every id the same position as the
    sampled range path."""
    key = F.md5(F.concat(F.lit("ep4|"), F.col("id").cast("string")))
    df = (
        spark.range(3000)
        .withColumn("__shuffle_pref", F.conv(F.substring(key, 1, 15), 16, 10).cast("long"))
        .withColumn("__shuffle_key", key)
    )
    order = ["__shuffle_pref", "__shuffle_key"]

    def positions(**kw):
        out = global_index(df, order, num_partitions=8, **kw)
        return {r.id: r.pos for r in out.select("id", "pos").collect()}

    fast = positions(uniform_long_range=(0, 16**15))
    assert fast == positions()
    assert sorted(fast.values()) == list(range(3000))


def _executed_plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.mark.parametrize("uniform", [False, True], ids=["classic", "uniform"])
def test_global_index_above_4096_partitions(spark, uniform):
    """Past the old 4096-partition ceiling both paths keep their one
    shape: exact gap-free positions in key order, offsets from the
    folded literal (no broadcast), and the uniform path still without
    a range sampler or a checkpoint."""
    n = 20_000
    df = spark.range(n).select(
        ((F.col("id") * 7919) % n).alias("k"), F.col("id")
    )
    kw = {"uniform_long_range": (0, n)} if uniform else {}
    out = global_index(df, "k", num_partitions=4097, **kw)
    plan = _executed_plan(out)
    assert "BroadcastExchange" not in plan and "BroadcastHashJoin" not in plan
    if uniform:
        assert "rangepartitioning" not in plan.lower()
        assert "ExistingRDD" not in plan  # no localCheckpoint scan
    got = [(r.k, r.pos) for r in out.select("k", "pos").collect()]
    assert sorted(pos for _, pos in got) == list(range(n))
    assert all(k == pos for k, pos in got)  # keys are 0..n-1


def test_epoch_shuffle_two_level_above_4096_blocks(spark):
    """More than 4096 blocks (block_size=1, so pos2 is the block rank
    itself) still ride the one folded literal: no broadcast, and the
    permutation is the driver's closed form."""
    from pulsar_elasticsearch_sync_rs_spark.operators.ordering import (
        _block_permutation,
        epoch_shuffle_two_level,
    )

    n = 5000
    base = spark.range(n).select(F.col("id").alias("doc_id"), F.col("id").alias("pos"))
    out = epoch_shuffle_two_level(base, "doc_id", epoch=2, block_size=1, n=n)
    plan = _executed_plan(out)
    assert "BroadcastExchange" not in plan and "BroadcastHashJoin" not in plan
    got = {r.doc_id: r.pos2 for r in out.collect()}
    assert got == dict(enumerate(_block_permutation(2, n)))
    assert sorted(got.values()) == list(range(n))


def test_global_index_reserved_column_guards(spark):
    """Round-12 ADVICE: a caller column named __pid/__mid/__off would
    be silently overwritten and dropped — fail loudly instead."""
    base = spark.createDataFrame([(1,)], "id long")
    for c in ("__pid", "__mid", "__off"):
        with pytest.raises(ValueError, match="reserved"):
            global_index(base.withColumn(c, F.lit(0)), "id")


def _pos_rowgroup_ranges(path):
    """(min, max, n_rows) of `pos` for every row group of every file."""
    import os

    import pyarrow.parquet as pq

    out = []
    for root, dirs, files in os.walk(path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for fname in files:
            if not fname.endswith(".parquet"):
                continue
            meta = pq.ParquetFile(os.path.join(root, fname)).metadata
            idx = meta.schema.names.index("pos")
            for rg in range(meta.num_row_groups):
                st = meta.row_group(rg).column(idx).statistics
                out.append((st.min, st.max, meta.row_group(rg).num_rows))
    return out


def test_persist_epoch_layout_footer_pruned_position_reads(
    spark, sf_dir, tmp_path
):
    """The data-loader artifact (round-12 VERDICT item 2): the epoch
    layout's files/row groups must each own a CONTIGUOUS DISJOINT
    position run covering 0..n−1 exactly — witnessed from the parquet
    footers, not asserted — and a position-band read must (a) push the
    band to the scan, (b) touch only the row groups whose footer range
    intersects it, and (c) return exactly the epoch_shuffle rows."""
    from pulsar_elasticsearch_sync_rs_spark.operators.ordering import (
        persist_epoch_layout,
        read_position_range,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    n = docs.count()
    path = str(tmp_path / "epoch3")
    persist_epoch_layout(
        docs, "doc_id", epoch=3, path=path, max_records_per_file=40
    )

    ranges = _pos_rowgroup_ranges(path)
    assert len(ranges) >= 8, "need many row groups for pruning to mean anything"
    # disjoint contiguous runs covering 0..n-1: sorted by min, each
    # range is exactly its row count wide and starts where the
    # previous ended — the pre_ranged write preserved the global order
    ranges.sort()
    nxt = 0
    for mn, mx, cnt in ranges:
        assert mn == nxt and mx == mn + cnt - 1, (mn, mx, cnt, nxt)
        nxt = mx + 1
    assert nxt == n

    # central ~10% band: the footer skip-rate — only the intersecting
    # row groups are readable under the pushed predicate
    lo, hi = int(n * 0.45), int(n * 0.55)
    hit = [r for r in ranges if not (r[1] < lo or r[0] > hi)]
    assert len(hit) <= max(2, len(ranges) // 4), (
        f"band [{lo},{hi}] hits {len(hit)}/{len(ranges)} row groups — "
        "layout not pruning"
    )

    band = read_position_range(spark, path, lo, hi)
    plan = band._jdf.queryExecution().executedPlan().toString()
    assert "GreaterThanOrEqual(pos," in plan and "LessThanOrEqual(pos," in plan
    got = {(r.pos, r.doc_id) for r in band.collect()}
    want = {
        (r.pos, r.doc_id)
        for r in epoch_shuffle(docs, "doc_id", epoch=3).collect()
        if lo <= r.pos <= hi
    }
    assert got == want and len(got) == hi - lo + 1

    # the general (re-range) writer gives the same layout contract for
    # any enumerated frame — e.g. a curriculum order written later
    from pulsar_elasticsearch_sync_rs_spark.operators.ordering import (
        persist_ordered,
    )

    cur = global_index(docs, "doc_id", out_col="pos")
    path2 = str(tmp_path / "curriculum")
    persist_ordered(cur, path2, n_files=4, max_records_per_file=40)
    r2 = sorted(_pos_rowgroup_ranges(path2))
    nxt = 0
    for mn, mx, cnt in r2:
        assert mn == nxt and mx == mn + cnt - 1
        nxt = mx + 1
    assert nxt == n


def test_position_shards_balanced_disjoint_total(spark, sf_dir, tmp_path):
    """The sharded-epoch read: ranks get contiguous ranges differing
    by ≤1 in size, disjoint, covering 0..n−1; each rank's
    read_position_range returns exactly its slice of the permutation
    (every row to exactly one rank); surplus ranks get empty ranges
    rather than errors."""
    from pulsar_elasticsearch_sync_rs_spark.operators.ordering import (
        persist_epoch_layout,
        position_shards,
        read_position_range,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    n = docs.count()
    path = str(tmp_path / "epoch_shards")
    persist_epoch_layout(docs, "doc_id", epoch=5, path=path,
                         max_records_per_file=40)

    shards = position_shards(spark, path, 7)
    sizes = [hi - lo + 1 for _, lo, hi in shards]
    assert sum(sizes) == n and max(sizes) - min(sizes) <= 1
    assert shards[0][1] == 0 and shards[-1][2] == n - 1
    for (_, _, h0), (_, l1, _) in zip(shards, shards[1:]):
        assert l1 == h0 + 1

    seen: dict = {}
    for r, lo, hi in shards:
        for row in read_position_range(spark, path, lo, hi).collect():
            assert row.pos not in seen
            seen[row.pos] = (r, row.doc_id)
    assert len(seen) == n
    # shard union == the epoch permutation
    want = {
        r.pos: r.doc_id
        for r in epoch_shuffle(docs, "doc_id", epoch=5).collect()
    }
    assert {p: d for p, (_, d) in seen.items()} == want

    # more ranks than rows: empty tails, no crash
    over = position_shards(spark, path, n + 5)
    assert sum(max(0, hi - lo + 1) for _, lo, hi in over) == n
    assert all(hi < lo for _, lo, hi in over[n:])

    import pytest as _pytest

    with _pytest.raises(ValueError, match="n_ranks"):
        position_shards(spark, path, 0)


def test_layout_meta_sidecar_shards_without_a_scan(spark, sf_dir, tmp_path):
    """Round-13 VERDICT item 2: persist_ordered records n + per-file
    position runs in a _meta.json sidecar (sourced from the parquet
    footers it just wrote — no data scan), and position_shards reads
    THAT instead of counting the corpus. The no-full-scan witness is
    structural: with the sidecar present, position_shards needs no
    SparkSession at all (spark=None)."""
    import json
    import os

    from pulsar_elasticsearch_sync_rs_spark.operators.ordering import (
        persist_epoch_layout,
        position_shards,
        read_layout_meta,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    n = docs.count()
    path = str(tmp_path / "meta_layout")
    persist_epoch_layout(docs, "doc_id", epoch=2, path=path,
                         max_records_per_file=40)

    # sidecar exists, is footer-exact, and is invisible to the Spark
    # reader (underscore convention — the layout read is unchanged)
    meta = read_layout_meta(path)
    assert meta is not None and meta["n"] == n and meta["pos_col"] == "pos"
    assert meta["pos_min"] == 0 and meta["pos_max"] == n - 1
    assert sum(f["n_rows"] for f in meta["files"]) == n
    ranges = sorted(
        (f["pos_min"], f["pos_max"], f["n_rows"]) for f in meta["files"]
    )
    nxt = 0
    for mn, mx, cnt in ranges:
        assert mn == nxt and mx >= mn and cnt >= 1
        nxt = mx + 1
    assert nxt == n
    assert spark.read.parquet(path).count() == n

    # the shards path runs WITHOUT a SparkSession — no count job exists
    shards = position_shards(None, path, 7)
    sizes = [hi - lo + 1 for _, lo, hi in shards]
    assert sum(sizes) == n and max(sizes) - min(sizes) <= 1
    assert shards[0][1] == 0 and shards[-1][2] == n - 1

    # a sidecar-less layout (foreign writer) still works via the
    # count fallback — delete the sidecar and pass a real session
    os.remove(os.path.join(path, "_meta.json"))
    assert position_shards(spark, path, 7) == shards

    # torn/mismatched sidecar (different pos_col) is ignored, not used
    with open(os.path.join(path, "_meta.json"), "w", encoding="utf-8") as fh:
        json.dump({"n": 1, "pos_col": "other", "files": []}, fh)
    assert position_shards(spark, path, 7) == shards


def test_epoch_layout_versioned_write_read_prune(spark, sf_dir, tmp_path):
    """Round-13 VERDICT item 3: epochs live under path/ep<N> with an
    atomically-repointed _CURRENT marker and bounded-retention prune —
    the IVF-PQ versioning recipe on the training loader. Untouched
    epochs keep their full footer-pruned read contract."""
    import os

    import pytest as _pytest

    from pulsar_elasticsearch_sync_rs_spark.operators.ordering import (
        epoch_shuffle,
        persist_epoch_layout_versioned,
        position_shards,
        prune_epoch_layouts,
        read_position_range,
        resolve_epoch_layout,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    n = docs.count()
    root = str(tmp_path / "epochs")
    for ep in (1, 2, 3):
        d = persist_epoch_layout_versioned(
            docs, "doc_id", epoch=ep, path=root, max_records_per_file=40
        )
        assert d == os.path.join(root, f"ep{ep}")
        assert resolve_epoch_layout(root) == d  # marker repointed

    # an older RETAINED epoch stays readable by explicit number, with
    # the band read still footer-pruned (PushedFilters) and exactly
    # the epoch-2 permutation — epochs differ, so this also witnesses
    # that the marker did not alias the layouts
    lo, hi = (n * 45) // 100, (n * 55) // 100
    ep2 = resolve_epoch_layout(root, epoch=2)
    band = read_position_range(spark, ep2, lo, hi)
    plan = band._jdf.queryExecution().executedPlan().toString()
    assert "GreaterThanOrEqual(pos," in plan and "LessThanOrEqual(pos," in plan
    got = {(r.pos, r.doc_id) for r in band.collect()}
    want = {
        (r.pos, r.doc_id)
        for r in epoch_shuffle(docs, "doc_id", epoch=2).collect()
        if lo <= r.pos <= hi
    }
    assert got == want and len(got) == hi - lo + 1
    # and it differs from epoch 3's permutation over the same band
    cur_band = {
        (r.pos, r.doc_id)
        for r in read_position_range(
            spark, resolve_epoch_layout(root), lo, hi
        ).collect()
    }
    assert cur_band != got

    # each versioned epoch carries its own sidecar — rank resolution
    # over the CURRENT epoch without any session
    shards = position_shards(None, resolve_epoch_layout(root), 5)
    assert sum(hi - lo + 1 for _, lo, hi in shards) == n

    # prune keep=1: ep1 deleted, ep2 retained as fallback, ep3 current
    rep = prune_epoch_layouts(root, keep=1)
    assert rep == {"current": "ep3", "kept": ["ep2", "ep3"], "deleted": ["ep1"]}
    assert not os.path.isdir(os.path.join(root, "ep1"))
    with _pytest.raises(ValueError, match="pruned or never written"):
        resolve_epoch_layout(root, epoch=1)

    # a NEWER epoch dir without a repointed marker (build in flight)
    # is never touched by the janitor
    os.makedirs(os.path.join(root, "ep4"))
    rep2 = prune_epoch_layouts(root, keep=0)
    assert rep2 == {"current": "ep3", "kept": ["ep3", "ep4"], "deleted": ["ep2"]}
    assert os.path.isdir(os.path.join(root, "ep4"))


def test_epoch_sharded_read_per_shard_bytes(spark, sf_dir, tmp_path):
    """Round-13 VERDICT item 5, the bytes-read half: each rank's slice
    read must touch only the files whose sidecar-recorded position run
    intersects its shard — ~1/N of the layout's bytes per rank, which
    is what makes the layout a shuffle-free distribution mechanism.
    (Value correctness of the full lane is graded by
    q_epoch_sharded_read's DuckDB oracle.)"""
    import os

    from pulsar_elasticsearch_sync_rs_spark.operators.ordering import (
        persist_epoch_layout,
        position_shards,
        read_layout_meta,
        read_position_range,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    n = docs.count()
    path = str(tmp_path / "shard_bytes")
    persist_epoch_layout(docs, "doc_id", epoch=4, path=path,
                         max_records_per_file=40)
    meta = read_layout_meta(path)
    sizes = {
        f["path"]: os.path.getsize(os.path.join(path, f["path"]))
        for f in meta["files"]
    }
    total = sum(sizes.values())
    n_ranks = 6
    shards = position_shards(None, path, n_ranks)
    covered = 0
    for rank, lo, hi in shards:
        touched = [
            f for f in meta["files"]
            if not (f["pos_max"] < lo or f["pos_min"] > hi)
        ]
        bytes_read = sum(sizes[f["path"]] for f in touched)
        # a rank reads its ~1/N share plus at most the two boundary
        # files its range straddles
        per_file = max(sizes.values())
        assert bytes_read <= total / n_ranks + 2 * per_file, (
            rank, bytes_read, total)
        # and the slice actually returns exactly its rows
        assert read_position_range(spark, path, lo, hi).count() == hi - lo + 1
        covered += bytes_read
    # union of shards lists every file at least once (full coverage)
    assert covered >= total


def test_interleave_by_weight_mixture_property(spark, sf_dir):
    """The blendable-dataset contract: before any source exhausts, a
    length-n prefix of the interleaved order contains each source in
    its weight ratio (deviation bounded by the source count — the
    Bresenham/virtual-time property); plus the loud-failure guards."""
    from pulsar_elasticsearch_sync_rs_spark.operators.ordering import (
        interleave_by_weight,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "lang")
    weights = {"de": 1, "en": 2, "es": 2, "fr": 3, "zh": 3}
    out = interleave_by_weight(docs, "lang", weights, "doc_id")
    rows = sorted(
        (r.pos, r.lang) for r in out.select("pos", "lang").collect()
    )
    n = len(rows)
    assert [p for p, _ in rows] == list(range(n))  # gap-free total order

    counts = {lang: 0 for lang in weights}
    for _, lang in rows:
        counts[lang] += 1
    # exhaustion vtime per source: n_s * (L / w_s); before the FIRST
    # exhaustion every source is still feeding the schedule
    lcm = 6
    first_exhaust_v = min(
        counts[s] * (lcm // w) for s, w in weights.items()
    )
    # docs scheduled strictly before that vtime
    horizon = sum(
        min(counts[s], first_exhaust_v * w // lcm)
        for s, w in weights.items()
    )
    w_total = sum(weights.values())
    for cut in (w_total, horizon // 3, horizon // 2, horizon):
        prefix = rows[:cut]
        got = {lang: 0 for lang in weights}
        for _, lang in prefix:
            got[lang] += 1
        for s, w in weights.items():
            expect = cut * w / w_total
            assert abs(got[s] - expect) <= len(weights), (
                cut, s, got[s], expect)

    import pytest as _pytest

    with _pytest.raises(ValueError, match="no weight"):
        interleave_by_weight(docs, "lang", {"en": 2}, "doc_id")
    with _pytest.raises(ValueError, match=">= 1"):
        interleave_by_weight(docs, "lang", {**weights, "en": 0}, "doc_id")


def test_epoch_two_level_block_structure_and_file_alignment(
    spark, sf_dir, tmp_path
):
    """The two-level epoch shuffle's operational claims, witnessed:
    (1) positions are an exact permutation of 0..n-1; (2) each source
    block's rows land CONTIGUOUSLY in the new order (block-level
    locality — the trade the scheme makes); (3) block ≡ physical file
    when the base layout was written with max_records_per_file ==
    block_size (sidecar-witnessed), so a reader really can stream
    files in permuted order; (4) different epochs permute differently;
    (5) empty input and bad block_size behave."""
    import pytest as _pytest

    from pulsar_elasticsearch_sync_rs_spark.operators.ordering import (
        epoch_shuffle_two_level,
        global_index,
        persist_block_aligned,
        read_layout_meta,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    n = docs.count()
    base = global_index(docs, "doc_id", out_col="pos")
    r = 40
    out = epoch_shuffle_two_level(
        base, "doc_id", epoch=7, block_size=r, pos_col="pos", out_col="pos2"
    )
    rows = {row.doc_id: (row.pos, row.pos2) for row in out.collect()}
    assert sorted(p2 for _, p2 in rows.values()) == list(range(n))

    # block-contiguity: the rows of source block b occupy one
    # contiguous pos2 run of exactly the block's size
    from collections import defaultdict

    by_block = defaultdict(list)
    for pos, pos2 in rows.values():
        by_block[pos // r].append(pos2)
    runs = []
    for b, p2s in by_block.items():
        p2s.sort()
        assert p2s[-1] - p2s[0] + 1 == len(p2s), f"block {b} fragmented"
        runs.append((p2s[0], p2s[-1]))
    runs.sort()
    assert runs[0][0] == 0 and runs[-1][1] == n - 1
    for (_, hi), (lo, _) in zip(runs, runs[1:]):
        assert lo == hi + 1

    # epochs differ
    out8 = epoch_shuffle_two_level(
        base, "doc_id", epoch=8, block_size=r, pos_col="pos", out_col="pos2"
    )
    assert {(row.doc_id, row.pos2) for row in out8.collect()} != {
        (d, p2) for d, (_, p2) in rows.items()
    }

    # physical alignment: persist_block_aligned makes file ≡ block
    # (sidecar-witnessed: every file's run starts on a block boundary
    # and spans one whole block; the short block is the max block id)
    # — streaming files in permuted block order IS streaming blocks in
    # permuted order, and the union of file runs covers 0..n-1
    path = str(tmp_path / "aligned")
    persist_block_aligned(base, path, block_size=r, num_partitions=4)
    meta = read_layout_meta(path)
    file_runs = sorted(
        (f["pos_min"], f["pos_max"]) for f in meta["files"]
    )
    assert len(file_runs) == (n + r - 1) // r
    for lo, hi in file_runs:
        assert lo % r == 0
        assert hi - lo + 1 == r or (hi == n - 1 and lo == ((n - 1) // r) * r)
    assert file_runs[0][0] == 0 and file_runs[-1][1] == n - 1
    for (_, hi), (lo, _) in zip(file_runs, file_runs[1:]):
        assert lo == hi + 1

    # guards
    with _pytest.raises(ValueError, match="block_size"):
        epoch_shuffle_two_level(base, "doc_id", epoch=1, block_size=0)
    empty = epoch_shuffle_two_level(
        base.limit(0), "doc_id", epoch=1, block_size=r
    )
    assert empty.count() == 0


def test_epoch_block_shard_read_union_equals_two_level(
    spark, sf_dir, tmp_path
):
    """The reader side of the two-level epoch (distribution by LAYOUT):
    epoch_block_shards deals the block-aligned layout's files to ranks
    from sidecar arithmetic alone (no session), each rank's
    read_epoch_block_shard loads ONLY its files, and the union over
    ranks reproduces epoch_shuffle_two_level's mapping EXACTLY —
    positions disjoint, covering, value-identical."""
    import pytest as _pytest

    from pulsar_elasticsearch_sync_rs_spark.operators.ordering import (
        epoch_block_shards,
        epoch_shuffle_two_level,
        global_index,
        persist_block_aligned,
        read_epoch_block_shard,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    n = docs.count()
    base = global_index(docs, "doc_id", out_col="pos")
    r = 40
    path = str(tmp_path / "blocks")
    persist_block_aligned(base, path, block_size=r, num_partitions=4)

    n_ranks = 3
    shards = epoch_block_shards(path, epoch=7, n_ranks=n_ranks)
    all_files = [f for _, fs in shards for f in fs]
    assert len(all_files) == len(set(all_files)) == (n + r - 1) // r
    sizes = [len(fs) for _, fs in shards]
    assert max(sizes) - min(sizes) <= 1

    got = {}
    for rank, files in shards:
        part = read_epoch_block_shard(
            spark, path, epoch=7, rank=rank, n_ranks=n_ranks, id_col="doc_id"
        )
        for row in part.collect():
            assert row.pos2 not in got
            got[row.pos2] = row.doc_id
    want = {
        row.pos2: row.doc_id
        for row in epoch_shuffle_two_level(
            base, "doc_id", epoch=7, block_size=r
        ).collect()
    }
    assert got == want and len(got) == n

    # surplus ranks get empty frames, never errors
    over = epoch_block_shards(path, epoch=7, n_ranks=n + 99)
    assert sum(len(fs) for _, fs in over) == (n + r - 1) // r

    # a misaligned layout (range-written) is refused loudly
    from pulsar_elasticsearch_sync_rs_spark.operators.ordering import (
        persist_ordered,
    )

    bad = str(tmp_path / "misaligned")
    persist_ordered(base, bad, n_files=4, max_records_per_file=r)
    with _pytest.raises(ValueError, match="not block-aligned"):
        epoch_block_shards(bad, epoch=7, n_ranks=2)


def test_multi_epoch_reads_never_rewrite_the_layout(spark, sf_dir, tmp_path):
    """The operational point of the two-level scheme, witnessed: ONE
    block-aligned layout serves THREE epochs of rank-sharded reads —
    each epoch's union matches its exact two-level mapping — and the
    parquet files' (mtime, size) are BYTE-UNTOUCHED across all of it:
    epoch N+1 moved zero data."""
    import os

    from pulsar_elasticsearch_sync_rs_spark.operators.ordering import (
        epoch_block_shards,
        epoch_shuffle_two_level,
        global_index,
        persist_block_aligned,
        read_epoch_block_shard,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id")
    n = docs.count()
    base = global_index(docs, "doc_id", out_col="pos")
    r = 40
    path = str(tmp_path / "one_layout")
    persist_block_aligned(base, path, block_size=r, num_partitions=4)

    def file_state():
        out = {}
        for root, dirs, files in os.walk(path):
            for f in files:
                p = os.path.join(root, f)
                st = os.stat(p)
                out[p] = (st.st_mtime_ns, st.st_size)
        return out

    before = file_state()
    orders = set()
    for epoch in (1, 2, 3):
        got = {}
        for rank in range(4):
            part = read_epoch_block_shard(
                spark, path, epoch=epoch, rank=rank, n_ranks=4,
                id_col="doc_id",
            )
            for row in part.collect():
                assert row.pos2 not in got
                got[row.pos2] = row.doc_id
        want = {
            row.pos2: row.doc_id
            for row in epoch_shuffle_two_level(
                base, "doc_id", epoch=epoch, block_size=r
            ).collect()
        }
        assert got == want and len(got) == n
        orders.add(tuple(got[p] for p in range(n)))
    assert len(orders) == 3  # three genuinely different epoch orders
    assert file_state() == before, "an epoch read modified the layout"


def test_round14_review_regressions(spark, tmp_path):
    """Round-14 review-pass pins: (1) epoch_block_shards over an
    EMPTY block-aligned layout returns empty shards (the zero-row
    part file carries no pos stats — was a KeyError); (2)
    position_shards(None, …) on a sidecar-less layout raises a
    pointed ValueError, not AttributeError on None.read; (3)
    epoch_shuffle_two_level refuses reserved caller columns loudly;
    (4) prune_epoch_layouts reports kept epochs in NUMERIC order past
    ep10."""
    import os

    import pytest as _pytest
    from pyspark.sql import functions as F

    from pulsar_elasticsearch_sync_rs_spark.operators.ordering import (
        epoch_block_shards,
        epoch_shuffle_two_level,
        global_index,
        persist_block_aligned,
        position_shards,
        prune_epoch_layouts,
        resolve_epoch_layout,
    )

    # (1) empty layout → empty shards, no crash
    empty = global_index(
        spark.range(0).select(F.col("id").alias("doc_id")), "doc_id",
        out_col="pos",
    )
    p_empty = str(tmp_path / "empty_layout")
    persist_block_aligned(empty, p_empty, block_size=4, num_partitions=2)
    shards = epoch_block_shards(p_empty, epoch=1, n_ranks=3)
    assert shards == [(0, []), (1, []), (2, [])]

    # (2) sidecar-less + spark=None → pointed error
    base = global_index(
        spark.range(20).select(F.col("id").alias("doc_id")), "doc_id",
        out_col="pos",
    )
    p2 = str(tmp_path / "no_sidecar")
    persist_block_aligned(base, p2, block_size=4, num_partitions=2)
    os.remove(os.path.join(p2, "_meta.json"))
    with _pytest.raises(ValueError, match="no usable _meta.json"):
        position_shards(None, p2, 3)

    # (3) reserved caller columns refused
    with _pytest.raises(ValueError, match="reserved"):
        epoch_shuffle_two_level(
            base.withColumn("__blk", F.lit(0)), "doc_id", epoch=1,
            block_size=4,
        )

    # (4) kept report numeric past ep10
    root = str(tmp_path / "many_epochs")
    os.makedirs(root)
    for ep in (2, 9, 10, 11):
        os.makedirs(os.path.join(root, f"ep{ep}"))
    with open(os.path.join(root, "_CURRENT"), "w") as fh:
        fh.write("ep11")
    rep = prune_epoch_layouts(root, keep=2)
    assert rep["kept"] == ["ep9", "ep10", "ep11"]
    assert rep["deleted"] == ["ep2"]
    assert resolve_epoch_layout(root).endswith("ep11")


def test_loader_compose_rank_slice_mixture(spark, sf_dir, tmp_path):
    """Round-15 VERDICT item 3, the property the composed loader lane
    (q_loader_compose) buys: a rank's two-level shard is a set of
    whole base BLOCKS, and every such block is a contiguous slice of
    the interleaved order — so each block the rank streams carries the
    configured language mixture (deviation ≤ #sources, the Bresenham
    bound), before any source exhausts."""
    from pulsar_elasticsearch_sync_rs_spark.operators.ordering import (
        epoch_block_shards,
        interleave_by_weight,
        persist_block_aligned,
        read_epoch_block_shard,
    )

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "lang")
    weights = {"de": 1, "en": 2, "es": 2, "fr": 3, "zh": 3}
    mixed = interleave_by_weight(docs, "lang", weights, "doc_id")
    counts = {
        r["lang"]: r["cnt"]
        for r in mixed.groupBy("lang").agg(F.count("*").alias("cnt")).collect()
    }
    lcm = 6
    first_exhaust_v = min(counts[s] * (lcm // w) for s, w in weights.items())
    horizon = sum(
        min(counts[s], first_exhaust_v * w // lcm) for s, w in weights.items()
    )

    r = 64
    path = str(tmp_path / "loader_mix")
    persist_block_aligned(mixed, path, block_size=r, num_partitions=4)
    w_total = sum(weights.values())
    n_checked = 0
    for rank, files in epoch_block_shards(path, epoch=2, n_ranks=3):
        if not files:
            continue
        rows = read_epoch_block_shard(
            spark, path, epoch=2, rank=rank, n_ranks=3, id_col="doc_id"
        ).select("pos", "lang").collect()
        by_block: dict[int, dict[str, int]] = {}
        for row in rows:
            by_block.setdefault(row.pos // r, {}).setdefault(row.lang, 0)
            by_block[row.pos // r][row.lang] += 1
        for b, langs in by_block.items():
            if (b + 1) * r > horizon:
                continue  # block extends past a source's exhaustion
            for s, w in weights.items():
                expect = r * w / w_total
                assert abs(langs.get(s, 0) - expect) <= len(weights), (
                    rank, b, s, langs.get(s, 0), expect)
            n_checked += 1
    assert n_checked >= 3  # the witness is non-vacuous
