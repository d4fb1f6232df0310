"""Round-15 VERDICT item 2: append/compaction for the block-aligned
base layout — a growing corpus extends the layout with NEW whole
blocks (file ≡ block preserved) instead of forcing the full rewrite
the two-level scheme exists to avoid. Witnesses: every pre-existing
FULL block's file is byte-untouched (mtime/size), the short tail block
is compacted exactly once, positions stay gap-free over n+m, and the
enlarged block set serves sharded two-level epoch reads that match the
exact mapping."""

from __future__ import annotations

import sys

import pytest
from pyspark.sql import functions as F

sys.path.insert(0, ".")

from pulsar_elasticsearch_sync_rs_spark.operators import layout_io
from pulsar_elasticsearch_sync_rs_spark.operators.ordering import (
    append_block_aligned,
    epoch_block_shards,
    epoch_shuffle_two_level,
    global_index,
    persist_block_aligned,
    position_shards,
    read_epoch_block_shard,
    read_layout_meta,
)


def _docs(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.concat(F.lit("d"), F.format_string("%05d", F.col("id"))).alias(
            "doc_id"
        )
    )


def _file_stats(path):
    meta = read_layout_meta(path)
    return {
        f["path"]: layout_io.file_stat(layout_io.join(path, f["path"]))
        for f in meta["files"]
    }


def _assert_layout_sound(spark, path, n, r):
    meta = read_layout_meta(path)
    assert meta["n"] == n and meta["block_size"] == r
    rows = spark.read.parquet(path).collect()
    assert sorted(row.pos for row in rows) == list(range(n))
    # file ≡ block: every file starts on a block boundary, only the
    # last block short
    entries = [f for f in meta["files"] if f["n_rows"] > 0]
    for f in entries:
        assert f["pos_min"] % r == 0
        assert f["n_rows"] == f["pos_max"] - f["pos_min"] + 1
        if f["pos_max"] != n - 1:
            assert f["n_rows"] == r
    return {row.doc_id: row.pos for row in rows}


def test_append_fills_tail_and_adds_whole_blocks(spark, tmp_path):
    """78 rows at block 16 → tail of 14; append 50: the tail file is
    compacted (once), every FULL old block is byte-untouched, and the
    128-row layout serves exact sharded epoch reads."""
    r = 16
    path = str(tmp_path / "grow")
    base = global_index(_docs(spark, 0, 78), "doc_id", out_col="pos")
    persist_block_aligned(base, path, block_size=r, num_partitions=3)
    before = _file_stats(path)
    tail_files = {
        f["path"]
        for f in read_layout_meta(path)["files"]
        if f.get("n_rows", 0) > 0 and f["pos_min"] == (78 // r) * r
    }
    assert len(tail_files) == 1

    rep = append_block_aligned(_docs(spark, 78, 128), path, "doc_id")
    assert rep["appended"] == 50 and rep["n"] == 128
    assert rep["tail_rewritten"] is True

    mapping = _assert_layout_sound(spark, path, 128, r)
    # old docs keep their positions (0..77 were already assigned);
    # new docs are enumerated by order_col after them
    assert [d for d, p in sorted(mapping.items(), key=lambda kv: kv[1])] == [
        f"d{i:05d}" for i in range(128)
    ]

    after = _file_stats(path)
    untouched = {p for p in before if p not in tail_files}
    assert untouched <= set(after)
    for p in untouched:
        assert after[p] == before[p]  # byte-identity witness
    assert not (tail_files & set(after))  # tail file gone (compacted)

    # the enlarged block set serves the two-level epoch read exactly
    layout_df = spark.read.parquet(path)
    want = {
        (row.doc_id, row.pos2)
        for row in epoch_shuffle_two_level(
            layout_df, "doc_id", epoch=4, block_size=r,
            n=read_layout_meta(path)["n"],
        ).collect()
    }
    got = set()
    for rank, _files in epoch_block_shards(path, epoch=4, n_ranks=3):
        for row in read_epoch_block_shard(
            spark, path, epoch=4, rank=rank, n_ranks=3, id_col="doc_id"
        ).collect():
            got.add((row.doc_id, row.pos2))
    assert got == want and len(got) == 128
    # and the no-count shard resolution is fresh again post-append
    shards = position_shards(None, path, 5)
    assert sum(hi - lo + 1 for _, lo, hi in shards) == 128


def test_append_without_tail_touches_nothing(spark, tmp_path):
    """n % block_size == 0: zero pre-existing files rewritten."""
    r = 8
    path = str(tmp_path / "grow_aligned")
    base = global_index(_docs(spark, 0, 32), "doc_id", out_col="pos")
    persist_block_aligned(base, path, block_size=r, num_partitions=2)
    before = _file_stats(path)
    rep = append_block_aligned(_docs(spark, 32, 45), path, "doc_id")
    assert rep["tail_rewritten"] is False and rep["n"] == 45
    after = _file_stats(path)
    for p, st in before.items():
        assert after[p] == st
    _assert_layout_sound(spark, path, 45, r)


def test_append_smaller_than_tail_deficit_and_repeated(spark, tmp_path):
    """Appends smaller than the tail deficit just regrow the short
    block; repeated appends keep the invariant (each compacts at most
    the current tail)."""
    r = 10
    path = str(tmp_path / "grow_small")
    base = global_index(_docs(spark, 0, 7), "doc_id", out_col="pos")
    persist_block_aligned(base, path, block_size=r, num_partitions=1)
    n = 7
    for step in (2, 5, 9, 30):
        rep = append_block_aligned(_docs(spark, n, n + step), path, "doc_id")
        n += step
        assert rep["n"] == n
        _assert_layout_sound(spark, path, n, r)


def test_append_on_remote_path(spark, tmp_path):
    """The append story through the Hadoop FS API (file:// stand-in):
    incremental sidecar update, tail delete, byte-identity for full
    blocks."""
    r = 12
    path = "file://" + str(tmp_path / "grow_remote")
    base = global_index(_docs(spark, 0, 30), "doc_id", out_col="pos")
    persist_block_aligned(base, path, block_size=r, num_partitions=2)
    before = _file_stats(path)
    full_before = {
        f["path"]
        for f in read_layout_meta(path)["files"]
        if f.get("n_rows", 0) == r
    }
    rep = append_block_aligned(_docs(spark, 30, 60), path, "doc_id")
    assert rep["n"] == 60 and rep["tail_rewritten"] is True
    _assert_layout_sound(spark, path, 60, r)
    after = _file_stats(path)
    for p in full_before:
        assert after[p] == before[p]


def test_append_guards(spark, tmp_path):
    r = 8
    path = str(tmp_path / "grow_guards")
    base = global_index(_docs(spark, 0, 20), "doc_id", out_col="pos")
    persist_block_aligned(base, path, block_size=r, num_partitions=2)

    # positions are assigned here — refuse pre-positioned rows
    with pytest.raises(ValueError, match="WITHOUT positions"):
        append_block_aligned(base, path, "doc_id")
    # schema drift refused
    with pytest.raises(ValueError, match="do not match"):
        append_block_aligned(
            _docs(spark, 20, 25).withColumn("extra", F.lit(1)),
            path, "doc_id",
        )
    # no sidecar / non-block-aligned layout refused
    import os

    os.remove(os.path.join(path, "_meta.json"))
    with pytest.raises(ValueError, match="persist_block_aligned"):
        append_block_aligned(_docs(spark, 20, 25), path, "doc_id")
    # stale sidecar (foreign append) refused loudly
    persist_block_aligned(base, path, block_size=r, num_partitions=2)
    spark.read.parquet(path).limit(3).write.mode("append").parquet(path)
    with pytest.raises(ValueError, match="disagrees"):
        append_block_aligned(_docs(spark, 20, 25), path, "doc_id")
    # empty append is a no-op
    path2 = str(tmp_path / "grow_noop")
    persist_block_aligned(base, path2, block_size=r, num_partitions=2)
    rep = append_block_aligned(_docs(spark, 0, 0), path2, "doc_id")
    assert rep == {"appended": 0, "n": 20, "tail_rewritten": False,
                   "new_files": []}


def test_curation_ingest_feeds_block_aligned_layout(spark, sf_dir, tmp_path):
    """The operational composition round-15's append story exists for:
    streaming curation ADMITS docs batch by batch, and each landed
    batch=<id> slice appends to ONE block-aligned training layout —
    no rewrite of prior batches' full blocks (byte-identity held
    across appends), positions gap-free over the whole admitted
    corpus, and the final layout serves exact sharded two-level epoch
    reads. Ingest → curate → layout, end to end."""
    import os

    from pyspark.sql import functions as F

    from pulsar_elasticsearch_sync_rs_spark.sources.batch import read_table
    from pulsar_elasticsearch_sync_rs_spark.streaming.curation import (
        run_curation_ingest,
    )

    docs_src = str(tmp_path / "docs_src")
    docs = read_table(spark, sf_dir, "documents")
    docs.limit(120).repartition(3).write.parquet(docs_src)
    bench = docs.limit(0)  # no decontamination hits — not the DUT here

    stream = (
        spark.readStream.schema(spark.read.parquet(docs_src).schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(docs_src)
    )
    out_dir = str(tmp_path / "curated")
    q = run_curation_ingest(
        stream,
        bench,
        out_dir,
        str(tmp_path / "sha"),
        str(tmp_path / "ckpt"),
        available_now=True,
    )
    q.awaitTermination(300)

    # feed the layout batch by batch (landed order = arrival order)
    layout = str(tmp_path / "train_layout")
    r = 16
    batches = sorted(
        int(d.split("=")[1])
        for d in os.listdir(out_dir)
        if d.startswith("batch=")
    )
    assert len(batches) >= 2  # the composition is actually incremental
    total = 0
    full_stats: dict[str, tuple] = {}
    for b in batches:
        slice_df = spark.read.parquet(f"{out_dir}/batch={b}").select(
            "doc_id", "text", "lang", "source"
        )
        if total == 0:
            base = global_index(slice_df, "doc_id", out_col="pos")
            persist_block_aligned(base, layout, block_size=r,
                                  num_partitions=2)
            total = slice_df.count()
        else:
            rep = append_block_aligned(slice_df, layout, "doc_id")
            total += rep["appended"]
        # snapshot full blocks after each step; assert prior entries
        # never changed (tail rewrites replace the file NAME, so any
        # surviving name must be byte-identical)
        meta = read_layout_meta(layout)
        for f in meta["files"]:
            if f.get("n_rows") == r:
                st = layout_io.file_stat(layout_io.join(layout, f["path"]))
                if f["path"] in full_stats:
                    assert full_stats[f["path"]] == st
                full_stats[f["path"]] = st

    meta = read_layout_meta(layout)
    admitted = spark.read.parquet(out_dir).count()
    assert meta["n"] == total == admitted
    rows = spark.read.parquet(layout)
    assert sorted(
        row.pos for row in rows.select("pos").collect()
    ) == list(range(total))
    # the grown layout serves the zero-rewrite epoch read exactly
    want = {
        (row.doc_id, row.pos2)
        for row in epoch_shuffle_two_level(
            rows, "doc_id", epoch=3, block_size=r, n=meta["n"]
        ).collect()
    }
    got = set()
    for rank, files in epoch_block_shards(layout, epoch=3, n_ranks=4):
        for row in read_epoch_block_shard(
            spark, layout, epoch=3, rank=rank, n_ranks=4, id_col="doc_id"
        ).collect():
            got.add((row.doc_id, row.pos2))
    assert got == want and len(got) == total


def test_epoch_shard_resume_suffix_and_file_skip(spark, tmp_path):
    """Round-15: step-resume on the two-level sharded read — for any
    resume step S, the rank's frame is EXACTLY the suffix (pos2 >= S)
    of its full shard, and files wholly below S are dropped from the
    listing by sidecar arithmetic (witnessed via inputFiles), so a
    late-epoch restart reads ~the remaining bytes, not the epoch."""
    r = 16
    path = str(tmp_path / "resume")
    base = global_index(_docs(spark, 0, 150), "doc_id", out_col="pos")
    persist_block_aligned(base, path, block_size=r, num_partitions=3)

    for rank in range(3):
        full_df = read_epoch_block_shard(
            spark, path, epoch=5, rank=rank, n_ranks=3, id_col="doc_id"
        )
        full = {(row.doc_id, row.pos2) for row in full_df.collect()}
        if not full:
            continue
        lo = min(p for _, p in full)
        hi = max(p for _, p in full)
        # rank's pos2 span is contiguous (the run of permuted blocks)
        assert {p for _, p in full} == set(range(lo, hi + 1))
        for s in (lo, lo + 1, (lo + hi) // 2, hi, hi + 1):
            res_df = read_epoch_block_shard(
                spark, path, epoch=5, rank=rank, n_ranks=3,
                id_col="doc_id", start_step=s,
            )
            got = {(row.doc_id, row.pos2) for row in res_df.collect()}
            assert got == {(d, p) for d, p in full if p >= s}, (rank, s)
            if s > lo:
                skipped_blocks = (s - lo) // r
                if skipped_blocks >= 1 and got:
                    # whole files below S never enter the scan
                    assert len(res_df.inputFiles()) < len(
                        full_df.inputFiles()
                    ), (rank, s)
    # resume past the epoch end → empty frame, correct schema
    empty = read_epoch_block_shard(
        spark, path, epoch=5, rank=0, n_ranks=3, id_col="doc_id",
        start_step=10_000,
    )
    assert empty.count() == 0 and "pos2" in empty.columns


def test_epoch_block_manifest_bytes_spans_and_order(spark, tmp_path):
    """Round-15: the prefetch manifest — per rank, files in streaming
    order with byte sizes and inclusive pos2 spans, from sidecar
    arithmetic alone. Spans are disjoint, cover 0..n−1, ordered within
    each rank; bytes sum to the layout's on-disk parquet bytes; the
    file order matches epoch_block_shards; and every span agrees with
    what read_epoch_block_shard actually yields."""
    import os

    from pulsar_elasticsearch_sync_rs_spark.operators.ordering import (
        epoch_block_manifest,
    )

    r = 16
    path = str(tmp_path / "manifest")
    base = global_index(_docs(spark, 0, 110), "doc_id", out_col="pos")
    persist_block_aligned(base, path, block_size=r, num_partitions=3)
    append_block_aligned(_docs(spark, 110, 140), path, "doc_id")  # grown
    n = 140

    man = epoch_block_manifest(path, epoch=9, n_ranks=3)
    spans = []
    total_bytes = 0
    for rank, entries in man:
        shard = dict(epoch_block_shards(path, epoch=9, n_ranks=3))[rank]
        assert [e["path"] for e in entries] == shard  # streaming order
        got = read_epoch_block_shard(
            spark, path, epoch=9, rank=rank, n_ranks=3, id_col="doc_id"
        ).select("pos2").collect()
        got_pos = sorted(row.pos2 for row in got)
        want = sorted(
            p
            for e in entries
            for p in range(e["pos2_lo"], e["pos2_hi"] + 1)
        )
        assert got_pos == want, rank
        for e in entries:
            assert e["bytes"] and e["bytes"] > 0
            assert e["n_rows"] == e["pos2_hi"] - e["pos2_lo"] + 1
            spans.append((e["pos2_lo"], e["pos2_hi"]))
            total_bytes += e["bytes"]
    covered = sorted(p for lo, hi in spans for p in range(lo, hi + 1))
    assert covered == list(range(n))  # disjoint + covering
    disk = sum(
        os.path.getsize(os.path.join(path, f))
        for f in os.listdir(path)
        if f.endswith(".parquet")
    )
    assert total_bytes == disk
    # resume point computable from the manifest without opening files:
    # pick rank 1's second file's pos2_lo as start_step
    _, entries = man[1]
    if len(entries) >= 2:
        s = entries[1]["pos2_lo"]
        res = read_epoch_block_shard(
            spark, path, epoch=9, rank=1, n_ranks=3, id_col="doc_id",
            start_step=s,
        )
        assert set(res.inputFiles()) <= {
            "file://" + e["path"] if not e["path"].startswith("file:")
            else e["path"]
            for e in entries[1:]
        } or len(res.inputFiles()) == len(entries) - 1


def test_interleave_append_fresh_mixture_and_byte_identity(
    spark, sf_dir, tmp_path
):
    """Round-15 mixture-preserving growth, mode='fresh': the appended
    region is interleaved on its own schedule, so its contiguous
    prefixes carry the configured ratios (Bresenham bound); old
    positions untouched, full old blocks byte-identical, and the
    pre-positioned append contract is validated loudly."""
    from pulsar_elasticsearch_sync_rs_spark.operators.ordering import (
        interleave_append,
        interleave_by_weight,
    )
    from pulsar_elasticsearch_sync_rs_spark.sources.batch import read_table

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "lang")
    weights = {"de": 1, "en": 2, "es": 2, "fr": 3, "zh": 3}
    old = docs.filter(F.col("doc_id") % 4 != 0)
    new = docs.filter(F.col("doc_id") % 4 == 0)
    r = 32
    path = str(tmp_path / "mix_grow")
    mixed = interleave_by_weight(old, "lang", weights, "doc_id")
    persist_block_aligned(mixed, path, block_size=r, num_partitions=4)
    n_old = read_layout_meta(path)["n"]
    before = _file_stats(path)
    full_before = {
        f["path"]
        for f in read_layout_meta(path)["files"]
        if f.get("n_rows", 0) == r
    }
    old_map = {
        row.doc_id: row.pos for row in spark.read.parquet(path).collect()
    }

    rep = interleave_append(new, path, "lang", weights, "doc_id")
    m = new.count()
    assert rep["appended"] == m and rep["n"] == n_old + m

    rows = spark.read.parquet(path).collect()
    assert sorted(row.pos for row in rows) == list(range(n_old + m))
    grown = {row.doc_id: row.pos for row in rows}
    for d, p in old_map.items():
        assert grown[d] == p  # old positions untouched
    after = _file_stats(path)
    for p in full_before:
        assert after[p] == before[p]  # full old blocks byte-identical

    # the appended region's own prefixes carry the mixture
    app = sorted((row.pos, row.lang) for row in rows if row.pos >= n_old)
    counts: dict[str, int] = {}
    for _, lang in app:
        counts[lang] = counts.get(lang, 0) + 1
    lcm = 6
    first_exhaust_v = min(
        counts.get(s, 0) * (lcm // w) for s, w in weights.items()
    )
    horizon = sum(
        min(counts.get(s, 0), first_exhaust_v * w // lcm)
        for s, w in weights.items()
    )
    w_total = sum(weights.values())
    checked = 0
    for cut in (w_total, horizon // 2, horizon):
        if cut < w_total:
            continue
        got: dict[str, int] = {}
        for _, lang in app[:cut]:
            got[lang] = got.get(lang, 0) + 1
        for s, w in weights.items():
            expect = cut * w / w_total
            assert abs(got.get(s, 0) - expect) <= len(weights), (
                cut, s, got.get(s, 0), expect)
        checked += 1
    assert checked >= 2

    # pre-positioned contract: wrong positions refused loudly
    bad = new.limit(3).withColumn("pos", F.lit(999_999).cast("long"))
    with pytest.raises(ValueError, match="gap-free"):
        append_block_aligned(bad, path, pos_col="pos", pre_positioned=True)
    with pytest.raises(ValueError, match="order_col is required"):
        append_block_aligned(new.limit(3), path)
    with pytest.raises(ValueError, match="unknown mode"):
        interleave_append(new, path, "lang", weights, "doc_id",
                          mode="nope")


def test_interleave_append_continue_is_deficit_catchup(
    spark, sf_dir, tmp_path
):
    """mode='continue': the appended order is EXACTLY the continued
    virtual-time schedule (python-replayed), and the catch-up
    direction holds — the source most under-served relative to its
    target ratio in the old layout leads the appended region."""
    from pulsar_elasticsearch_sync_rs_spark.operators.ordering import (
        interleave_append,
        interleave_by_weight,
    )
    from pulsar_elasticsearch_sync_rs_spark.sources.batch import read_table

    docs = read_table(spark, sf_dir, "documents").select("doc_id", "lang")
    weights = {"de": 1, "en": 2, "es": 2, "fr": 3, "zh": 3}
    old = docs.filter(F.col("doc_id") % 4 != 0)
    new = docs.filter(F.col("doc_id") % 4 == 0)
    path = str(tmp_path / "mix_cont")
    mixed = interleave_by_weight(old, "lang", weights, "doc_id")
    persist_block_aligned(mixed, path, block_size=32, num_partitions=4)
    n_old = read_layout_meta(path)["n"]
    laid: dict[str, int] = {}
    for row in spark.read.parquet(path).select("lang").collect():
        laid[row.lang] = laid.get(row.lang, 0) + 1

    interleave_append(new, path, "lang", weights, "doc_id",
                      mode="continue")
    got = [
        (row.pos, row.doc_id, row.lang)
        for row in spark.read.parquet(path).collect()
        if row.pos >= n_old
    ]
    got.sort()

    # python replay of the continued schedule
    import math

    lcm = 1
    for w in weights.values():
        lcm = lcm * w // math.gcd(lcm, w)
    new_rows = sorted(
        (row.lang, row.doc_id) for row in new.collect()
    )
    per_src: dict[str, int] = {}
    keyed = []
    for lang, did in new_rows:
        per_src[lang] = per_src.get(lang, 0) + 1
        vk = (laid.get(lang, 0) + per_src[lang]) * (lcm // weights[lang])
        keyed.append((vk, lang, did))
    keyed.sort()
    want = [
        (n_old + i, did, lang) for i, (vk, lang, did) in enumerate(keyed)
    ]
    assert got == want

    # catch-up direction: the first appended doc belongs to the source
    # with the smallest resume virtual time (the most under-served)
    lead = min(
        (
            (laid.get(s, 0) + 1) * (lcm // w)
            for s, w in weights.items()
            if per_src.get(s)
        ),
    )
    first_lang = got[0][2]
    assert (laid.get(first_lang, 0) + 1) * (
        lcm // weights[first_lang]
    ) == lead
