"""Invariants of the end-to-end curation composite (q_llm_pipeline)
that the value-hash oracle can't express directly: stage rules hold on
the OUTPUT (no benchmark docs, only train-bucket docs, every doc
survived its own gates), and the packing tiling is exact."""

from __future__ import annotations

import sys

sys.path.insert(0, ".")

import __spark_entry__ as entrymod


def test_pipeline_output_respects_stage_rules(spark, sf_dir):
    frags = entrymod.extra_queries()["q_llm_pipeline"](spark, sf_dir).collect()
    assert frags, "pipeline produced no fragments"
    doc_ids = {r["doc_id"] for r in frags}
    for d in doc_ids:
        # decontamination: benchmark docs can never reach the output
        assert d % 97 != 0, f"benchmark doc {d} leaked into training output"
        # split: only the 98% train bucket survives (salted stream —
        # independent of the mix stream; see llm_queries.TRAIN_SPLIT_SALT)
        assert ((d + 1442695041) * 2654435761) % 4294967296 % 100 < 98, f"non-train doc {d}"


def test_mix_and_split_streams_are_decorrelated(spark, sf_dir):
    """Regression for the correlated-hash finding: among domain-mix
    SURVIVORS, the salted train-split must still carve out ~2%
    val+test. With the unsalted stream the two decisions shared one
    hash value and the non-train fraction among survivors could
    collapse to 0 for downsampled strata."""
    import __spark_entry__ as em
    from pyspark.sql import functions as F

    from pulsar_elasticsearch_sync_rs_spark.plans.llm_queries import (
        TRAIN_SPLIT_SALT,
        knuth_u32,
    )

    mixed = em.extra_queries()["q_domain_mix"](spark, sf_dir)
    n = mixed.count()
    non_train = mixed.filter(
        knuth_u32("doc_id", TRAIN_SPLIT_SALT) % F.lit(100) >= 98
    ).count()
    frac = non_train / n
    assert 0.005 <= frac <= 0.05, f"non-train fraction {frac:.4f} among {n} survivors"


def test_pipeline_packing_tiles_exactly(spark, sf_dir):
    """Every sequence except the last sums to exactly 256 tokens, and
    each doc's fragments tile [0, n) contiguously."""
    frags = entrymod.extra_queries()["q_llm_pipeline"](spark, sf_dir).collect()
    by_seq: dict[int, int] = {}
    by_doc: dict[int, list] = {}
    for r in frags:
        by_seq[r["seq_id"]] = by_seq.get(r["seq_id"], 0) + (r["end_tok"] - r["begin_tok"])
        by_doc.setdefault(r["doc_id"], []).append((r["seq_id"], r["begin_tok"], r["end_tok"]))
    last = max(by_seq)
    for s, tok_sum in by_seq.items():
        if s != last:
            assert tok_sum == 256, f"seq {s} has {tok_sum} tokens"
        else:
            assert 0 < tok_sum <= 256
    for d, parts in by_doc.items():
        parts.sort()
        assert parts[0][1] == 0, f"doc {d} does not start at offset 0"
        for (s1, _, e1), (s2, b2, _) in zip(parts, parts[1:]):
            assert s2 == s1 + 1 and b2 == e1, f"doc {d} fragments not contiguous"


def test_bigram_logprob_model_semantics(spark, tmpdir):
    """Interpolated-bigram pins on a planted corpus: a document made of
    corpus-frequent bigrams outscores one pairing the SAME unigrams in
    rare orders — doc 4's bigrams occur once (its own occurrence; the
    model is self-trained so nothing is truly unseen) vs doc 1-3's
    thrice — the order signal the unigram lane cannot produce; a
    single-token doc is scored by the unigram alone."""
    import math

    from pulsar_elasticsearch_sync_rs_spark.plans.llm_queries import (
        q_bigram_logprob,
    )

    rows = [
        (1, "the cat sat"), (2, "the cat sat"), (3, "the cat sat"),
        (4, "sat the cat"),   # same unigrams, once-seen (rare) bigram order
        (5, "the"),           # no history: unigram-only
    ]
    sf = tmpdir
    spark.createDataFrame(rows, "doc_id long, text string").write.mode(
        "overwrite"
    ).parquet(f"{sf}/documents.parquet")
    got = {r["doc_id"]: r for r in q_bigram_logprob(spark, sf).collect()}
    assert got[1]["mean_logprob"] == got[2]["mean_logprob"] == got[3]["mean_logprob"]
    assert got[1]["mean_logprob"] > got[4]["mean_logprob"]
    # doc 5: exactly ln(p1('the')) = ln(5/13) — 'the' occurs 5× in 13 tokens
    assert got[5]["n_toks"] == 1
    assert abs(got[5]["mean_logprob"] - round(math.log(5 / 13), 6)) < 1e-9
