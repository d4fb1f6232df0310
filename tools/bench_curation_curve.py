"""Round-11 brief #3: curation docs/s vs micro-batch size.

The driver bench runs the curation lanes at 5k docs / ~1.7k-doc
triggers and lands ~700 (sha) / ~190 (near-dup) docs/s, dominated by a
fixed ~1.6 s per-batch cost. This tool measures the SAME
``run_curation_ingest`` topology at a sweep of trigger sizes on a
synthetic distinct-text corpus, to answer "what does this do at
production trigger sizes": if the fixed per-batch cost (checkpoint
commit, index append, parquet land) amortizes, docs/s should rise
toward the compute-bound rate as the trigger grows; where the curve
flattens is the real per-doc cost.

Texts are genuinely distinct (hash-indexed words over a stopword-rich
vocabulary) so neither the sha index nor the LSH band index collapses
replicas — every doc pays the full signature + probe cost, the honest
per-doc work profile.

Usage: python tools/bench_curation_curve.py [n_docs] [--nd]
Prints one JSON line per (lane, batch_size) point.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, ".")

from pulsar_elasticsearch_sync_rs_spark.session import get_spark  # noqa: E402

# stopword-rich vocabulary: the quality/repetition gate must KEEP most
# docs (a gate that drops everything would measure the gate, not the
# pipeline)
_VOCAB = (
    "the of and to in a is that it was for on are with as his they at be "
    "this from have or by one had not but what all were when we there can "
    "an your which their said if do will each about how up out them then "
    "she many some so these would other into has more her two like him "
    "see time could no make than first been its who now people my made "
    "over did down only way find use may water long little very after "
    "words called just where most know get through back much before good "
    "new write our used me man too any day same right look think also "
    "around another came come work three word must because does part even "
    "place well such here take why things help put years different away "
    "again off went old number great tell men say small every found still "
    "between name should home big give air line set own under read last "
    "never us left end along while might next sound below saw something "
    "thought both few those always looked show large often together asked "
    "house world going want school important until form food keep children "
    "feet land side without boy once animals life enough took sometimes "
    "four head above kind began almost live page got earth need far hand "
    "high year mother light parts country father let night following "
    "picture being study second eyes soon times story boys since white "
    "days ever paper hard near sentence better best across during today "
    "others however sure means knew its told young miles sun ways thing "
    "whole hear example heard several change answer room against top "
    "turned learn point city play toward five using himself usually"
).split()


_STOP8 = "the and of to a in is it".split()  # functions/text.py en list
_LONG = [w for w in _VOCAB if len(w) >= 4]


def _h(i: int, j: int) -> int:
    # murmur-style NONLINEAR mix. A linear h(i,j)=a·i+b·j makes doc i+Δ
    # a word-SHIFTED copy of doc i (identical n-gram windows), and at
    # 50k docs the shift classes blanket the bench docs' gram sets —
    # the any-hit decontaminator then drops the ENTIRE corpus (found
    # when the first curve run kept 0 of 50,000 docs while a 3k run
    # kept 70%). Nonlinear mixing makes grams effectively random.
    x = (i * 2654435761 + j * 0x9E3779B9) & 0xFFFFFFFF
    x ^= x >> 15
    x = (x * 0x2C1B3C6D) & 0xFFFFFFFF
    x ^= x >> 12
    return x


def _text(i: int) -> str:
    # deterministic, distinct per doc. Every third word is a core
    # stopword and the rest are ≥4-letter words so quality_score clears
    # the 0.65 gate (sw_score saturates, mean word length in [3,10]) —
    # a curve whose gate drops everything would measure the gate, not
    # the pipeline.
    n_words = 40 + (i % 40)
    out = []
    for j in range(n_words):
        h = _h(i, j)
        out.append(_STOP8[h % 8] if j % 3 == 0 else _LONG[h % len(_LONG)])
    return " ".join(out)


def main() -> None:
    n_docs = int(sys.argv[1]) if len(sys.argv) > 1 and sys.argv[1].isdigit() else 50_000
    with_nd = "--nd" in sys.argv
    sizes = [1_000, 5_000, 10_000, 25_000, 50_000]
    sizes = [s for s in sizes if s <= n_docs]

    spark = get_spark(
        app_name="curation-curve",
        extra_conf={"spark.driver.memory": "16g"},
    )
    spark.sparkContext.setLogLevel("ERROR")

    from pulsar_elasticsearch_sync_rs_spark.streaming.curation import (
        run_curation_ingest,
    )

    tmp = tempfile.mkdtemp(prefix="curation_curve_")
    try:
        rows = [(i, _text(i), "en", f"s{i % 5}") for i in range(n_docs)]
        docs = spark.createDataFrame(
            rows, "doc_id long, text string, lang string, source string"
        )
        base_dir = os.path.join(tmp, "docs_all")
        docs.coalesce(8).write.parquet(base_dir)
        schema = spark.read.parquet(base_dir).schema
        bench_docs = spark.read.parquet(base_dir).filter(
            "doc_id % 97 = 0"
        ).localCheckpoint(eager=True)

        lanes = [("curation", False)] + ([("curation_nd", True)] if with_nd else [])
        for lane, nd in lanes:
            for bs in sizes:
                src = os.path.join(tmp, f"src_{lane}_{bs}")
                os.makedirs(src)
                # exact trigger sizing: one file per micro-batch
                n_files = -(-n_docs // bs)
                for f in range(n_files):
                    (
                        docs.filter(
                            (docs.doc_id >= f * bs) & (docs.doc_id < (f + 1) * bs)
                        )
                        .coalesce(1)
                        .write.mode("append")
                        .parquet(src)
                    )
                ckpt = os.path.join(tmp, f"ckpt_{lane}_{bs}")
                out = os.path.join(tmp, f"out_{lane}_{bs}")
                stream = (
                    spark.readStream.schema(schema)
                    .option("maxFilesPerTrigger", 1)
                    .parquet(src)
                )
                kwargs = dict(
                    available_now=True,
                    compact_every=1,
                )
                if nd:
                    kwargs.update(
                        near_dup_threshold=0.5,
                        bands_dir=os.path.join(tmp, f"bands_{lane}_{bs}"),
                    )
                t0 = time.time()
                q = run_curation_ingest(
                    stream,
                    bench_docs,
                    out,
                    os.path.join(tmp, f"sha_{lane}_{bs}"),
                    ckpt,
                    **kwargs,
                )
                q.awaitTermination()
                wall = time.time() - t0
                kept = spark.read.parquet(out).count() if os.path.isdir(out) else 0
                print(
                    json.dumps(
                        {
                            "lane": lane,
                            "batch_docs": bs,
                            "n_batches": n_files,
                            "docs_in": n_docs,
                            "docs_kept": kept,
                            "wall_sec": round(wall, 2),
                            "docs_per_sec": round(n_docs / wall),
                            "sec_per_batch": round(wall / n_files, 2),
                        }
                    ),
                    flush=True,
                )
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
        spark.stop()


if __name__ == "__main__":
    main()
