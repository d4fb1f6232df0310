"""Deep-decade cost-curve probe (SCALE.md protocol): time the lanes
whose growth actually matters — the minhash family, IVF semantic
dedup, IVF-PQ search, sequence packing, and the end-to-end curation
pipeline — on two fixtures a decade apart (default /tmp/sf1 →
/tmp/sf10, built by make_scale_decade.py with the documents,embeddings
subset) and print the per-lane growth ratio.

Protocol: one untimed warm-up, then best-of-N per lane per fixture —
identical to bench.py. The default `text` lanes read ONLY
documents/embeddings (a partial fixture suffices); the `rel` lanes
read the full relational pack (lineitem/orders/events — build every
table). The warm-up loop warms whatever parquet the fixture holds.

Run:  python tools/bench_decade.py [SMALL_DIR] [BIG_DIR] [REPS] [text|rel|q_a,q_b] [count|noop]

Action `noop` executes each lane through a noop WRITE instead of
`.count()`: a count action lets Catalyst prune every column the final
aggregate doesn't need — for window lanes that deletes the window
projection itself, so the decade row measures scan+sort only. The noop
write materializes every output column (same mechanism as bench.py's
zero-shuffle pin) at the cost of losing the row-count printout.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import __spark_entry__ as entrymod
from pulsar_elasticsearch_sync_rs_spark.session import get_spark

TEXT_LANES = [
    "q_dedup_minhash_verified",
    "q_dedup_minhash_incr",
    "q_semantic_dedup_ivf",
    "q_knn_ivfpq",
    "q_seq_pack",
    "q_llm_pipeline",
]

# the relational/lineitem-bearing pack (round-8 brief: these had never
# been timed past sf1) — joins, rollups, windows, the events ETL chain
REL_LANES = [
    "q_tpch_pricing",
    "q_tpch_join_topk",
    "q_region_revenue",
    "q_window_running",
    "q_time_bucket_rollup",
    "q_asof_join",
    "q_range_join",
    "q_etl_chain",
    "q_sessionize",
]


def main() -> None:
    small = sys.argv[1] if len(sys.argv) > 1 else "/tmp/sf1"
    big = sys.argv[2] if len(sys.argv) > 2 else "/tmp/sf10"
    reps = int(sys.argv[3]) if len(sys.argv) > 3 else 3
    sel = sys.argv[4] if len(sys.argv) > 4 else "text"
    action = sys.argv[5] if len(sys.argv) > 5 else "count"
    lanes = (
        TEXT_LANES if sel == "text"
        else REL_LANES if sel == "rel"
        else sel.split(",")
    )

    def run(df):
        if action == "noop":
            df.write.format("noop").mode("overwrite").save()
            return -1
        return df.count()
    spark = get_spark(app_name="bench_decade")
    qs = {**entrymod.queries(), **entrymod.extra_queries()}

    out: dict[str, dict] = {}
    for sf_dir in (small, big):
        for f in sorted(os.listdir(sf_dir)):  # warm page cache
            if f.endswith(".parquet"):
                spark.read.parquet(f"{sf_dir}/{f}").count()
        for name in lanes:
            fn = qs[name]
            run(fn(spark, sf_dir))  # untimed warm-up
            walls = []
            for _ in range(reps):
                t0 = time.perf_counter()
                n = run(fn(spark, sf_dir))
                walls.append(time.perf_counter() - t0)
            best = round(min(walls), 3)
            out.setdefault(name, {})[sf_dir] = best
            print(
                f"# {sf_dir} {name}: best {best:.3f}s of {[round(w,3) for w in walls]} ({n} rows)",
                file=sys.stderr,
            )

    for name, d in out.items():
        d["growth"] = round(d[big] / d[small], 2)
    print(json.dumps({"small": small, "big": big, "lanes": out}))


if __name__ == "__main__":
    main()
