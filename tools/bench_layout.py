"""Bench the clustered-layout lane (operators/layout.py): the
write-side cost of ``repartitionByRange + sortWithinPartitions`` vs a
plain arrival-order write, and the read-side row-group-pruning win a
pushed ``lang = 'x'`` filter gets from the tight footer stats.

Protocol mirrors bench.py: one untimed warm-up rep, then best-of-3
wall per measurement. Also reports the MECHANISM number wall-clock
can't fake on a bursty host: how many row groups a footer-stats reader
must touch for the filter, clustered vs baseline (pyarrow footers).

Run:  python tools/bench_layout.py [SF_DIR] [WORKDIR]
      (defaults: /root/testdata/sf0.1 /tmp/bench_layout)
Emits one JSON line.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pulsar_elasticsearch_sync_rs_spark.operators.layout import persist_clustered
from pulsar_elasticsearch_sync_rs_spark.session import get_spark
from pulsar_elasticsearch_sync_rs_spark.sources.batch import read_table


def best_of(n, fn):
    fn()  # untimed warm-up
    walls = []
    for _ in range(n):
        t0 = time.monotonic()
        fn()
        walls.append(time.monotonic() - t0)
    return min(walls)


def rowgroups_touched(path: str, lang: str) -> tuple[int, int]:
    """(row groups a stats-pruning reader must read, total row groups)
    for a ``lang = <lang>`` filter, straight from the parquet footers."""
    import pyarrow.parquet as pq

    touched = total = 0
    for entry in os.listdir(path):
        if not entry.endswith(".parquet"):
            continue
        md = pq.ParquetFile(os.path.join(path, entry)).metadata
        ix = {md.schema.column(i).name: i for i in range(md.num_columns)}["lang"]
        for g in range(md.num_row_groups):
            total += 1
            st = md.row_group(g).column(ix).statistics
            if st is None or (st.min <= lang <= st.max):
                touched += 1
    return touched, total


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    work = sys.argv[2] if len(sys.argv) > 2 else "/tmp/bench_layout"
    spark = get_spark(app_name="bench_layout")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(work)

    docs = read_table(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "text"
    )
    n_rows = docs.count()
    base_dir = os.path.join(work, "baseline")
    clus_dir = os.path.join(work, "clustered")
    # small row groups so a file holds MANY groups and pruning is visible
    # at fixture scale (at 100 TB the default 128MB groups play this role)
    rg_conf = "parquet.block.size"
    spark.conf.set(rg_conf, 256 * 1024)

    write_base = best_of(
        3, lambda: docs.write.mode("overwrite").parquet(base_dir)
    )
    write_clus = best_of(
        3,
        lambda: persist_clustered(
            docs, clus_dir, ["lang"], n_files=8, max_records_per_file=200_000
        ),
    )

    # the headline read: pushed equality filter + aggregate
    from pyspark.sql import functions as F

    langs = [r["lang"] for r in docs.select("lang").distinct().collect() if r["lang"]]
    lang = sorted(langs)[0]

    def scan(path):
        return (
            spark.read.parquet(path)
            .filter(F.col("lang") == lang)
            .agg(F.count("*"), F.sum(F.length("text")))
            .collect()
        )

    scan_base = best_of(3, lambda: scan(base_dir))
    scan_clus = best_of(3, lambda: scan(clus_dir))
    rg_base = rowgroups_touched(base_dir, lang)
    rg_clus = rowgroups_touched(clus_dir, lang)

    print(
        json.dumps(
            {
                "sf_dir": sf_dir,
                "n_rows": n_rows,
                "filter_lang": lang,
                "write_baseline_s": round(write_base, 3),
                "write_clustered_s": round(write_clus, 3),
                "write_cost_x": round(write_clus / write_base, 2),
                "scan_baseline_s": round(scan_base, 3),
                "scan_clustered_s": round(scan_clus, 3),
                "scan_speedup_x": round(scan_base / scan_clus, 2),
                "rowgroups_touched_baseline": f"{rg_base[0]}/{rg_base[1]}",
                "rowgroups_touched_clustered": f"{rg_clus[0]}/{rg_clus[1]}",
            }
        )
    )


if __name__ == "__main__":
    main()
