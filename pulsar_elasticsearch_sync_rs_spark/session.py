"""SparkSession factory tuned for the engine.

Local-mode testing runs on ``local[N]``; the same settings are what we
would ship cluster-side (AQE on, UTC session TZ, Arrow for the few
Pandas-UDF paths). Two partition counts, sized apart:

- **Batch shuffles** start from ``cpus`` partitions
  (``spark.sql.adaptive.coalescePartitions.initialPartitionNum``); AQE
  coalesces from there. ``foreachBatch`` bodies are batch plans too.
- **Stateful streams** take ``spark.sql.shuffle.partitions`` as their
  state-store partition count (streaming plans run with AQE off), set to
  :func:`state_partitions`. State is versioned and committed per
  partition per epoch, so every partition adds a fixed commit cost to
  every epoch. A query's count is frozen in its checkpoint at first
  start; a restart keeps it whatever the session says.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def state_partitions(cpus: int) -> int:
    """State-store partitions for ``cpus`` cores: half the cores, at
    least 1, at most 8.

    Measured at ``local[4]`` on a 4-core host: four small stateful
    queries side by side took 4.0-6.4 s, 3.0-3.8 s and 2.6-3.6 s per
    iteration at 4, 2 and 1 partitions, but one query alone at 100k rows
    per epoch made the interval join lose at 1 (7.1-7.9 s against 5.35 s
    at 2), hence half the cores rather than a constant. The cap: with 32
    partitions on 32 cores, stream lanes ran at 0.18-0.66x their rate
    with 8 partitions on 8 cores."""
    return max(1, min(cpus // 2, 8))


def batch_partitions(spark: SparkSession) -> int:
    """The partition count a batch shuffle starts from: AQE's initial
    count, else ``spark.sql.shuffle.partitions``. Explicit batch
    repartitions (range partitions, block-aligned writes) size by this,
    never by the state-store count."""
    n = spark.conf.get("spark.sql.adaptive.coalescePartitions.initialPartitionNum", None)
    return int(n or spark.conf.get("spark.sql.shuffle.partitions", "32"))


def get_spark(
    app_name: str = "pulsar-es-sync-spark",
    cpus: int | None = None,
    extra_conf: dict | None = None,
) -> SparkSession:
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    host_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(state_partitions(cpus)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.initialPartitionNum", str(cpus))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # local mode = driver-only: the driver heap IS executor memory.
        # 16g with 32 task threads GC-thrashes on 600k-row joins
        # (measured: 62s -> 3.6s on the 5-way star join when raised).
        # The default is half the host's RAM: a heap above it lets the
        # JVM grow until the host kills it, and half leaves room for
        # Arrow buffers, Python workers and a second session
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", f"{host_mb // 2}m"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # events fixture stores TIMESTAMP(NANOS); read as long and convert
        # explicitly (µs truncation — same as DuckDB's ns->µs cast).
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # duplicate JSON keys are VALID JSON text; the reference's
        # serde_json keeps the last occurrence (insertion replaces).
        # Spark's default EXCEPTION policy instead kills the whole job
        # on the first such payload — one poison message halting a sync
        # service (found by the round-9 sf10 profile: a fixture bug
        # planted duplicate keys and the chain died mid-stage). LAST_WIN
        # is the reference-parity semantics.
        .config("spark.sql.mapKeyDedupPolicy", "LAST_WIN")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
