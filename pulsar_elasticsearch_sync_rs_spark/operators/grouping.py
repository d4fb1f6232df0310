"""G1/G3 — two-level (app → index) grouping and streaming counters
(SURVEY.md §2.4).

The reference's ``BufferMap`` (``src/es.rs:31-32,319-378``) groups docs
by ``(app, index)`` before bulk flush; its Prometheus counters
(``src/prometheus.rs:7-126``) are per-topic/per-(topic,date) counts.
In Spark the grouping is simply the partitioning of the sink write
(``partitionBy("index")`` / dynamic index routing) and the counters are
an aggregation — partial (map-side) aggregation makes these cheap at
any scale.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def group_counts(df: DataFrame, *keys: str) -> DataFrame:
    """Count records per key tuple (G1 buffer sizes / G3 counters).
    Partial aggregation map-side; single shuffle on the keys."""
    return df.groupBy(*[F.col(k) for k in keys]).agg(F.count("*").alias("n_records"))
