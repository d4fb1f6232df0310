"""Index rewrite rules and index-name construction (P8, P9).

The reference keeps an ordered ``(pattern, target)`` table; patterns
are anchored with ``^``, the FIRST matching rule wins, a literal
``".*"`` inside the target is stripped, and a non-match leaves the
topic unchanged (reference ``build_rules`` ``src/es.rs:203-220``,
``get_rewrite_index`` ``src/es.rs:222-248``). The partitioned-topic
suffix is stripped before matching (``src/es.rs:250-259``).

Spark-first: the ordered table compiles to ONE chained
``when(rlike).when(...).otherwise`` expression — evaluated JVM-side,
first-match-wins by construction, no join, no UDF, broadcast-free
(the rule table is bounded config, it lives in the plan itself).
"""

from __future__ import annotations

from collections.abc import Iterable

from pyspark.sql import Column
from pyspark.sql import functions as F

from pulsar_elasticsearch_sync_rs_spark.config import RewriteRule
from pulsar_elasticsearch_sync_rs_spark.functions.topics import strip_partition_suffix


def _anchored(pattern: str) -> str:
    return pattern if pattern.startswith("^") else "^" + pattern


def rewrite_index(
    topic: Column | str, rules: Iterable[RewriteRule] = ()
) -> Column:
    """P8 + P6 — strip partition suffix, then apply the first matching
    rewrite rule; unchanged when nothing matches.

    Composes :func:`strip_partition_suffix` INLINE into every rule
    branch — with N rules the strip regexp runs N+1 times per row (one
    rlike per WHEN plus the otherwise). Hot paths should project the
    stripped topic into its own column once and call
    :func:`rewrite_index_base` on the attribute (see etl_transform) —
    CollapseProject keeps a non-cheap multiply-referenced projection
    separate, so the strip then runs once per row."""
    topic = F.col(topic) if isinstance(topic, str) else topic
    return rewrite_index_base(strip_partition_suffix(topic), rules)


def rewrite_index_base(
    base: Column | str, rules: Iterable[RewriteRule] = ()
) -> Column:
    """P8 over an ALREADY partition-suffix-stripped topic column —
    identical values to :func:`rewrite_index` given
    ``base = strip_partition_suffix(topic)``."""
    base = F.col(base) if isinstance(base, str) else base
    expr: Column | None = None
    for rule in rules:
        target = rule.target.replace(".*", "")  # reference src/es.rs:214
        cond_target = F.lit(target)
        matched = base.rlike(_anchored(rule.pattern))
        expr = (
            F.when(matched, cond_target)
            if expr is None
            else expr.when(matched, cond_target)
        )
    return base if expr is None else expr.otherwise(base)


def index_name(index_base: Column, ts_date_str: Column) -> Column:
    """P9 — ``index = rewrite(topic) + "-" + date_str`` (e.g.
    ``app-2021.03.12``; reference ``src/es.rs:332-334``)."""
    return F.concat_ws("-", index_base, ts_date_str)
