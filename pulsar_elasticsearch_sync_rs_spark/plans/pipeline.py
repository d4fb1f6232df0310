"""The reference-parity ETL chain as ONE declarative DataFrame
transform (SURVEY.md §3.2 hot path, rebuilt Spark-first).

reference per-record path            this plan
-----------------------------------  ----------------------------------
empty filter          (F1)           filter(length(value) > 0)
global regex excl.    (F2)           ~rlike(alternation)
topic extraction      (P5)           element_at(split(topic,'/'),-1)
namespace regex excl. (F3)           CASE-chained topic-conditional rlike
UUID injection        (P7)           uuid() column (opt-in)
JSON parse + validity (P1,F4)        from_json -> isNotNull
key sanitation        (P2)           transform_keys(map, '.'->'_')
@timestamp rule       (P3)           coalesce(time_key ms, publish_time)
date string           (P4)           date_format(ts,'yyyy.MM.dd')
index rewrite + name  (P8,P6,P9)     when(rlike)-chain + concat_ws
app extraction        (P10)          get_json_object($.app) else default
debug classification  (P11)          level=='debug' OR rlike(patterns)
field count           (P12)          size(map_keys(parsed))
rate limit            (R1)           windowed row_number cap
group (app,index)     (G1)           sink partitioning / groupBy

Everything up to R1 is narrow (shuffle-free) and whole-stage-codegen'd;
the only shuffle in the reference-parity path is the rate limiter's
window (and only for configured apps). At 100 TB this chain is
embarrassingly parallel over source partitions.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from pulsar_elasticsearch_sync_rs_spark.config import PipelineConfig
from pulsar_elasticsearch_sync_rs_spark.functions.debug import is_debug_log
from pulsar_elasticsearch_sync_rs_spark.functions.json_fns import (
    app_from_map,
    field_count,
    sanitize_keys,
)
from pulsar_elasticsearch_sync_rs_spark.functions.rewrite import (
    index_name,
    rewrite_index_base,
)
from pulsar_elasticsearch_sync_rs_spark.functions.timestamps import (
    at_timestamp,
    date_str,
    rfc3339,
)
from pulsar_elasticsearch_sync_rs_spark.functions.topics import (
    strip_partition_suffix,
    topic_last_segment,
)
from pulsar_elasticsearch_sync_rs_spark.operators.filters import (
    filter_global_regex,
    filter_namespace_regex,
    filter_non_empty,
)
from pulsar_elasticsearch_sync_rs_spark.operators.rate_limit import rate_limit_per_second
from pulsar_elasticsearch_sync_rs_spark.operators.skew import evaluate_once
from pulsar_elasticsearch_sync_rs_spark.sources.batch import events_as_stream_records


def etl_transform(df: DataFrame, cfg: PipelineConfig, tiebreaker: str | None = "event_id") -> DataFrame:
    """Apply the full reference-parity chain to a record DataFrame with
    columns (value, topic, publish_time[, tiebreaker]). Pure function —
    identical for batch tests and the streaming runner (§7.1 stance).
    """
    # the LAST_WIN rebuilds below (time-key dedup, sanitize/app route)
    # hard-require spark.sql.mapKeyDedupPolicy=LAST_WIN; under the
    # default EXCEPTION policy the first duplicate-key payload (valid
    # JSON — serde_json accepts it, keeping the last value) kills the
    # whole job. get_spark()/__spark_entry__ set it; fail fast with a
    # pointed message when the session was built elsewhere.
    spark = df.sparkSession
    policy = spark.conf.get("spark.sql.mapKeyDedupPolicy", "EXCEPTION")
    if policy.upper() != "LAST_WIN":
        raise RuntimeError(
            "etl_transform requires spark.sql.mapKeyDedupPolicy=LAST_WIN "
            f"(session has {policy!r}): duplicate-key JSON payloads — valid "
            "text, serde_json keeps the last value — would otherwise abort "
            "the job at the first transform_keys rebuild. Build the session "
            "via pulsar_elasticsearch_sync_rs_spark.session.get_spark(), or "
            'set spark.conf.set("spark.sql.mapKeyDedupPolicy", "LAST_WIN").'
        )
    df = filter_non_empty(df, "value")
    df = filter_global_regex(df, cfg.global_filter_pattern, "value")
    df = df.withColumn("topic_short", topic_last_segment("topic"))
    df = filter_namespace_regex(df, cfg.namespace_filter_patterns, "value", "topic_short")
    if cfg.inject_key:
        df = df.withColumn(cfg.injected_field, F.expr("uuid()"))
    # PARSE ONCE. PushDownPredicate would push the validity filter
    # below this projection by RE-INLINING the parse into the filter
    # condition (and, in spread callers, on below the exchange onto the
    # single-task scan), parsing every payload twice. evaluate_once
    # makes the projection non-pushable-through: the filter stays above
    # it and references the `parsed` attribute, so the payload is
    # parsed exactly once per row for every consumer (validity, doc
    # rebuild, app/time-key lookups), batch AND streaming. Values are
    # identical: the guard is always true, and NULL-parse rows drop
    # exactly as before. The guard (and why it is streaming-legal and
    # fold-resistant) lives in operators/skew.evaluate_once.
    parse = evaluate_once(F.from_json("value", "map<string,string>"))
    df = df.withColumn("parsed", parse).filter(F.col("parsed").isNotNull())
    df = df.withColumn("doc", sanitize_keys(F.col("parsed")))
    # single-parse discipline: app/time-key read the parsed map instead
    # of re-running get_json_object (a full JSON parse per call) on the
    # raw payload — the chain parses each payload exactly once.
    # time-key lookup goes through an identity transform_keys rebuild:
    # the raw from_json map physically keeps duplicate keys and its
    # lookups read the FIRST, while serde_json (and the doc body, via
    # the LAST_WIN sanitize rebuild) keep the LAST — without this, a
    # duplicate time-key payload would stamp an @timestamp that
    # contradicts its own document. The rebuild keeps the ORIGINAL key
    # names (a dotted time_key must not be sanitize-renamed), costs one
    # map pass, and is built only when a time_key is configured.
    if cfg.time_key is not None:
        deduped = F.transform_keys(F.col("parsed"), lambda k, _v: k)
        ts = at_timestamp("value", "publish_time", cfg.time_key, parsed_map=deduped)
    else:
        ts = at_timestamp("value", "publish_time", cfg.time_key, parsed_map=F.col("parsed"))
    df = (
        df.withColumn("at_ts", ts)
        .withColumn("at_timestamp", rfc3339(F.col("at_ts")))
        .withColumn("date_str", date_str("publish_time", tz=cfg.render_tz))
    )
    # project the partition-suffix strip ONCE: composed inline into the
    # rule chain it re-ran once per WHEN branch plus the otherwise
    # (N_rules+1 regexp_replaces per row in the q_etl_chain plan —
    # optimization round 15). As a non-cheap, multiply-referenced
    # projection, CollapseProject keeps __topic_base a separate
    # attribute, so the strip is one regexp per row in any rule count.
    df = df.withColumn("__topic_base", strip_partition_suffix("topic_short"))
    df = df.withColumn(
        "index",
        index_name(rewrite_index_base("__topic_base", cfg.rewrite_rules), F.col("date_str")),
    ).drop("__topic_base")
    # app routes off the SANITIZED doc map: the LAST_WIN rebuild dedupes
    # duplicate keys to the last occurrence (serde_json parity — the
    # raw from_json map physically keeps every occurrence and its
    # lookups read the FIRST, which would route the record under a
    # different app than the doc body claims; round-9 review finding).
    # 'app' is dot-free so sanitation never renames it.
    df = df.withColumn("app", app_from_map(F.col("doc"), cfg.default_app))
    df = df.withColumn("is_debug", is_debug_log("value", cfg.debug_log_pattern))
    df = df.withColumn("n_fields", field_count(F.col("parsed")))
    if cfg.rate_limits:
        df = rate_limit_per_second(
            df, cfg.rate_limits, app="app", ts="publish_time", tiebreaker=tiebreaker
        )
    return df


def flagship_summary(spark: SparkSession, sf_dir: str, cfg: PipelineConfig | None = None) -> DataFrame:
    """The flagship query (M0): full ETL chain over the events fixture,
    summarized per (app, index) — the shape of the reference's
    BufferMap just before bulk flush (``src/es.rs:319-378``)."""
    from pulsar_elasticsearch_sync_rs_spark.config import RewriteRule

    cfg = cfg or PipelineConfig(
        global_filters=(r'"k":\s*13\b',),  # F2 exercised: drop k==13 payloads
        rewrite_rules=(
            RewriteRule("click", "web"),
            RewriteRule("view", "web"),
            RewriteRule("purchase", "commerce"),
        ),
        debug_log_patterns=(r'"k":\s*9\d\b',),
        rate_limits={"__DEFAULT_APP__": 50},
    )
    records = events_as_stream_records(spark, sf_dir)
    out = etl_transform(records, cfg)
    return (
        out.groupBy("app", "index")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("is_debug"), 1).otherwise(0)).alias("n_debug"),
            F.avg("n_fields").alias("avg_fields"),
            # timestamp-typed agg buffers (HashAggregate), rendered after;
            # valid because time_key is unset here so at_timestamp is the
            # rendered publish_time and the rendering is order-preserving
            F.date_format(F.min("publish_time"), "yyyy-MM-dd'T'HH:mm:ssXXX").alias("first_ts"),
            F.date_format(F.max("publish_time"), "yyyy-MM-dd'T'HH:mm:ssXXX").alias("last_ts"),
        )
        .orderBy("app", "index")
    )
