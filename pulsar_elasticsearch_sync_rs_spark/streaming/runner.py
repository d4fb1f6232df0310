"""Structured Streaming runner — wraps the batch-tested ETL chain in
``readStream → writeStream`` (SURVEY.md §7.1: streaming is a harness
around pure DataFrame transforms).

Source abstraction (SURVEY.md §7.4): the correctness harness streams
the ``events`` parquet as a file source with ``Trigger.AvailableNow``
(deterministic, replayable); a real deployment swaps in the
StreamNative pulsar connector (``format("pulsar")`` with
``topicsPattern`` — S1) without touching the transform chain.

Reference mappings:
- G2 hybrid flush (count OR time, ``src/es.rs:285-315``) →
  ``trigger(processingTime=flush_interval)`` for the time arm,
  ``maxFilesPerTrigger``/``maxOffsetsPerTrigger`` admission for the
  count arm;
- X1 bounded channel backpressure (``src/main.rs:61``) → source
  admission limits + Spark's internal backpressure;
- S3 watchdog/consumer-recreate (``src/pulsar.rs:193-221``) →
  ``streaming/supervisor.run_supervised``: bounded backed-off failure
  restarts + watch-driven clean recreation, both resuming from the
  checkpoint (stronger: offsets survive restarts, unlike the
  reference's non-durable Latest-position subscription,
  ``src/pulsar.rs:114-119``);
- delivery semantics: reference is at-most-once (ack-before-process);
  checkpointed foreachBatch is at-least-once — documented divergence
  (SURVEY.md §1.4), strictly stronger.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from pulsar_elasticsearch_sync_rs_spark.config import PipelineConfig
from pulsar_elasticsearch_sync_rs_spark.plans.pipeline import etl_transform
from pulsar_elasticsearch_sync_rs_spark.streaming.metrics import (
    LABEL_COLUMNS,
    fold_labeled_counters,
    labeled_counts,
)
from pulsar_elasticsearch_sync_rs_spark.streaming.side_outputs import (
    echo_column,
    echo_debug_rows,
    write_debug_files,
)

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.LongType()),  # ns in the fixture parquet
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)


def read_events_stream(
    spark: SparkSession, dir_path: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """File-source stand-in for the Pulsar consumer (S1/S2): streams
    parquet files of the events shape into the reference's record
    schema (value, topic, publish_time).

    The stream schema is taken from a static footer read of the same
    directory (driver-side, one file listing) because the fixture's ts
    encoding varies across driver testdata generations — see
    ``sources/batch.read_table`` for the shapes; falls back to the
    nanos-as-long schema when the directory can't be read statically."""
    try:
        static_schema = spark.read.parquet(dir_path).schema
    except Exception:
        static_schema = EVENTS_SCHEMA
    reader = spark.readStream.schema(static_schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    from pulsar_elasticsearch_sync_rs_spark.sources.batch import normalize_events_ts

    ev = normalize_events_ts(reader.parquet(dir_path))
    publish = F.col("ts")
    return ev.select(
        "event_id",
        F.col("props").alias("value"),
        F.concat(F.lit("persistent://public/default/"), F.col("event_type")).alias("topic"),
        publish.alias("publish_time"),
        "user_id",
    )


def pulsar_reader_options(cfg: PipelineConfig) -> dict[str, str]:
    """Connector options for the StreamNative pulsar-spark source,
    derived purely from config (unit-testable without the jar). Every
    key below is from the connector's PUBLIC documented surface
    (github.com/streamnative/pulsar-spark README) — the lane cannot
    execute in this sandbox, so the option-key contract is pinned by a
    golden table test instead (a silently renamed key would otherwise
    surface only at a customer's cluster):

    - ``service.url`` — broker address (reference ``src/args.rs:58``).
    - ``topicsPattern`` — multi-topic regex subscription, full topic
      names (S1; reference ``src/pulsar.rs`` consumer regex).
    - ``predefinedSubscription`` — resume the reference's durable
      subscription by name (the connector's documented key; there is
      no ``subscriptionName`` option).
    - ``maxEntriesPerTrigger`` — per-micro-batch admission cap, the
      connector's analog of the reference's consumer permit budget
      (X1; reference ``src/args.rs:101-103`` batch_size).
    - ``pulsar.client.auth*`` — documented client-conf pass-through;
      carries the JWT the reference reads from ``PULSAR_TOKEN``
      (``src/pulsar.rs:77-84``).
    """
    opts = {
        "service.url": cfg.pulsar_addr,
        "topicsPattern": f"persistent://{cfg.pulsar_namespace}/{cfg.topic_regex}",
        "predefinedSubscription": cfg.subscription,
        "maxEntriesPerTrigger": str(cfg.batch_size),
    }
    if cfg.pulsar_token:
        opts["pulsar.client.authPluginClassName"] = (
            "org.apache.pulsar.client.impl.auth.AuthenticationToken"
        )
        opts["pulsar.client.authParams"] = f"token:{cfg.pulsar_token}"
    return opts


def read_pulsar_stream(spark: SparkSession, cfg: PipelineConfig) -> DataFrame:
    """Real-source lane (S1): StreamNative pulsar-spark connector.
    Requires the connector jar on the classpath (absent here; the
    file-source lane above is behaviorally equivalent for the chain)."""
    return (
        spark.readStream.format("pulsar")
        .options(**pulsar_reader_options(cfg))
        .load()
        .select(
            F.col("value").cast("string").alias("value"),  # S2 bytes→utf8
            F.col("__topic").alias("topic"),
            F.col("__publishTime").alias("publish_time"),
        )
    )


def run_pipeline_stream(
    spark: SparkSession,
    cfg: PipelineConfig,
    source_df: DataFrame,
    transport,
    checkpoint_dir: str,
    available_now: bool = True,
    observe_metrics: bool = True,
    debug_files_dir: str | None = None,
    registry=None,
):
    """Build and start the streaming query: chain → foreachBatch bulk
    sink. Returns the StreamingQuery (caller awaits termination).

    R1 note: the windowed row_number cap is a batch operator (Spark
    disallows non-time windows on streaming plans), so the limiter is
    applied INSIDE foreachBatch to each micro-batch — a per-flush-window
    cap, which is the reference's observable granularity (its buffers
    flush every ``flush_interval``). The exact cross-batch variant is
    ``streaming/rate_limit_state.rate_limit_stream``.
    """
    import dataclasses

    stream_cfg = dataclasses.replace(cfg, rate_limits={})
    out = etl_transform(source_df, stream_cfg, tiebreaker="event_id")
    out = out.select(
        "event_id", "value", "topic_short", "publish_time", "doc",
        "at_timestamp", "date_str", "index", "app", "is_debug", "n_fields",
        *([cfg.injected_field] if cfg.inject_key else []),
    )
    if observe_metrics:
        # G3 counters ride the stream via observe() — surfaced per
        # micro-batch through QueryProgressEvent (metrics.py listener).
        out = out.observe(
            "etl_metrics",
            F.count(F.lit(1)).alias("consumed"),
            F.sum(F.when(F.col("is_debug"), 1).otherwise(0)).alias("consumed_debug"),
            F.avg("n_fields").alias("avg_fields"),
        )
    # G3 labeled counters and the K2 echo share ONE narrow collect of
    # the pre-limit batch: the reference counts and echoes at consume
    # time (src/pulsar.rs:256-262), before its sink-side limiter
    # (src/es.rs:359-373)
    accounting = [*LABEL_COLUMNS, echo_column(cfg.debug_topics)]
    needs_rows = bool(cfg.debug_topics) or registry is not None
    needs_files = bool(cfg.inject_key and debug_files_dir)
    # more than one consumer of the micro-batch → persist once instead
    # of recomputing the chain per pass
    multi_pass = needs_rows or needs_files

    def sink_fn(batch_df, batch_id):
        raw = batch_df  # persist handle (batch_df is rebound below)
        if multi_pass:
            raw.persist()
        try:
            counts = None
            if needs_rows:
                rows = batch_df.select(*accounting).collect()
                if registry is not None:
                    counts = labeled_counts(rows)
                echo_debug_rows(rows)
            if cfg.rate_limits:
                from pulsar_elasticsearch_sync_rs_spark.operators.rate_limit import (
                    rate_limit_per_second,
                )

                batch_df = rate_limit_per_second(
                    batch_df,
                    cfg.rate_limits,
                    app="app",
                    ts="publish_time",
                    tiebreaker="event_id",
                )
            if needs_files:
                write_debug_files(batch_df, debug_files_dir)  # K3
            transport.write(batch_df, batch_id)
            # fold only once the batch is delivered: a sink that raises
            # (strict bulk rejection) makes the checkpoint replay this
            # batch, which would otherwise count it twice
            if counts is not None:
                fold_labeled_counters(registry, counts)
        finally:
            if multi_pass:
                raw.unpersist()
    writer = (
        out.writeStream.outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .foreachBatch(sink_fn)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=f"{cfg.flush_interval_ms} milliseconds")
    return writer.start()
