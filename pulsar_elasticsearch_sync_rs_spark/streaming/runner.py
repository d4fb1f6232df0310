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
from pulsar_elasticsearch_sync_rs_spark.operators.rate_limit import (
    keep_mask,
    rate_limit_per_second,
)
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


def pulsar_records(df: DataFrame) -> DataFrame:
    """The pulsar-spark connector's columns as the chain's record schema
    (value, topic, publish_time, event_id): the payload bytes as UTF-8
    text (S2), and the connector's message id, as hex, for ``event_id``,
    the rate limiter's tiebreaker between same-timestamp messages."""
    return df.select(
        F.col("value").cast("string").alias("value"),
        F.col("__topic").alias("topic"),
        F.col("__publishTime").alias("publish_time"),
        F.hex("__messageId").alias("event_id"),
    )


def read_pulsar_stream(spark: SparkSession, cfg: PipelineConfig) -> DataFrame:
    """Real-source lane (S1): StreamNative pulsar-spark connector.
    Requires the connector jar on the classpath (absent here; the
    file-source lane above is behaviorally equivalent for the chain,
    and :func:`pulsar_records` is tested on a file stream carrying the
    connector's columns)."""
    return pulsar_records(
        spark.readStream.format("pulsar").options(**pulsar_reader_options(cfg)).load()
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

    One Spark job per micro-batch, like the reference's single sink
    loop that groups, limits, counts and posts each buffer in one pass
    (``src/es.rs:319-378``): when ``transport`` has
    ``payload_columns``/``post`` (``EsBulkTransport``), the callback
    collects the label columns, the K2 echo column, the limiter's keys
    and the transport's payload in ONE narrow collect, derives the G3
    counters, the echo sample and the R1 keep mask on the driver, and
    posts the kept rows. A DataFrame transport (``write(df, batch_id)``)
    gets one accounting collect and the Spark-side limiter instead.

    R1 note: the rate limit caps each micro-batch on its own, a
    per-flush-window cap, which is the reference's observable
    granularity (its buffers flush every ``flush_interval``); Spark
    disallows the batch operator's non-time window on streaming plans,
    so it runs inside ``foreachBatch``, on the driver for the bulk sink
    (``operators/rate_limit.keep_mask``). The exact cross-batch variant
    is ``streaming/rate_limit_state.rate_limit_stream``.

    K3 (``debug_files_dir`` with ``inject_key``) writes the pre-limit
    batch, as the reference writes its debug files in the consume loop
    (``src/pulsar.rs:290-300``), ahead of its sink-side limiter.
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
    # G3 labeled counters and the K2 echo read the pre-limit batch: the
    # reference counts and echoes at consume time (src/pulsar.rs:256-262),
    # before its sink-side limiter (src/es.rs:359-373)
    accounting = [*LABEL_COLUMNS, echo_column(cfg.debug_topics)]
    driver_sink = hasattr(transport, "payload_columns") and hasattr(transport, "post")
    payload = transport.payload_columns() if driver_sink else []
    if driver_sink:
        # the limiter's keys, then the payload (sliced off the row's end)
        accounting += [
            F.unix_micros("publish_time").alias("__ts_us"),
            F.col("event_id").alias("__tb"),
            *payload,
        ]
    needs_rows = driver_sink or bool(cfg.debug_topics) or registry is not None
    needs_files = bool(cfg.inject_key and debug_files_dir)
    # passes over the micro-batch: K3's write, the collect, and a
    # DataFrame transport's write; more than one → persist once instead
    # of recomputing the chain per pass
    multi_pass = needs_files + needs_rows + (not driver_sink) > 1

    def sink_fn(batch_df, batch_id):
        if multi_pass:
            batch_df.persist()
        try:
            if needs_files:
                write_debug_files(batch_df, debug_files_dir)  # K3
            rows = batch_df.select(*accounting).collect() if needs_rows else []
            counts = labeled_counts(rows) if registry is not None else None
            if cfg.debug_topics:
                echo_debug_rows(rows)
            if driver_sink:
                keys = [(r["app"], r["__ts_us"], r["__tb"]) for r in rows]
                keep = keep_mask(keys, cfg.rate_limits)
                transport.post([r[-len(payload) :] for r, k in zip(rows, keep) if k], batch_id)
            else:
                limited = rate_limit_per_second(
                    batch_df, cfg.rate_limits, app="app", ts="publish_time",
                    tiebreaker="event_id",
                )
                transport.write(limited, batch_id)
            # fold only once the batch is delivered: a sink that raises
            # (strict bulk rejection) makes the checkpoint replay this
            # batch, which would otherwise count it twice
            if counts is not None:
                fold_labeled_counters(registry, counts)
        finally:
            if multi_pass:
                batch_df.unpersist()
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
