from pulsar_elasticsearch_sync_rs_spark.streaming.runner import run_pipeline_stream

__all__ = ["run_pipeline_stream"]
