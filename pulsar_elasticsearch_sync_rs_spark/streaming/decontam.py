"""Streaming decontamination — the batch operator
(operators/decontaminate.py) applied at ingestion time: each
micro-batch of incoming documents is filtered against a STATIC
benchmark table before it ever lands in the corpus.

Shape: ``foreachBatch`` + the parameterized batch operator. The bench
gram set is built and measured ONCE up front (not per batch — the
guard's count job would otherwise run on every trigger) and reused
by every micro-batch's join; under the broadcast threshold the hint
rides along, so each batch pays one broadcast-hash probe of its own
shingles and nothing else. This is the stream-static join pattern:
the static side is fixed for the query's lifetime; restart the query
to pick up a new benchmark release.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..operators.decontaminate import (
    DEFAULT_MAX_BROADCAST_GRAMS,
    _exploded_grams,
    stored_gram_set,
)


def decontaminate_stream(
    stream_docs: DataFrame,
    bench: DataFrame,
    out_dir: str,
    checkpoint_dir: str,
    n: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_broadcast_grams: int = DEFAULT_MAX_BROADCAST_GRAMS,
    available_now: bool = False,
):
    """Start a streaming query writing CLEAN documents (no shared word
    n-gram with any benchmark document) to ``out_dir`` as parquet.
    Returns the StreamingQuery. Checkpointed foreachBatch ⇒
    at-least-once into the parquet sink; the filter itself is
    deterministic, so replays rewrite identical rows."""
    grams = stored_gram_set(
        bench,
        n,
        text_col,
        f"{checkpoint_dir.rstrip('/')}/bench_grams",
        max_broadcast_grams,
    )

    def clean_batch(batch_df: DataFrame, batch_id: int) -> None:
        hit_ids = (
            _exploded_grams(batch_df, n, text_col, id_col)
            .join(grams, "g")
            .select(id_col)
            .distinct()
        )
        batch_df.join(hit_ids, id_col, "left_anti").write.mode("append").parquet(
            out_dir
        )

    writer = stream_docs.writeStream.foreachBatch(clean_batch).option(
        "checkpointLocation", checkpoint_dir
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()
