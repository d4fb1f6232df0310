"""R1 streaming variant — stateful per-app rate limiting that carries
the per-(app, second) admission count ACROSS micro-batches via
``applyInPandasWithState`` (SURVEY.md §7.2 M3).

The batch operator (operators/rate_limit.py) caps within one
DataFrame; in a stream, a second can span micro-batches, so the count
for the current second must persist. State per app key:
``(current_second_epoch, admitted_in_second)`` — O(1) per key, the
Spark-native equivalent of the reference's GCRA-keyed limiter map
(reference ``src/ratelimiter.rs:23-94``; drop-on-exceed check
``ratelimiter.rs:123-128``).

Scale: state is partitioned by app across executors; per-key state is
two longs, so a million apps is ~tens of MB of state store.
"""

from __future__ import annotations

from collections.abc import Iterable, Iterator

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

from pulsar_elasticsearch_sync_rs_spark.operators.rate_limit import gcra_admit

STATE_SCHEMA = T.StructType(
    [
        T.StructField("current_second", T.LongType()),
        T.StructField("admitted", T.LongType()),
    ]
)


def make_output_schema(id_field: str = "event_id") -> T.StructType:
    return T.StructType(
        [
            T.StructField(id_field, T.LongType()),
            T.StructField("app", T.StringType()),
            T.StructField("ts", T.TimestampType()),
        ]
    )


def stateful_rate_limiter(limits: dict[str, int], id_field: str = "event_id"):
    """Build the (key, pdfs, state) -> admitted-rows function for
    ``applyInPandasWithState``. Records for apps without a configured
    limit pass through unchanged (reference semantics)."""

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        app = key[0]
        limit = limits.get(app)
        if limit is None:
            for pdf in pdfs:
                yield pdf[[id_field, "app", "ts"]]
            return
        if state.exists:
            current_second, admitted = state.get
        else:
            current_second, admitted = -1, 0
        # one sort over the whole group, as stateful_gcra_limiter does:
        # a group larger than arrow.maxRecordsPerBatch arrives as
        # several chunks, and sorting each on its own would charge an
        # earlier second's rows to a later second's budget
        pdf = pd.concat(list(pdfs)).sort_values(["ts", id_field])
        keep_mask = []
        for ts in pdf["ts"]:
            sec = int(ts.timestamp())
            # Only a FORWARD second-change resets the bucket; a
            # late (out-of-order) event with sec < current_second
            # counts against the stored second's budget, so
            # alternating seconds across micro-batches cannot
            # over-admit past the per-second cap.
            if sec > current_second:
                current_second, admitted = sec, 0
            if admitted < limit:
                admitted += 1
                keep_mask.append(True)
            else:
                keep_mask.append(False)
        yield pdf.loc[keep_mask, [id_field, "app", "ts"]]
        state.update((current_second, admitted))

    return fn


def rate_limit_stream(
    df: DataFrame, limits: dict[str, int], id_field: str = "event_id"
) -> DataFrame:
    """Apply the stateful limiter to a streaming DataFrame with columns
    (id_field, app, ts). Output: admitted rows only."""
    return df.groupBy("app").applyInPandasWithState(
        stateful_rate_limiter(limits, id_field),
        outputStructType=make_output_schema(id_field),
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )


GCRA_STATE_SCHEMA = T.StructType([T.StructField("tat_nanos", T.LongType())])


def stateful_gcra_limiter(limits: dict[str, int], id_field: str = "event_id"):
    """Exact-GCRA streaming twin (see operators/rate_limit.rate_limit_gcra
    and reference ``src/ratelimiter.rs:43-57``): per-app state is the
    single theoretical-arrival-time, carried across micro-batches as
    integer NANOseconds — ``ts.value`` is the exact int64 ns of the
    pandas timestamp. The recurrence is the batch lane's own
    :func:`~pulsar_elasticsearch_sync_rs_spark.operators.rate_limit.gcra_admit`
    (``allow iff t >= TAT - τ; TAT = max(t, TAT) + T`` with
    T = 10⁹//N ns, τ = (N-1)·T), resumed from the stored TAT."""

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        app = key[0]
        limit = limits.get(app)
        tat = state.get[0] if state.exists else None  # ns
        if limit is None:
            for pdf in pdfs:
                yield pdf[[id_field, "app", "ts"]]
            return
        # concatenate the group's Arrow chunks BEFORE sorting: a group
        # larger than arrow.maxRecordsPerBatch arrives as several
        # chunks, and sorting each independently would process events
        # out of event-time order across chunk boundaries — diverging
        # from the batch lane, which sorts the whole group. Buffering
        # the micro-batch's group mirrors the batch lane's memory
        # posture (one group in one task).
        pdf = pd.concat(list(pdfs)).sort_values(["ts", id_field])
        keep_mask, tat = gcra_admit((ts.value for ts in pdf["ts"]), limit, tat)
        yield pdf.loc[keep_mask, [id_field, "app", "ts"]]
        if tat is not None:
            state.update((tat,))

    return fn


def rate_limit_stream_gcra(
    df: DataFrame, limits: dict[str, int], id_field: str = "event_id"
) -> DataFrame:
    """Apply the exact-GCRA stateful limiter to a streaming DataFrame
    with columns (id_field, app, ts). Output: admitted rows only."""
    return df.groupBy("app").applyInPandasWithState(
        stateful_gcra_limiter(limits, id_field),
        outputStructType=make_output_schema(id_field),
        stateStructType=GCRA_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
