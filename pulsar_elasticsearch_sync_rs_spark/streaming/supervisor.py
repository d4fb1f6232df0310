"""Streaming-query supervisor — the ACTIVE half of the reference's
topic watchdog (S3).

The reference runs a watchdog task that polls broker topology once per
second and signals the main loop to RECREATE the consumer when the
topic→broker map changes (``src/pulsar.rs:193-221``, recreate branch
``pulsar.rs:306-318``); transport-level failures are retried with a
10 ms–5 s exponential backoff up to a bounded attempt count
(``pulsar.rs:86-94``). In Structured Streaming the broker topology is
the connector's concern, but the *supervision contract* — keep the
query alive across failures, recreate it on an external signal, give
up after a bounded number of attempts — is the deployment half a
long-running ingestion job actually needs, and it maps onto restarting
the StreamingQuery from its checkpoint:

- **failure restart**: ``awaitTermination`` raising
  ``StreamingQueryException`` ≙ the reference's consumer error path;
  the supervisor restarts the query from the SAME checkpoint after an
  exponential backoff (same 10 ms→5 s envelope), at most
  ``max_restarts`` times. Because every sink lane is either idempotent
  (mview batch-id guard, per-batch overwrite) or at-least-once by
  documented contract, a checkpointed restart loses nothing and — for
  the idempotent sinks — duplicates nothing (e2e pytest).
- **watch recreation**: an optional ``watch()`` callable polled every
  ``poll_interval_ms`` while the query runs ≙ the 1 Hz topology poll;
  when it returns True the query is STOPPED cleanly, never inside a
  batch's sink, and recreated (checkpoint resume), mirroring the
  reference's recreate-on-change.
  Recreations are not failures and don't consume the restart budget or
  back off (the reference recreates immediately too).

Both counters surface in the metrics registry
(``query_restarts_total`` / ``query_recreations_total`` labeled by
query name), next to the reference's Prometheus counters (G3).
"""

from __future__ import annotations

import dataclasses
import re
import time
from collections.abc import Callable

from pyspark.errors import StreamingQueryException

# Spark 4.x refuses to start a query it believes is NEW (empty offset
# log) over a non-empty offsets/ checkpoint directory. A stop() that
# interrupts the very first offsets write leaves the atomic-rename TEMP
# file (`.0.<uuid>.tmp`) behind with no committed entry — permanent
# garbage that makes every subsequent restart fail the same way, so the
# failure-restart budget can never self-heal (caught live: the watch
# recreation race in test_supervisor_watch_recreates_query on a loaded
# host). The error message carries the offending directory.
_CKPT_NOT_EMPTY = "STATE_STORE_CHECKPOINT_LOCATION_NOT_EMPTY"
_CKPT_DIR_RE = re.compile(r"checkpoint location (\S+) should be empty")

# A watch-driven stop() cancels the query's running jobs. Inside a
# foreachBatch write that interrupts the sink's I/O, and on this Spark
# version the interrupt text can overflow the stream thread's stack in
# StreamExecution's error regex and take the JVM down. So a recreation
# first waits, at most _STOP_WAIT_S, for a moment with no sink running:
# the trigger idle, or the next batch still getting its offsets (a
# stop there lets that batch finish, as offset planning and the sink
# are not interrupted). isTriggerActive alone is not enough: back to
# back batches (availableNow, a backlog) leave it false for 2-3 ms.
_STOP_WAIT_S = 30.0
_STOP_POLL_S = 0.01
_PLANNING_PHASE = "Getting offsets from"


def _stop_between_batches(query) -> None:
    """``query.stop()`` once ``query.status`` shows no batch past its
    offset planning, or once ``_STOP_WAIT_S`` has passed."""
    deadline = time.monotonic() + _STOP_WAIT_S
    while time.monotonic() < deadline:
        status = query.status
        if not status["isTriggerActive"] or status["message"].startswith(_PLANNING_PHASE):
            break
        time.sleep(_STOP_POLL_S)
    query.stop()


def _clean_uncommitted_metadata(dir_uri: str) -> bool:
    """Remove metadata-log leftovers that are provably NOT committed
    batch entries from ``dir_uri`` (committed entries are files whose
    bare name is an integer batch id; atomic-write temp files are
    ``.<id>.<uuid>.tmp``). The verify error only fires when the offset
    log parsed EMPTY, i.e. no integer-named entry exists — but keep the
    integer guard anyway so a miscarried call can never delete real
    progress. Routed through the Hadoop FS API so remote checkpoints
    (hdfs://, s3a://) are cleaned the same as file: paths. Returns
    whether anything was removed."""
    from pyspark.sql import SparkSession

    spark = SparkSession.getActiveSession()
    if spark is None:
        return False
    jvm = spark._jvm
    hpath = jvm.org.apache.hadoop.fs.Path(dir_uri)
    fs = hpath.getFileSystem(spark._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return False
    removed = False
    for st in fs.listStatus(hpath):
        name = st.getPath().getName()
        if not name.isdigit():
            fs.delete(st.getPath(), True)
            removed = True
    return removed


@dataclasses.dataclass
class SupervisedRun:
    """Outcome of :func:`run_supervised` once the query finally
    terminates cleanly: how many failure restarts and watch-driven
    recreations it took."""

    restarts: int
    recreations: int


def run_supervised(
    start_query: Callable[[], "StreamingQuery"],
    max_restarts: int = 3,
    backoff_initial_ms: int = 10,
    backoff_max_ms: int = 5000,
    watch: Callable[[], bool] | None = None,
    poll_interval_ms: int = 1000,
    max_recreations: int | None = None,
    registry=None,
    name: str = "query",
    healthy_reset_ms: int | None = 60_000,
) -> SupervisedRun:
    """Run ``start_query()`` to completion, restarting it from its
    checkpoint on failure (bounded, backed off) and recreating it when
    ``watch()`` fires — the reference's watchdog/retry posture
    (``src/pulsar.rs:193-221,306-318,86-94``) as a Spark restart policy.

    ``start_query`` must build AND start a fresh ``StreamingQuery``
    each call, with a stable ``checkpointLocation`` — that is what
    makes a restart a *resume* rather than a reprocess. The factory is
    the analog of the reference's consumer-recreation closure.

    Raises the final ``StreamingQueryException`` once ``max_restarts``
    failure restarts are exhausted (the reference's bounded retry
    count); returns a :class:`SupervisedRun` when the query terminates
    cleanly (``stop()`` from another thread, or ``availableNow``
    draining the source). ``max_recreations`` (default unbounded, like
    the reference's watchdog) guards against a pathological ``watch``
    that always fires.

    The restart budget is PER INCIDENT, not per lifetime: a query that
    ran healthily for ``healthy_reset_ms`` before failing gets a fresh
    budget and the backoff resets to its initial value — the
    reference's retry policy likewise resets once a reconnect succeeds
    (``pulsar.rs:86-94``). A lifetime budget would guarantee
    abandonment of any long-running job after max_restarts transient
    failures EVER. Pass ``healthy_reset_ms=None`` for the strict
    lifetime-budget behavior."""
    restarts = 0
    recreations = 0
    backoff_ms = backoff_initial_ms
    while True:
        attempt_started = time.monotonic()
        query = start_query()
        try:
            if watch is None:
                query.awaitTermination()
                return SupervisedRun(restarts=restarts, recreations=recreations)
            while True:
                if query.awaitTermination(poll_interval_ms / 1000.0):
                    return SupervisedRun(restarts=restarts, recreations=recreations)
                if watch():
                    break
            # clean stop + resume-from-checkpoint ≙ consumer recreation.
            # It counts once the stop is issued: if the query failed
            # before the stop took effect (in the batch it let finish),
            # awaitTermination re-raises and the failure path below
            # also counts a restart
            _stop_between_batches(query)
            recreations += 1
            if registry is not None:
                registry.inc("query_recreations_total", 1.0, query=name)
            if max_recreations is not None and recreations > max_recreations:
                raise RuntimeError(
                    f"supervised query {name!r}: watch() fired more than "
                    f"{max_recreations} times — refusing to recreate forever"
                )
            query.awaitTermination()
            continue
        except StreamingQueryException as exc:
            msg = str(exc)
            if _CKPT_NOT_EMPTY in msg:
                # deterministic startup garbage (typically our own clean
                # stop() interrupting the first offsets write), not a
                # transient stream fault: clean the uncommitted leftovers
                # and retry WITHOUT consuming the failure budget — every
                # restart would otherwise fail identically until the
                # budget is exhausted. Retry only when the cleanup
                # actually removed something, so an error this code
                # cannot fix still flows into the bounded-budget path
                # instead of looping forever.
                m = _CKPT_DIR_RE.search(msg)
                if m is not None and _clean_uncommitted_metadata(m.group(1)):
                    continue
            if (
                healthy_reset_ms is not None
                and (time.monotonic() - attempt_started) * 1000.0 >= healthy_reset_ms
            ):
                # a long healthy run before this failure = a NEW
                # incident: fresh budget, backoff re-armed
                restarts = 0
                backoff_ms = backoff_initial_ms
            if restarts >= max_restarts:
                raise
            restarts += 1
            if registry is not None:
                registry.inc("query_restarts_total", 1.0, query=name)
            time.sleep(backoff_ms / 1000.0)
            backoff_ms = min(backoff_ms * 2, backoff_max_ms)
            continue
