"""R1 — per-app keyed rate limiter, drop on exceed (SURVEY.md §2.5).

The reference uses a GCRA token-bucket keyed by app: records for apps
over their configured N/s are dropped, other apps are unaffected, and
unconfigured apps are unlimited (reference ``src/ratelimiter.rs:96-129``,
applied ``src/es.rs:359-373``). The observable batch contract we pin
(SURVEY.md §7.4): **keep at most N records per app per wall-clock
second, drop the rest, deterministically by arrival order**.

Spark-first design:
- deterministic batch operator: ``row_number() OVER (PARTITION BY app,
  second ORDER BY ts, tiebreaker) <= N`` — one shuffle on
  ``(app, second)``, which at 100 TB is well-distributed because the
  second bucket rotates; a single hot app does NOT hot-spot a single
  reducer the way ``PARTITION BY app`` alone would. Each row's N is
  one lookup in a folded ``map<string,int>`` literal
  (``functions/json_fns.json_literal``): the same plan at any number
  of configured apps, no join.
- streaming variant: per-micro-batch application of the same contract
  on the driver (:func:`keep_mask`, over the rows the ETL runner
  collects for the bulk sink anyway — no plan, no shuffle, no job;
  see ``streaming/rate_limit_state.py`` for the stateful
  ``applyInPandasWithState`` carry-across-batches variant).
"""

from __future__ import annotations

from collections import defaultdict

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from pulsar_elasticsearch_sync_rs_spark.functions.json_fns import json_literal


def rate_limit_per_second(
    df: DataFrame,
    limits: dict[str, int],
    app: str = "app",
    ts: str = "ts",
    tiebreaker: str | None = None,
) -> DataFrame:
    """Keep ≤ limits[app] records per (app, second); NULL apps and apps
    without a configured limit pass through untouched.

    ``tiebreaker`` makes the kept set deterministic when timestamps
    collide (fixtures use ``event_id``).
    """
    if not limits:
        return df
    second = F.date_trunc("second", F.col(ts))
    order = [F.col(ts).asc()]
    if tiebreaker:
        order.append(F.col(tiebreaker).asc())
    w = Window.partitionBy(F.col(app), second).orderBy(*order)

    limits_map = json_literal(
        {a: int(n) for a, n in limits.items()}, "map<string,int>"
    )
    limited = df.withColumn(
        "__rl_limit", F.element_at(limits_map, F.col(app).cast("string"))
    )
    return (
        limited
        .withColumn(
            "__rl_rn",
            F.when(F.col("__rl_limit").isNotNull(), F.row_number().over(w)),
        )
        .filter(F.col("__rl_limit").isNull() | (F.col("__rl_rn") <= F.col("__rl_limit")))
        .drop("__rl_limit", "__rl_rn")
    )


def _nulls_first(value) -> tuple:
    return (0, 0) if value is None else (1, value)


def keep_mask(rows, limits: dict[str, int]) -> list[bool]:
    """:func:`rate_limit_per_second` over collected rows, on the driver:
    ``rows`` are ``(app, unix_micros(ts), tiebreaker)`` triples, and the
    result says which rows the window keeps. Per (app, floor-second) the
    first ``limits[app]`` rows by (ts, tiebreaker) ascending, nulls
    first, are kept; NULL and unconfigured apps pass through, and a NULL
    ts is one group of its own per app, as ``date_trunc`` of NULL is.
    Python's ``//`` floors toward -inf like ``date_trunc('second')``,
    so pre-1970 seconds split where Spark splits them. Rows tied on
    both keys keep their collected order (Spark's ``row_number`` picks
    any)."""
    keep = [True] * len(rows)
    if not limits:
        return keep
    groups: dict[tuple, list[int]] = defaultdict(list)
    for pos, (app, ts_us, _) in enumerate(rows):
        if app is not None and app in limits:
            groups[(app, None if ts_us is None else ts_us // 1_000_000)].append(pos)
    for (app, _), members in groups.items():
        n = max(int(limits[app]), 0)
        if len(members) <= n:
            continue
        members.sort(key=lambda p: (_nulls_first(rows[p][1]), _nulls_first(rows[p][2])))
        for pos in members[n:]:
            keep[pos] = False
    return keep


def gcra_admit(t_ns, n: int, tat: int | None) -> tuple[list[bool], int | None]:
    """The GCRA recurrence for one key over event times ``t_ns`` (int64
    nanoseconds, already in event-time order) at ``n`` cells per
    second, starting from theoretical arrival time ``tat`` (``None``
    for a fresh key): ``allow iff t >= TAT - τ; then
    TAT = max(t, TAT) + T`` with ``T = 10⁹ // n`` and
    ``τ = (n - 1)·T``. Returns the keep flags and the final TAT.

    Integer nanoseconds, as the governor crate computes GCRA, shared by
    :func:`rate_limit_gcra` and the streaming
    ``streaming/rate_limit_state.stateful_gcra_limiter``."""
    period = 1_000_000_000 // n
    tau = (n - 1) * period
    keep = []
    for t in t_ns:
        t = int(t)
        if tat is None or t >= tat - tau:
            tat = (t if tat is None else max(t, tat)) + period
            keep.append(True)
        else:
            keep.append(False)
    return keep, tat


def rate_limit_gcra(
    df: DataFrame,
    limits: dict[str, int],
    app: str = "app",
    ts: str = "ts",
    tiebreaker: str | None = None,
) -> DataFrame:
    """EXACT GCRA semantics — parity with the reference's `governor`
    keyed limiter (``Quota::per_second(N)``: burst capacity N cells,
    emission interval 1/N s; reference ``src/ratelimiter.rs:43-57``,
    applied drop-on-exceed at ``src/es.rs:359-373``). The fixed-window
    cap above pins the coarse ≤N/s contract; THIS operator reproduces
    GCRA's smooth-spacing behavior, which differs at window
    boundaries: a fixed window admits up to 2N records in any
    straddling one-second span, GCRA never exceeds N + N·Δt.

    The standard GCRA recurrence (:func:`gcra_admit`) runs per key
    over event-time order; its cells-1 tolerance gives a burst of N.

    Scale posture: the recurrence is inherently SEQUENTIAL per key —
    exactly like the reference's in-memory limiter — so it runs as
    ``applyInPandas`` per app: keys parallelize across executors, and
    per-key state is one int64 TAT (:func:`gcra_admit`) regardless of
    group size. Apps without a configured limit never enter the
    grouped path (union of the untouched complement). Deterministic given (ts, tiebreaker) order
    → pytest-pinned against an independent pure-Python model."""
    import pandas as pd

    if not limits:
        return df

    cfg = {a: int(n) for a, n in limits.items()}
    schema = df.schema
    order_cols = [ts] + ([tiebreaker] if tiebreaker else [])

    def admit(pdf: pd.DataFrame) -> pd.DataFrame:
        n = cfg.get(pdf[app].iloc[0])
        if n is None:
            return pdf
        s = pdf.sort_values(order_cols, kind="mergesort")
        keep, _ = gcra_admit(s[ts].astype("int64").to_numpy(), n, None)
        return s[pd.Series(keep, index=s.index)]

    # null-safe split: a NULL app is "unconfigured" and must pass
    # through (isin returns NULL for NULL input, which a bare ~filter
    # would silently drop from BOTH branches — data loss)
    is_configured = F.coalesce(F.col(app).isin(list(cfg)), F.lit(False))
    configured = df.filter(is_configured)
    passthrough = df.filter(~is_configured)
    admitted = configured.groupBy(app).applyInPandas(admit, schema)
    return admitted.unionByName(passthrough)
