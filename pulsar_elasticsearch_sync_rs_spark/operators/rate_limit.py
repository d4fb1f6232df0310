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
  reducer the way ``PARTITION BY app`` alone would.
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

# Above this many configured apps, the literal CASE chain becomes a
# pathological expression tree (codegen blowup, deep when/otherwise
# nesting); switch to a broadcast hash join against a tiny limits table
# — same semantics, O(1) expression depth, and the broadcast is a few
# KB even at 100k apps.
BROADCAST_LIMITS_THRESHOLD = 50


def rate_limit_per_second(
    df: DataFrame,
    limits: dict[str, int],
    app: str = "app",
    ts: str = "ts",
    tiebreaker: str | None = None,
    broadcast_threshold: int = BROADCAST_LIMITS_THRESHOLD,
) -> DataFrame:
    """Keep ≤ limits[app] records per (app, second); apps without a
    configured limit pass through untouched.

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

    if len(limits) <= broadcast_threshold:
        # small config: literal CASE chain — no join, constant-folded
        limit_expr = F.lit(None).cast("int")
        for a, n in limits.items():
            limit_expr = F.when(F.col(app) == a, F.lit(n)).otherwise(limit_expr)
        limited = df.withColumn("__rl_limit", limit_expr)
    else:
        # large config: broadcast-join a (app, limit) lookup table;
        # left join keeps unconfigured apps (null limit → unlimited)
        limits_df = df.sparkSession.createDataFrame(
            [(a, int(n)) for a, n in limits.items()],
            "__rl_app: string, __rl_limit: int",
        )
        limited = df.join(
            F.broadcast(limits_df), F.col(app) == F.col("__rl_app"), "left"
        ).drop("__rl_app")

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

    Standard GCRA recurrence per key, over event-time order:
    ``allow iff t >= TAT - τ; then TAT = max(t, TAT) + T`` with
    ``T = 1/N`` and ``τ = (N-1)·T`` (cells-1 tolerance: the first
    cell's conformance is T-spaced, giving a burst of N).

    Scale posture: the recurrence is inherently SEQUENTIAL per key —
    exactly like the reference's in-memory limiter — so it runs as
    ``applyInPandas`` per app: keys parallelize across executors, and
    per-key state is two floats regardless of group size. Apps without
    a configured limit never enter the grouped path (union of the
    untouched complement). Deterministic given (ts, tiebreaker) order
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
        # integer NANOSECONDS end to end (pandas timestamps are exact
        # int64 ns) — no float division anywhere, so the batch and
        # streaming lanes share bit-identical arithmetic (the governor
        # crate also computes GCRA in integer nanos)
        t_ns = s[ts].astype("int64").to_numpy()
        period = 1_000_000_000 // n
        tau = (n - 1) * period
        tat = None
        keep = []
        for t in t_ns:
            if tat is None or t >= tat - tau:
                tat = (t if tat is None else max(int(t), tat)) + period
                keep.append(True)
            else:
                keep.append(False)
        return s[pd.Series(keep, index=s.index)]

    # null-safe split: a NULL app is "unconfigured" and must pass
    # through (isin returns NULL for NULL input, which a bare ~filter
    # would silently drop from BOTH branches — data loss)
    is_configured = F.coalesce(F.col(app).isin(list(cfg)), F.lit(False))
    configured = df.filter(is_configured)
    passthrough = df.filter(~is_configured)
    admitted = configured.groupBy(app).applyInPandas(admit, schema)
    return admitted.unionByName(passthrough)
