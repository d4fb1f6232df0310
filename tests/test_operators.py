"""Unit tests for the ETL operator set (filters, rate limit, sanitize,
uuid injection, grouping) on small inline frames."""

from __future__ import annotations

import random

import pytest
from pyspark.sql import Row
from pyspark.sql import functions as F

from pulsar_elasticsearch_sync_rs_spark.config import PipelineConfig
from pulsar_elasticsearch_sync_rs_spark.functions.json_fns import (
    field_count,
    parse_json_map,
    sanitize_keys,
)
from pulsar_elasticsearch_sync_rs_spark.functions.topics import (
    strip_partition_suffix,
    topic_last_segment,
)
from pulsar_elasticsearch_sync_rs_spark.operators.filters import (
    dead_letter_split,
    filter_global_regex,
    filter_namespace_regex,
    filter_non_empty,
)
from pulsar_elasticsearch_sync_rs_spark.operators.rate_limit import (
    keep_mask,
    rate_limit_per_second,
)
from pulsar_elasticsearch_sync_rs_spark.plans.pipeline import etl_transform


def test_filters(spark):
    rows = [
        Row(value="", topic="a"),
        Row(value="drop me", topic="a"),
        Row(value="keep", topic="a"),
        Row(value="topicdrop", topic="b"),
        Row(value="topicdrop", topic="a"),  # pattern only applies to topic b
    ]
    df = spark.createDataFrame(rows)
    out = filter_non_empty(df, "value")
    out = filter_global_regex(out, "drop me", "value")
    out = filter_namespace_regex(out, {"b": "topicdrop"}, "value", "topic")
    got = sorted((r["value"], r["topic"]) for r in out.collect())
    assert got == [("keep", "a"), ("topicdrop", "a")]


def test_dead_letter_split(spark):
    df = spark.createDataFrame(
        [Row(value='{"a": 1}'), Row(value="not json"), Row(value='{"b": 2}')]
    )
    good, dead = dead_letter_split(df, "value")
    assert good.count() == 2
    assert [r["value"] for r in dead.collect()] == ["not json"]


def test_key_sanitize_nested(spark):
    df = spark.createDataFrame([Row(value='{"a.b": "1", "plain": "2"}')])
    out = df.select(
        F.map_keys(sanitize_keys(parse_json_map("value"))).alias("ks")
    ).first()["ks"]
    assert sorted(out) == ["a_b", "plain"]


def test_field_count(spark):
    df = spark.createDataFrame([Row(value='{"a":1,"b":2,"c":{"x":1}}')])
    assert df.select(field_count(parse_json_map("value")).alias("n")).first()["n"] == 3


def test_topic_helpers(spark):
    df = spark.createDataFrame(
        [Row(t="persistent://public/default/mytopic-partition-7")]
    )
    row = df.select(
        topic_last_segment("t").alias("short"),
        strip_partition_suffix(topic_last_segment("t")).alias("base"),
    ).first()
    assert row["short"] == "mytopic-partition-7"
    assert row["base"] == "mytopic"


def test_rate_limit_cap(spark):
    # 5 records in the same second for app a (limit 2), 3 for app b (no limit)
    rows = []
    for i in range(5):
        rows.append(Row(event_id=i, app="a", ts="2024-01-01 00:00:00"))
    for i in range(5, 8):
        rows.append(Row(event_id=i, app="b", ts="2024-01-01 00:00:00"))
    rows.append(Row(event_id=8, app="a", ts="2024-01-01 00:00:01"))  # next second
    df = spark.createDataFrame(rows).withColumn("ts", F.to_timestamp("ts"))
    kept = rate_limit_per_second(df, {"a": 2}, app="app", ts="ts", tiebreaker="event_id")
    got = sorted(r["event_id"] for r in kept.collect())
    # app a: first 2 of second 0 (ids 0,1) + id 8 in next second; app b: all
    assert got == [0, 1, 5, 6, 7, 8]



@pytest.mark.parametrize("tiebreaker_type", ["long", "string"])
def test_keep_mask_matches_rate_limit_per_second(spark, tiebreaker_type):
    """The driver limiter keeps exactly the rows the Spark window keeps,
    over 20 seeded random trials of 12 rows each: NULL apps and NULL
    timestamps, an unconfigured app, limits 0-3 so bursts overflow, seconds around
    the epoch (-1.5 s included, where flooring and truncating toward
    zero disagree), and timestamps shared within a second so the
    tiebreaker decides. Tiebreakers are distinct (one NULL per trial),
    so no two rows tie on both keys; string ones vary in length, so
    their order is not numeric."""
    rng = random.Random(17)
    rows, limits = [], {}
    for trial in range(20):
        apps = [f"{trial}a", f"{trial}b"]
        limits.update({a: rng.randint(0, 3) for a in apps})
        stamps = [None, -1_500_000] + [
            sec * 1_000_000 + rng.choice((0, 1, 500_000, 999_999)) for sec in (-2, -1, 0, 1)
        ]
        ids = rng.sample(range(1, 5000), 12)
        null_tb = rng.randrange(12)
        for k in range(12):
            tb = None if k == null_tb else ids[k]
            if tb is not None and tiebreaker_type == "string":
                tb = format(tb, "X")
            app = rng.choice([*apps, apps[0], f"{trial}c", None])
            rows.append((len(rows), app, rng.choice(stamps), tb))
    df = spark.createDataFrame(
        rows, f"rid long, app string, ts_us long, event_id {tiebreaker_type}"
    ).withColumn("ts", F.timestamp_micros("ts_us"))

    mask = keep_mask([(app, ts_us, tb) for _, app, ts_us, tb in rows], limits)
    want = {rid for (rid, *_), k in zip(rows, mask) if k}
    assert 0 < len(want) < len(rows)
    assert any(app is None for _, app, _, _ in rows)
    assert any(ts is None for _, app, ts, _ in rows if app in limits)
    kept = rate_limit_per_second(df, limits, app="app", ts="ts", tiebreaker="event_id")
    assert {r["rid"] for r in kept.select("rid").collect()} == want


def test_rate_limit_many_apps_one_shape(spark):
    """At 1000 configured apps the limit lookup is still one folded
    map literal: no join in the executed plan, the unconfigured app
    passes through, per-app caps hold, and the kept set is
    :func:`keep_mask`'s."""
    n_apps = 1000
    limits = {f"app{i}": (i % 3) + 1 for i in range(n_apps)}
    rows = [
        (i * 10 + j, f"app{i}", 1_704_067_200_000_000 + j)
        for i in range(0, n_apps, 25)
        for j in range(5)
    ]
    rows.append((99999, "unconfigured", 1_704_067_200_000_000))
    df = spark.createDataFrame(rows, "event_id long, app string, ts_us long").withColumn(
        "ts", F.timestamp_micros("ts_us")
    )
    kept = rate_limit_per_second(df, limits, tiebreaker="event_id")
    plan = kept._jdf.queryExecution().executedPlan().toString()
    assert "Join" not in plan and "BroadcastExchange" not in plan, plan

    got = [(r["event_id"], r["app"]) for r in kept.collect()]
    mask = keep_mask([(app, ts_us, eid) for eid, app, ts_us in rows], limits)
    assert sorted(eid for eid, _ in got) == sorted(
        eid for (eid, _, _), k in zip(rows, mask) if k
    )
    assert 99999 in {eid for eid, _ in got}
    by_app: dict[str, int] = {}
    for _, app in got:
        by_app[app] = by_app.get(app, 0) + 1
    # app0 limit 1, app25 limit 2, app50 limit 3
    assert (by_app["app0"], by_app["app25"], by_app["app50"]) == (1, 2, 3)


def test_json_literal_folds(spark):
    """``json_literal`` reaches the optimized plan as one constant: no
    ``from_json`` is left to parse per row, at 100k array entries and
    for a map. A NULL key and a missing key both look up NULL."""
    from pulsar_elasticsearch_sync_rs_spark.functions.json_fns import json_literal

    vals = [i * 7 - 3 for i in range(100_000)]
    arr = spark.range(0, 100_000, 25_000).select(
        "id",
        F.element_at(
            json_literal(vals, "array<bigint>"), F.col("id").cast("int") + F.lit(1)
        ).alias("v"),
    )
    assert "from_json" not in arr._jdf.queryExecution().optimizedPlan().toString()
    assert {r["id"]: r["v"] for r in arr.collect()} == {
        i: vals[i] for i in range(0, 100_000, 25_000)
    }

    limits = json_literal({"a": 1, "b": 2}, "map<string,int>")
    looked = spark.createDataFrame([("a",), (None,), ("zz",), ("b",)], "app string").select(
        "app", F.element_at(limits, F.col("app")).alias("n")
    )
    assert "from_json" not in looked._jdf.queryExecution().optimizedPlan().toString()
    assert dict(looked.collect()) == {"a": 1, None: None, "zz": None, "b": 2}
    assert looked.schema["n"].dataType.simpleString() == "int"


def test_uuid_injection_unique(spark):
    df = spark.createDataFrame([Row(value='{"a": 1}', topic="t")] * 50)
    cfg = PipelineConfig(inject_key=True)
    out = (
        df.withColumn("publish_time", F.to_timestamp(F.lit("2024-01-01 00:00:00")))
        .withColumn("event_id", F.monotonically_increasing_id())
    )
    result = etl_transform(out, cfg)
    vals = [r[cfg.injected_field] for r in result.collect()]
    assert len(vals) == 50
    assert all(v is not None for v in vals)
    assert len(set(vals)) == 50  # v4 uuids, all distinct


def test_etl_transform_shape(spark):
    df = spark.createDataFrame(
        [
            Row(
                event_id=1,
                value='{"app": "billing", "level": "debug", "k.x": "1"}',
                topic="persistent://public/default/app-biz-partition-3",
            )
        ]
    ).withColumn("publish_time", F.to_timestamp(F.lit("2024-03-12 10:00:00")))
    from pulsar_elasticsearch_sync_rs_spark.config import RewriteRule

    cfg = PipelineConfig(rewrite_rules=(RewriteRule("app-biz", "app"),))
    row = etl_transform(df, cfg).first()
    assert row["app"] == "billing"
    assert row["index"] == "app-2024.03.12"
    assert row["is_debug"] is True
    assert row["date_str"] == "2024.03.12"
    assert row["doc"]["k_x"] == "1"
    assert row["at_timestamp"].startswith("2024-03-12T10:00:00")


def test_pii_redaction_golden(spark):
    from pulsar_elasticsearch_sync_rs_spark.functions.text import pii_count, redact_pii

    text = (
        "mail a.b+c@ex-ample.org, ssn 123-45-6789, call 555-867-5309 "
        "or 555.867.5310, host 192.168.0.1, version 1.2 stays, id 12-34 stays"
    )
    df = spark.createDataFrame([Row(t=text)])
    row = df.select(
        redact_pii("t").alias("red"),
        pii_count("t", "email").alias("ne"),
        pii_count("t", "ssn").alias("ns"),
        pii_count("t", "phone").alias("np"),
        pii_count("t", "ipv4").alias("ni"),
    ).first()
    assert row["red"] == (
        "mail <EMAIL>, ssn <SSN>, call <PHONE> "
        "or <PHONE>, host <IP>, version 1.2 stays, id 12-34 stays"
    )
    assert (row["ne"], row["ns"], row["np"], row["ni"]) == (1, 1, 2, 1)


def test_date_str_render_tz(spark):
    """P4 local-TZ rendering parity (reference src/util.rs:45-46): a
    UTC timestamp late in the evening lands in the PREVIOUS date when
    rendered in a western timezone, and the index name follows."""
    from pyspark.sql import functions as F

    from pulsar_elasticsearch_sync_rs_spark.functions.timestamps import date_str

    df = spark.createDataFrame(
        [("2024-03-15 03:30:00",)], "ts_str string"
    ).select(F.to_timestamp("ts_str").alias("ts"))
    row = df.select(
        date_str("ts").alias("utc"),
        date_str("ts", tz="America/New_York").alias("nyc"),
        date_str("ts", tz="Asia/Tokyo").alias("tokyo"),
    ).collect()[0]
    assert row["utc"] == "2024.03.15"
    assert row["nyc"] == "2024.03.14"  # 03:30 UTC = 23:30 EDT previous day
    assert row["tokyo"] == "2024.03.15"  # 12:30 JST same day


def _ts_df(spark, app_times, app_col="app"):
    from pyspark.sql import functions as F

    rows = [
        (app, i, float(t)) for app, times in app_times.items() for i, t in enumerate(times)
    ]
    return spark.createDataFrame(rows, f"{app_col} string, event_id long, sec double").select(
        app_col, "event_id", F.timestamp_seconds("sec").alias("ts")
    )


def test_rate_limit_gcra_trace(spark):
    """Hand-computed GCRA trace (N=2/s → T=0.5, τ=0.5): admissions at
    0.0, 0.1, 0.6, 1.0; drops at 0.2 (TAT ahead) and 1.05."""
    from pulsar_elasticsearch_sync_rs_spark.operators.rate_limit import rate_limit_gcra

    df = _ts_df(spark, {"a": [0.0, 0.1, 0.2, 0.6, 1.0, 1.05], "free": [0.0, 0.01, 0.02]})
    out = rate_limit_gcra(df, {"a": 2}, ts="ts", tiebreaker="event_id")
    got = sorted(r["event_id"] for r in out.filter("app = 'a'").collect())
    assert got == [0, 1, 3, 4]
    # unconfigured app passes through untouched
    assert out.filter("app = 'free'").count() == 3


def test_rate_limit_gcra_burst_equals_n(spark):
    """governor parity: Quota::per_second(N) admits an initial burst of
    exactly N back-to-back cells, then enforces spacing."""
    from pulsar_elasticsearch_sync_rs_spark.operators.rate_limit import rate_limit_gcra

    df = _ts_df(spark, {"a": [k * 0.001 for k in range(10)]})
    out = rate_limit_gcra(df, {"a": 3}, ts="ts", tiebreaker="event_id")
    assert sorted(r["event_id"] for r in out.collect()) == [0, 1, 2]


def test_rate_limit_gcra_steady_rate_all_admitted(spark):
    """Events spaced exactly at the emission interval are all conformant."""
    from pulsar_elasticsearch_sync_rs_spark.operators.rate_limit import rate_limit_gcra

    df = _ts_df(spark, {"a": [k * 0.25 for k in range(12)]})
    out = rate_limit_gcra(df, {"a": 4}, ts="ts", tiebreaker="event_id")
    assert out.count() == 12


def test_rate_limit_gcra_vs_fixed_window_boundary(spark):
    """The observable difference the SURVEY risk register documents: a
    burst straddling a second boundary. The fixed-window cap admits N
    per truncated second (2N total); GCRA smooths it."""
    from pulsar_elasticsearch_sync_rs_spark.operators.rate_limit import (
        rate_limit_gcra,
        rate_limit_per_second,
    )

    n = 5
    times = [0.9 + k * 0.01 for k in range(n)] + [1.0 + k * 0.01 for k in range(n)]
    df = _ts_df(spark, {"a": times})
    fixed = rate_limit_per_second(df, {"a": n}, ts="ts", tiebreaker="event_id").count()
    gcra = rate_limit_gcra(df, {"a": n}, ts="ts", tiebreaker="event_id").count()
    assert fixed == 2 * n  # N in [0,1) + N in [1,2)
    assert gcra < fixed  # smooth spacing forbids the boundary double-burst
    assert gcra >= n  # but the full burst capacity is honored


def test_rate_limit_gcra_null_app_passthrough(spark):
    """Regression: a NULL app is 'unconfigured' and must pass through —
    isin() returns NULL for NULL input, which once excluded such rows
    from both the configured and passthrough branches (data loss)."""
    from pyspark.sql import functions as F

    from pulsar_elasticsearch_sync_rs_spark.operators.rate_limit import rate_limit_gcra

    df = spark.createDataFrame(
        [(0, "a", 0.0), (1, None, 0.0), (2, None, 0.001)],
        "event_id long, app string, sec double",
    ).select("event_id", "app", F.timestamp_seconds("sec").alias("ts"))
    out = rate_limit_gcra(df, {"a": 5}, ts="ts", tiebreaker="event_id")
    assert out.count() == 3  # nothing lost; NULL-app rows unlimited


def test_duplicate_json_keys_first_wins(spark):
    """Pin the duplicate-key semantics of the RAW parse lanes: on this
    Spark version BOTH lookups on from_json's map and get_json_object
    keep the FIRST occurrence of a repeated top-level key. The ETL
    chain itself routes app off the SANITIZED (LAST_WIN-rebuilt) doc
    map for serde_json parity — pinned end-to-end in
    test_duplicate_json_keys_survive_the_chain — but callers holding
    only the raw map inherit first-wins. Neither raw behavior is
    API-guaranteed; this test fails loudly if a Spark upgrade ever
    moves either lane."""
    from pyspark.sql import functions as F

    from pulsar_elasticsearch_sync_rs_spark.functions.json_fns import (
        app_from_json,
        app_from_map,
    )

    payload = '{"app": "first", "app": "second"}'
    df = spark.createDataFrame([(payload,)], "value string").select(
        "value", F.from_json("value", "map<string,string>").alias("parsed")
    )
    row = df.select(
        app_from_map(F.col("parsed")).alias("map_app"),
        app_from_json("value").alias("gjo_app"),
    ).collect()[0]
    assert row["map_app"] == "first"  # both lanes agree: first wins
    assert row["gjo_app"] == "first"


def test_count_min_sketch_guarantees(spark, sf_dir):
    """CMS invariants on the real corpus: (1) every point estimate is
    an OVERestimate (one-sided error); (2) the overcount respects a
    loose 4·N/w bound; (3) sketches of two shards merge by cell-wise
    addition into exactly the whole-corpus sketch."""
    from pyspark.sql import functions as F

    from pulsar_elasticsearch_sync_rs_spark.functions.text import ws_tokens
    from pulsar_elasticsearch_sync_rs_spark.operators.sketches import (
        cms_estimate,
        cms_merge,
        count_min_sketch,
    )
    from pulsar_elasticsearch_sync_rs_spark.sources.batch import read_table

    docs = read_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", F.explode(ws_tokens(F.lower(F.col("text")))).alias("token")
    )
    n_total = toks.count()
    w = 1024

    cms = count_min_sketch(toks, "token", d=4, w=w)
    exact = toks.groupBy("token").agg(F.count("*").alias("n"))
    est = cms_estimate(cms, exact, "token")
    rows = est.collect()
    assert rows, "no tokens in fixture"
    assert all(r["est_n"] >= r["n"] for r in rows), "CMS must never underestimate"
    bound = 4 * n_total / w
    worst = max(r["est_n"] - r["n"] for r in rows)
    assert worst <= bound, f"overcount {worst} blew the loose 4N/w bound {bound}"

    half_a = count_min_sketch(toks.filter(F.col("doc_id") % 2 == 0), "token", d=4, w=w)
    half_b = count_min_sketch(toks.filter(F.col("doc_id") % 2 == 1), "token", d=4, w=w)
    merged = {
        (r["row"], r["col"]): r["cnt"] for r in cms_merge(half_a, half_b).cells.collect()
    }
    full = {(r["row"], r["col"]): r["cnt"] for r in cms.cells.collect()}
    assert merged == full, "shard sketches must merge into the whole-corpus sketch"

    # parameter-mismatch and name-collision guards fail fast
    import pytest as _pytest

    other = count_min_sketch(toks, "token", d=4, w=2 * w)
    with _pytest.raises(ValueError, match="different"):
        cms_merge(cms, other)
    with _pytest.raises(ValueError, match="collide"):
        cms_estimate(cms, exact.withColumnRenamed("n", "cnt"), "token")

    # cardinality contract: duplicate watchlist rows come back as
    # duplicates — the estimate is per ROW, not per distinct key
    doubled = exact.limit(3).unionAll(exact.limit(3))
    est2 = cms_estimate(cms, doubled, "token").collect()
    assert len(est2) == 6, f"expected 6 rows back for 6 in, got {len(est2)}"


def test_decontaminate_broadcast_guard(spark, sf_dir):
    """The bench gram side is broadcast only when its MEASURED count
    fits: (1) under the default threshold the gram join carries the
    broadcast hint; (2) with the threshold forced below the gram count
    no hint is planted — Catalyst/AQE may STILL choose broadcast from
    measured stats (that is the point: measured, never assumed), so the
    assertion is on the logical-plan hint, not the physical strategy;
    (3) both paths return identical hits; (4) the filter form drops
    exactly the hit docs."""
    from pyspark.sql import functions as F

    from pulsar_elasticsearch_sync_rs_spark.operators.decontaminate import (
        contamination_hits,
        decontaminate,
    )
    from pulsar_elasticsearch_sync_rs_spark.sources.batch import read_table

    docs = read_table(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 97 == 0)
    corpus = docs.filter(F.col("doc_id") % 97 != 0)

    fast = contamination_hits(corpus, bench, n=3)
    slow = contamination_hits(corpus, bench, n=3, max_broadcast_grams=0)

    plan_fast = fast._jdf.queryExecution().optimizedPlan().toString()
    plan_slow = slow._jdf.queryExecution().optimizedPlan().toString()
    assert "broadcast" in plan_fast, "small bench set must carry the broadcast hint"
    assert "broadcast" not in plan_slow, (
        "oversized bench set must NOT carry an unconditional broadcast hint"
    )

    got_fast = {(r["doc_id"], r["n_hit_ngrams"]) for r in fast.collect()}
    got_slow = {(r["doc_id"], r["n_hit_ngrams"]) for r in slow.collect()}
    assert got_fast == got_slow and got_fast, "both paths must agree (and hit something)"

    clean = decontaminate(corpus, bench, n=3, max_broadcast_grams=0)
    hit_ids = {d for d, _ in got_fast}
    kept = {r["doc_id"] for r in clean.select("doc_id").collect()}
    all_ids = {r["doc_id"] for r in corpus.select("doc_id").collect()}
    assert kept == all_ids - hit_ids, "filter form must drop exactly the hit docs"


def test_equidepth_histogram_exact_and_sketch_paths(spark, sf_dir):
    """The equi-depth operator's two edge regimes: (1) exact path ==
    the oracled lane; (2) the mergeable approx_percentile path at high
    accuracy produces the SAME bins on the fixture (quartile edges far
    from any tie); (3) the sketch path's plan contains ApproximatePercentile,
    the exact path's contains Percentile — i.e. the switch actually routes."""
    from pulsar_elasticsearch_sync_rs_spark.plans.analytics import equidepth_histogram
    from pulsar_elasticsearch_sync_rs_spark.sources.batch import read_table

    ev = read_table(spark, sf_dir, "events")
    exact = equidepth_histogram(ev, "event_type", "value", exact=True)
    sketch = equidepth_histogram(ev, "event_type", "value", exact=False, accuracy=50000)

    plan_exact = exact._jdf.queryExecution().optimizedPlan().toString()
    plan_sketch = sketch._jdf.queryExecution().optimizedPlan().toString()
    assert "approx_percentile" not in plan_exact and "percentile" in plan_exact
    assert "approx_percentile" in plan_sketch

    rows_exact = [(r[0], r[1], r[2]) for r in exact.collect()]
    rows_sketch = [(r[0], r[1], r[2]) for r in sketch.collect()]
    # totals per type always agree (binning partitions the rows)...
    tot = lambda rows: {
        t: sum(n for ty, _, n in rows if ty == t) for t in {ty for ty, _, _ in rows}
    }
    assert tot(rows_exact) == tot(rows_sketch)
    # ...and every bin is within 5% of the group total: approx_percentile
    # returns a real data value where percentile interpolates, so edge
    # rows can hop one bin, but the equi-depth shape must hold
    totals = tot(rows_exact)
    sk = {(t, b): n for t, b, n in rows_sketch}
    for t, b, n in rows_exact:
        assert abs(n - sk.get((t, b), 0)) <= 0.05 * totals[t], (t, b, n, sk.get((t, b)))


def test_pii_redaction_planted(spark):
    """Planted-case pins for the PII scrub helpers q_pii_scrub rides
    (the lane itself is oracle-checked on synthesized footers; this
    pins the per-pattern semantics on hand-written text): application
    order email→SSN→phone→IPv4, multiple matches all replaced, a
    numeric mail host is NOT an email (alphabetic TLD required — the
    IPv4 pass takes it), and PII-free text passes through untouched."""
    from pulsar_elasticsearch_sync_rs_spark.functions.text import (
        pii_count,
        redact_pii,
    )

    rows = [
        Row(i=0, t="mail a.b_c+x@sub.example.org and d@e.io twice"),
        Row(i=1, t="login from 192.168.0.1 then 10.0.0.254 done"),
        Row(i=2, t="call 555-867-5309 or 800.555.0100 now"),
        Row(i=3, t="ssn 123-45-6789 on file"),
        Row(i=4, t="numeric domain user@10.0.0.1 falls to the ip pass"),
        Row(i=5, t="no pii here just words 1234 and 12.5 percent"),
        Row(i=6, t="mixed x@y.com at 8.8.8.8 tel 555-123-4567"),
    ]
    df = spark.createDataFrame(rows)
    got = {
        r["i"]: r
        for r in df.select(
            "i",
            redact_pii("t").alias("red"),
            pii_count("t", "email").alias("n_email"),
            pii_count("t", "ssn").alias("n_ssn"),
            pii_count("t", "phone").alias("n_phone"),
            pii_count("t", "ipv4").alias("n_ip"),
        ).collect()
    }
    assert got[0]["red"] == "mail <EMAIL> and <EMAIL> twice"
    assert (got[0]["n_email"], got[0]["n_ip"], got[0]["n_phone"]) == (2, 0, 0)
    assert got[1]["red"] == "login from <IP> then <IP> done"
    assert got[1]["n_ip"] == 2
    # both separators of the phone class; an SSN is 3-2-4, not matched
    assert got[2]["red"] == "call <PHONE> or <PHONE> now"
    assert (got[2]["n_phone"], got[2]["n_ssn"]) == (2, 0)
    assert got[3]["red"] == "ssn <SSN> on file"
    assert (got[3]["n_ssn"], got[3]["n_phone"]) == (1, 0)
    # a numeric host is NOT a valid email (alphabetic TLD required);
    # the email pass leaves it and the ipv4 pass takes the host
    assert got[4]["red"] == "numeric domain user@<IP> falls to the ip pass"
    assert (got[4]["n_email"], got[4]["n_ip"]) == (0, 1)
    assert got[5]["red"] == rows[5].t  # untouched
    assert got[6]["red"] == "mixed <EMAIL> at <IP> tel <PHONE>"


def test_duplicate_json_keys_survive_the_chain(spark):
    """Robustness pin (round 9): a payload with DUPLICATE top-level
    keys is valid JSON text — the reference's serde_json keeps the
    last occurrence — but Spark's from_json physically retains both
    entries and the P2 sanitize rebuild (transform_keys) then dies
    with DUPLICATED_MAP_KEY under the default EXCEPTION policy: one
    poison message halts the whole sync. The session-level LAST_WIN
    policy (session.py / __spark_entry__._configure) makes the rebuild
    dedupe instead. Pinned end-to-end: the record flows through, the
    sanitized doc keeps the LAST value (serde_json parity), the key
    counts once, and app routes off the deduped doc map — LAST
    occurrence, consistent with the doc body (the RAW lanes' first-wins
    lookups stay pinned separately in
    test_duplicate_json_keys_first_wins)."""
    df = spark.createDataFrame(
        [
            Row(
                event_id=1,
                value='{"app": "billing", "app": "audit", "dup.k": "old", "dup.k": "new"}',
                topic="persistent://public/default/t",
            )
        ]
    ).withColumn("publish_time", F.to_timestamp(F.lit("2024-03-12 10:00:00")))
    row = etl_transform(df, PipelineConfig()).first()
    assert row is not None, "duplicate-key payload must not be dropped or fail"
    assert row["doc"]["dup_k"] == "new"  # last occurrence, serde_json parity
    assert row["n_fields"] == 2  # app + dup_k, each duplicate counted once
    # app routes off the deduped doc map: LAST occurrence, matching the
    # doc body — not the raw map's first-wins lookup
    assert row["app"] == "audit"
    assert row["doc"]["app"] == "audit"


def test_duplicate_time_key_stamps_last_occurrence(spark):
    """Companion pin: the @timestamp time-key lookup goes through an
    identity transform_keys rebuild (LAST_WIN), so a duplicate
    time-key payload stamps the LAST occurrence — consistent with the
    doc body and serde_json — not the raw map's first-wins lookup."""
    df = spark.createDataFrame(
        [
            Row(
                event_id=1,
                value='{"ts": 1000, "ts": 1700000000000, "app": "x"}',
                topic="persistent://public/default/t",
            )
        ]
    ).withColumn("publish_time", F.to_timestamp(F.lit("2024-03-12 10:00:00")))
    row = etl_transform(df, PipelineConfig(time_key="ts")).first()
    # 1700000000000 ms = 2023-11-14T22:13:20Z; first-wins would read
    # 1000 ms = 1970-01-01T00:00:01Z
    assert row["at_timestamp"].startswith("2023-11-14T22:13:20")


def test_etl_transform_asserts_last_win_policy(spark):
    """Round-9 ADVICE: the chain's transform_keys rebuilds hard-require
    spark.sql.mapKeyDedupPolicy=LAST_WIN; on a session built elsewhere
    the first duplicate-key payload would abort the job mid-stream. The
    entry now fails FAST with a pointed message instead."""
    import pytest

    df = spark.createDataFrame(
        [Row(event_id=1, value='{"k": "v"}', topic="persistent://public/default/t")]
    ).withColumn("publish_time", F.to_timestamp(F.lit("2024-03-12 10:00:00")))
    prior = spark.conf.get("spark.sql.mapKeyDedupPolicy")
    try:
        spark.conf.set("spark.sql.mapKeyDedupPolicy", "EXCEPTION")
        with pytest.raises(RuntimeError, match="LAST_WIN"):
            etl_transform(df, PipelineConfig())
    finally:
        spark.conf.set("spark.sql.mapKeyDedupPolicy", prior)
    # restored session still flows
    assert etl_transform(df, PipelineConfig()).first() is not None


def test_weighted_sample_semantics(spark):
    """Efraimidis–Spirakis weighted sampling (q_weighted_sample's
    kernel): (a) a dominant-weight doc wins rank 1 (key = u^(1/w) → 1
    as w grows, for ANY u in (0,1)); (b) no replacement (distinct
    ids); (c) fully deterministic across runs."""
    from pulsar_elasticsearch_sync_rs_spark.plans.llm_queries import (
        U32,
        knuth_u32,
    )

    rows = [(0, "en", 1_000_000)] + [(i, "en", 1 + i % 3) for i in range(1, 40)]
    docs = spark.createDataFrame(rows, "doc_id long, lang string, n_chars long")
    u = (knuth_u32("doc_id", salt=7) + F.lit(0.5)) / F.lit(float(U32))
    key = F.pow(u, F.lit(1.0) / F.col("n_chars"))
    from pyspark.sql import Window as W

    w = W.partitionBy("lang").orderBy(F.col("__key").desc(), F.col("doc_id").asc())
    out = (
        docs.withColumn("__key", key)
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= 3)
        .select("rank", "doc_id")
    )
    got = sorted((r["rank"], r["doc_id"]) for r in out.collect())
    assert got[0] == (1, 0), f"dominant weight must win: {got}"
    assert len({d for _, d in got}) == 3  # without replacement
    got2 = sorted((r["rank"], r["doc_id"]) for r in out.collect())
    assert got == got2


def test_profile_table_stats_and_totality(spark):
    """operators/profiling.profile_table: per-column nulls/distinct/
    min-max reprs from one aggregation pass; empty tables profile to
    ZERO rows (constant-group-key totality); guards fail loudly."""
    import pytest as _pytest
    from pyspark.sql import functions as F

    from pulsar_elasticsearch_sync_rs_spark.operators.profiling import (
        profile_table,
    )

    df = spark.createDataFrame(
        [
            (1, "aa", None),
            (2, "bb", 5.0),
            (3, "aa", 7.5),
            (4, None, 5.0),
        ],
        "id long, s string, v double",
    )
    out = {r.col_name: r for r in profile_table(df, exact_distinct=True).collect()}
    assert set(out) == {"id", "s", "v"}
    assert all(r.n_rows == 4 for r in out.values())
    assert (out["id"].n_null, out["id"].n_distinct) == (0, 4)
    assert (out["s"].n_null, out["s"].n_distinct) == (1, 2)
    assert (out["v"].n_null, out["v"].n_distinct) == (1, 2)
    assert (out["id"].min_repr, out["id"].max_repr) == ("1", "4")
    assert (out["s"].min_repr, out["s"].max_repr) == ("aa", "bb")
    assert out["id"].dtype == "bigint"

    # approx path: sane on small-cardinality input (HLL is exact-ish
    # at these sizes), same shape
    ap = {r.col_name: r for r in profile_table(df).collect()}
    assert ap["s"].n_distinct == 2

    # repr truncation
    long_s = spark.createDataFrame([("x" * 200,)], "t string")
    r = profile_table(long_s, repr_len=16).collect()[0]
    assert len(r.min_repr) == 16

    # empty table → zero rows, schema intact
    empty = profile_table(
        spark.createDataFrame([], "id long, s string"), exact_distinct=True
    )
    assert empty.collect() == []
    assert empty.columns == [
        "col_name", "dtype", "n_rows", "n_null", "n_distinct",
        "min_repr", "max_repr",
    ]

    # guards
    with _pytest.raises(ValueError, match="no column"):
        profile_table(df, ["nope"])
    with _pytest.raises(ValueError, match="nothing to profile"):
        profile_table(df, [])


def test_profile_drift_sides_and_schema_drift(spark):
    """profile_drift: per-column side-by-side stats with range flags;
    a column present on one side only (schema drift) surfaces with
    NULL stats via the full-outer join instead of vanishing."""
    from pyspark.sql import functions as F

    from pulsar_elasticsearch_sync_rs_spark.operators.profiling import (
        profile_drift,
    )

    a = spark.createDataFrame(
        [(1, "x"), (2, "y"), (3, None)], "id long, s string"
    )
    b = spark.createDataFrame(
        [(1, 5.0), (9, 6.0)], "id long, v double"
    )
    out = {r.col_name: r for r in profile_drift(a, b, exact_distinct=True).collect()}
    assert set(out) == {"id", "s", "v"}
    assert (out["id"].n_rows_a, out["id"].n_rows_b) == (3, 2)
    assert out["id"].same_min is True  # both min(id) == 1
    assert out["id"].same_max is False  # 3 vs 9
    assert out["s"].n_rows_b is None and out["s"].n_null_a == 1
    assert out["v"].n_rows_a is None and out["v"].n_distinct_b == 2
    # identical sides → full agreement
    same = profile_drift(a, a, exact_distinct=True).collect()
    assert all(r.same_min and r.same_max for r in same)
    assert all(r.n_rows_a == r.n_rows_b for r in same)
