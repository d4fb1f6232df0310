"""Seeded input generators, one per workload.

Every generator takes a ``random.Random`` built from the workload seed,
so the same seed gives byte-identical inputs. The program under test only
ever sees the written files; the labels (kept or dropped, expected
``_index``, scheduled creation time) stay in the benchmark process and
drive the output checks.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import random
import re

import pyarrow as pa
import pyarrow.parquet as pq

# the events shape read_events_stream expects; ``ts`` is epoch
# nanoseconds as a long, which is also the runner's fallback schema, so a
# source directory that is still empty at query start reads the same way
EVENTS_SCHEMA = pa.schema(
    [
        ("event_id", pa.int64()),
        ("ts", pa.int64()),
        ("user_id", pa.int64()),
        ("event_type", pa.string()),
        ("value", pa.float64()),
        ("props", pa.string()),
    ]
)

EPOCH_MS = 1_767_225_600_000  # 2026-01-01T00:00:00Z: the generators' nominal clock

# ---------------------------------------------------------------- logs

# topic base -> partition count (0 = non-partitioned topic)
TOPICS = {
    "web-frontend": 4,
    "web-api": 2,
    "payments": 2,
    "billing": 0,
    "auth": 2,
    "search": 3,
    "inventory": 0,
    "audit": 2,
}
TOPIC_WEIGHTS = [30, 18, 10, 4, 12, 14, 6, 6]

# PipelineConfig flag values used by both ETL workloads
REWRITE_RULES = (("web-.*", "web"), ("pay.*", "finance"), ("billing", "finance"))
GLOBAL_FILTERS = (r'"probe":\s*"healthcheck"', r'"synthetic":\s*true')
NAMESPACE_FILTER = r'"audit\.noise":\s*"yes"'
DEBUG_PATTERNS = (r'"trace_only":\s*true',)
TIME_KEY = "ts_ms"

APPS = [f"svc-{name}" for name in (
    "checkout cart catalog login gateway ledger mailer pricing ranking "
    "recommend session shipping stock tax user wallet webhooks worker "
    "admin billing-ui cdn export fraud geo media notify quota report sso"
).split()]
LEVELS = ["info", "warn", "error", "debug"]
LEVEL_WEIGHTS = [60, 15, 10, 15]  # 15% debug

# stated shares of the message mix (of all generated messages)
SHARES = {
    "empty": 0.02,
    "invalid_json": 0.03,
    "global_filtered": 0.04,
    "namespace_filtered": 0.03,  # ten times this (30%) of audit-topic messages
    "app_missing": 0.10,
    "time_key_missing": 0.10,
    "es_rejected": 0.01,  # of kept messages: the _bulk stub rejects these items
}

# top-level key that makes the _bulk stub reject the item (status 400)
REJECT_KEY = "es_reject"

_WORDS = (
    "alpha beta gamma delta order cart user item price stock request "
    "response timeout retry cache shard replica token session region "
    "zone node pod queue batch stream commit offset ledger payment"
).split()


def _zipf_weights(n: int, s: float = 1.1) -> list[float]:
    return [1.0 / (k**s) for k in range(1, n + 1)]


_APP_WEIGHTS = _zipf_weights(len(APPS))


def topic_names() -> list[tuple[str, str]]:
    """(event_type, topic base) for every topic partition."""
    out = []
    for base, parts in TOPICS.items():
        if parts == 0:
            out.append((base, base))
        else:
            out.extend((f"{base}-partition-{p}", base) for p in range(parts))
    return out


def expected_index_base(base: str) -> str:
    """First matching anchored rewrite rule wins; '.*' stripped from
    the target; unchanged when nothing matches."""
    for pattern, target in REWRITE_RULES:
        if re.match("^" + pattern, base):
            return target.replace(".*", "")
    return base


def namespace_filters() -> dict[str, tuple[str, ...]]:
    return {t: (NAMESPACE_FILTER,) for t, base in topic_names() if base == "audit"}


def _payload(rng: random.Random, msg_id: str, created_ms: int, app: str | None,
             kind: str, base: str, rejected: bool) -> str:
    level = rng.choices(LEVELS, LEVEL_WEIGHTS)[0]
    doc: dict = {"msg_id": msg_id, "level": level}
    if app is not None:
        doc["app"] = app
    if rng.random() >= SHARES["time_key_missing"]:
        doc[TIME_KEY] = created_ms - rng.randrange(0, 5000)
    doc["message"] = " ".join(rng.choices(_WORDS, k=rng.randrange(6, 40)))
    doc["host"] = f"host-{rng.randrange(64):02d}"
    doc["http.status"] = rng.choice([200, 200, 200, 201, 304, 400, 404, 500, 503])
    doc["http.method"] = rng.choice(["GET", "POST", "PUT", "DELETE"])
    doc["latency.ms"] = round(rng.expovariate(1 / 40.0), 3)
    doc["user.agent"] = rng.choice(["curl/8.4", "Mozilla/5.0 (X11; Linux)", "okhttp/4.12", "python-requests/2.31"])
    doc["trace"] = {"trace_id": f"{rng.getrandbits(64):016x}", "span_id": f"{rng.getrandbits(32):08x}",
                    "parent": {"span.id": f"{rng.getrandbits(32):08x}", "sampled": rng.random() < 0.1}}
    doc["request"] = {"path": "/" + "/".join(rng.choices(_WORDS, k=rng.randrange(1, 5))),
                      "query.size": rng.randrange(0, 200),
                      "headers": {f"x-{w}": rng.choice(_WORDS) for w in rng.sample(_WORDS, rng.randrange(1, 6))}}
    doc["tags"] = rng.sample(_WORDS, rng.randrange(0, 6))
    # tens of top-level keys: a variable tail of flat attributes
    for j in range(rng.randrange(8, 36)):
        key = f"attr_{j}" if rng.random() < 0.8 else f"attr.{j}.v"
        doc[key] = rng.choice([rng.randrange(10**6), rng.random(), rng.choice(_WORDS), None, True])
    if level == "debug" and rng.random() < 0.3:
        doc["trace_only"] = True
    if kind == "global_filtered":
        if rng.random() < 0.5:
            doc["probe"] = "healthcheck"
        else:
            doc["synthetic"] = True
    elif kind == "namespace_filtered":
        doc["audit.noise"] = "yes"
    elif base == "audit":
        doc["audit.noise"] = "no"
    if rejected:
        doc[REJECT_KEY] = True
    return json.dumps(doc, separators=(", ", ": "))


def log_messages(rng: random.Random, n: int, created_ms: list[int],
                 id_prefix: str) -> tuple[list[dict], list[dict]]:
    """``n`` realistic log records and their labels. ``created_ms[i]`` is
    message i's scheduled creation (also its Pulsar publish time).

    Returns (rows, labels); a label is ``{"id", "kept", "index",
    "rejected", "created_ms", "app", "event_type"}`` with ``index`` None
    for dropped messages; ``rejected`` marks the kept messages whose
    ``_bulk`` item the stub answers with an error."""
    topics = topic_names()
    topic_w = []
    for (_, base) in topics:
        parts = max(TOPICS[base], 1)
        topic_w.append(TOPIC_WEIGHTS[list(TOPICS).index(base)] / parts)
    rows, labels = [], []
    for i in range(n):
        event_type, base = rng.choices(topics, topic_w)[0]
        msg_id = f"{id_prefix}-{i}"
        ms = created_ms[i]
        u = rng.random()
        if u < SHARES["empty"]:
            kind = "empty"
        elif u < SHARES["empty"] + SHARES["invalid_json"]:
            kind = "invalid_json"
        elif u < SHARES["empty"] + SHARES["invalid_json"] + SHARES["global_filtered"]:
            kind = "global_filtered"
        elif base == "audit" and rng.random() < SHARES["namespace_filtered"] * 10:
            kind = "namespace_filtered"
        else:
            kind = "kept"
        app = None if rng.random() < SHARES["app_missing"] else rng.choices(APPS, _APP_WEIGHTS)[0]
        rejected = kind == "kept" and rng.random() < SHARES["es_rejected"]
        if kind == "empty":
            props = ""
        else:
            props = _payload(rng, msg_id, ms, app, kind, base, rejected)
            if kind == "invalid_json":
                props = props[: rng.randrange(10, len(props) - 2)]
        kept = kind == "kept"
        date = dt.datetime.fromtimestamp(ms / 1000, tz=dt.timezone.utc).strftime("%Y.%m.%d")
        rows.append({
            "event_id": i,
            "ts": ms * 1_000_000,
            "user_id": rng.randrange(5000),
            "event_type": event_type,
            "value": round(rng.random() * 100, 2),
            "props": props,
        })
        labels.append({
            "id": msg_id,
            "kept": kept,
            "index": f"{expected_index_base(re.sub(r'-partition-[0-9]+$', '', event_type))}-{date}" if kept else None,
            "rejected": rejected,
            "created_ms": ms,
            "app": app or "__DEFAULT_APP__",
            "event_type": event_type,
        })
    return rows, labels


def write_events(path: str, rows: list[dict], mtime: float | None = None) -> None:
    """Write one parquet file of the events shape; via a temp name and
    an atomic rename so a streaming source never lists a partial file."""
    table = pa.Table.from_pylist(rows, schema=EVENTS_SCHEMA)
    tmp = os.path.join(os.path.dirname(path), "." + os.path.basename(path) + ".tmp")
    pq.write_table(table, tmp)
    if mtime is not None:
        os.utime(tmp, (mtime, mtime))
    os.replace(tmp, path)


def write_backlog(src_dir: str, rows: list[dict], n_files: int) -> None:
    """Split rows into ``n_files`` files with strictly increasing mtimes,
    so the file source admits them in arrival order."""
    os.makedirs(src_dir, exist_ok=True)
    per = -(-len(rows) // n_files)
    base = 1_700_000_000.0
    for f in range(n_files):
        write_events(os.path.join(src_dir, f"part-{f:05d}.parquet"), rows[f * per:(f + 1) * per],
                     mtime=base + f)


# ------------------------------------------------------ stateful events

STATE_TOPICS = ["click", "view", "purchase", "search", "error", "signup"]
STATE_TOPIC_WEIGHTS = [30, 30, 8, 18, 7, 7]


def state_events(rng: random.Random, n: int, n_users: int, dup_share: float,
                 disorder_ms: int, span_s: int, t0_ms: int) -> list[dict]:
    """Event backlog in ARRIVAL order for the stateful operators.

    Arrival j has a base time b_j increasing over ``span_s`` seconds;
    its event time is b_j minus up to ``disorder_ms`` (milliseconds, so
    watermark arithmetic is exact). Since every earlier arrival has an
    event time at most b_j, an event is never more than ``disorder_ms``
    behind the running maximum: any watermark delay above it drops
    nothing. A ``dup_share`` of arrivals repeat the payload of one of
    the previous 50 arrivals (content duplicates from an at-least-once
    upstream), with their own id and time."""
    step = span_s * 1000 / n
    users = [rng.randrange(10**6) for _ in range(n_users)]
    user_w = _zipf_weights(n_users, 0.8)
    rows: list[dict] = []
    for j in range(n):
        b = t0_ms + int(j * step)
        ts = b - rng.randrange(disorder_ms + 1)
        if rows and rng.random() < dup_share:
            src = rows[max(0, j - 1 - rng.randrange(50))]
            props, topic, user = src["props"], src["event_type"], src["user_id"]
        else:
            topic = rng.choices(STATE_TOPICS, STATE_TOPIC_WEIGHTS)[0]
            user = rng.choices(users, user_w)[0]
            level = "debug" if rng.random() < 0.2 else "info"
            props = json.dumps({"n": j, "level": level, "page": rng.choice(_WORDS),
                                "ms": rng.randrange(1000)})
        rows.append({"event_id": j, "ts": ts * 1_000_000, "user_id": user,
                     "event_type": topic, "value": round(rng.random() * 100, 2),
                     "props": props})
    return rows


# ------------------------------------------------------------ documents

DOC_VOCAB = (
    "spark window merge table column vector stream value data small join "
    "filter big group hash customer sort order slow line part fast row the "
    "agg key query a scan batch"
).split()
LANGS = ["en", "zh", "es", "fr", "de"]
LANG_WEIGHTS = [41, 15, 15, 15, 14]


DOC_DUP_SHARE = 0.02
DOC_REPETITIVE_SHARE = 0.03


def documents(rng: random.Random, n: int) -> list[dict]:
    """Curation corpus in the documents fixture's shape (doc_id, text,
    lang, source, n_chars): 10-100 tokens over a 31-word vocabulary,
    English-skewed languages, 20 sources, plus planted exact duplicates
    (the dedup stage's work) and repetitive documents (the repetition
    gate's work)."""
    rows = []
    for i in range(n):
        if rows and rng.random() < DOC_DUP_SHARE:
            text = rows[rng.randrange(len(rows))]["text"]
        elif rng.random() < DOC_REPETITIVE_SHARE:
            pair = rng.sample(DOC_VOCAB, 2)
            text = " ".join(pair * rng.randrange(6, 30))
        else:
            toks = rng.choices(DOC_VOCAB, k=rng.randrange(10, 101))
            if rng.random() < 0.05:
                toks[rng.randrange(len(toks))] = "dup"
            text = " ".join(toks)
        rows.append({"doc_id": i, "text": text,
                     "lang": rng.choices(LANGS, LANG_WEIGHTS)[0],
                     "source": f"src{rng.randrange(20)}", "n_chars": len(text)})
    return rows


def write_documents(path: str, rows: list[dict], n_files: int = 4) -> None:
    os.makedirs(path, exist_ok=True)
    schema = pa.schema([("doc_id", pa.int64()), ("text", pa.string()), ("lang", pa.string()),
                        ("source", pa.string()), ("n_chars", pa.int64())])
    per = -(-len(rows) // n_files)
    for f in range(n_files):
        pq.write_table(pa.Table.from_pylist(rows[f * per:(f + 1) * per], schema=schema),
                       os.path.join(path, f"part-{f:05d}.parquet"))
