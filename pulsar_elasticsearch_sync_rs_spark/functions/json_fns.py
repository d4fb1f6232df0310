"""Schema-on-read JSON operators (P1, P2, P10, P12 of SURVEY.md §2.3).

The reference parses each payload into a dynamic ``serde_json::Value``
(reference ``src/es.rs:124-127``) and works on it record-at-a-time. The
Spark-native equivalents keep two lanes:

- a **MapType lane** (``parse_json_map``) for dynamic top-level keys —
  enough for key sanitation, field counting and app extraction;
- point lookups via ``get_json_object`` for typed single-field access
  (app extraction, time-key) without materializing the whole map.

All expressions are built-in functions — they stay inside whole-stage
codegen; nothing here drops to Python per row.
"""

from __future__ import annotations

import json

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

DEFAULT_APP = "__DEFAULT_APP__"  # reference src/es.rs:350-351


def json_literal(value, ddl: str) -> Column:
    """A driver-computed list or dict as one plan constant of type
    ``ddl`` (e.g. ``"array<bigint>"``, ``"map<string,int>"``).

    ConstantFolding evaluates the ``from_json`` of a string literal
    once, at optimization, so the plan holds a single array or map
    ``Literal``: no join, no broadcast-build job, and no parse per row
    (pinned by ``tests/test_operators.py::test_json_literal_folds``).
    Building it costs one py4j call at any size (about 2 ms for 4096
    entries, where an ``F.array`` of per-element ``F.lit`` takes about
    3 ms per element). A large literal rides in the stage's task
    binary, which Spark broadcasts once per stage."""
    return F.from_json(F.lit(json.dumps(value)), ddl)


def parse_json_map(raw: Column | str) -> Column:
    """P1 — parse a JSON object string into ``map<string,string>``.

    Unparseable payloads yield NULL, which downstream F4 filters drop
    (the reference drops them too — ``src/es.rs:338,374-377``).
    Value types collapse to string in this lane (documented in
    SURVEY.md §7.4); typed access goes through ``get_json_object``.
    """
    raw = F.col(raw) if isinstance(raw, str) else raw
    return F.from_json(raw, T.MapType(T.StringType(), T.StringType()))


def sanitize_keys(parsed_map: Column) -> Column:
    """P2 — dot→underscore on every top-level key (reference
    ``transform()`` recursion, ``src/es.rs:77-107``).

    On the MapType lane this is a single ``transform_keys`` —
    vectorized, no shuffle. For typed nested structs use
    :func:`sanitize_struct_keys` which rebuilds the struct expression
    recursively (still pure Catalyst expressions).
    """
    return F.transform_keys(parsed_map, lambda k, _v: F.replace(k, F.lit("."), F.lit("_")))


def sanitize_struct_keys(col: Column, dtype: T.DataType) -> Column:
    """P2 (typed lane) — recursively rename struct fields ``.``→``_``.

    Builds a nested ``struct(...)`` expression from the schema; the
    whole rewrite happens JVM-side in one projection (no UDF). Mirrors
    the reference's recursion over nested objects (``src/es.rs:99-102``).
    """
    if isinstance(dtype, T.StructType):
        return F.struct(
            *[
                sanitize_struct_keys(col.getField(f.name), f.dataType).alias(
                    f.name.replace(".", "_")
                )
                for f in dtype.fields
            ]
        )
    if isinstance(dtype, T.ArrayType) and isinstance(dtype.elementType, T.StructType):
        elem = dtype.elementType
        return F.transform(col, lambda x: sanitize_struct_keys(x, elem))
    if isinstance(dtype, T.MapType):
        return F.transform_keys(col, lambda k, _v: F.replace(k, F.lit("."), F.lit("_")))
    return col


def app_from_json(raw: Column | str, default_app: str = DEFAULT_APP) -> Column:
    """P10 — top-level ``"app"`` string key, else the default app
    (reference ``get_app_in_json``, ``src/util.rs:166-172``)."""
    raw = F.col(raw) if isinstance(raw, str) else raw
    return F.coalesce(F.get_json_object(raw, "$.app"), F.lit(default_app))


def app_from_map(parsed_map: Column, default_app: str = DEFAULT_APP) -> Column:
    """P10 over the already-parsed map — same semantics as
    :func:`app_from_json` for top-level string values, but reuses the
    single ``from_json`` pass instead of re-parsing the raw payload
    (``get_json_object`` is a full JSON parse per call; the ETL chain
    was parsing every payload three times).

    Duplicate-key semantics (pinned by
    ``tests/test_operators.py::test_duplicate_json_keys_first_wins``):
    for a pathological payload with the same top-level key twice, BOTH
    ``get_json_object`` and lookups on the raw ``from_json`` map return
    the FIRST occurrence on this Spark version — the reference's
    serde_json keeps the LAST. The ETL chain therefore passes the
    SANITIZED doc map here (rebuilt under LAST_WIN, so duplicates are
    already collapsed to the last occurrence = serde parity); callers
    holding only the raw parsed map inherit first-wins and the pin
    exists so a Jackson/Spark change cannot drift silently."""
    return F.coalesce(F.element_at(parsed_map, "app"), F.lit(default_app))


def field_count(parsed_map: Column) -> Column:
    """P12 — number of top-level keys (reference ``get_key_len``,
    ``src/util.rs:150-156``). Feeds the per-(index, app) gauge.

    DISTINCT keys: serde_json dedupes duplicate keys at parse (last
    insertion replaces), but Spark's ``from_json`` map physically
    retains every occurrence — ``size(map_keys(...))`` would overcount
    a duplicate-key payload relative to the reference (round-9 pin in
    tests/test_operators.py)."""
    return F.size(F.array_distinct(F.map_keys(parsed_map)))
