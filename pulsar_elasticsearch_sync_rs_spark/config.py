"""Pipeline configuration mirroring the reference's flag surface.

The reference configures one fixed dataflow entirely via CLI flags /
env vars (reference ``src/args.rs:58-164``). Here the same knobs are a
frozen dataclass consumed by :mod:`plans.pipeline`; env-var overrides
(``PULSAR_ADDRESS`` / ``ELASTICSEARCH_ADDRESS`` / ``PULSAR_NAMESPACE``,
reference ``src/util.rs:132-138``) are honored by :func:`from_env`.
"""

from __future__ import annotations

import json
import os
from dataclasses import dataclass, field


@dataclass(frozen=True)
class RewriteRule:
    """One ordered index-rewrite rule (reference ``src/args.rs:21-37``).

    ``pattern`` is anchored with ``^`` when compiled; first matching rule
    wins; a literal ``".*"`` in the target is stripped (reference
    ``src/es.rs:203-220``).
    """

    pattern: str
    target: str


@dataclass(frozen=True)
class PipelineConfig:
    # --- source (reference src/args.rs:58-103) ---
    pulsar_addr: str = "pulsar://localhost:6650"
    pulsar_namespace: str = "public/default"
    topic_regex: str = ".*"
    subscription: str = "pulsar-es-sync"
    batch_size: int = 1000  # consumer permits -> maxFilesPerTrigger analog
    # JWT token auth, honored from the PULSAR_TOKEN env var like the
    # reference (src/pulsar.rs:77-84: with_auth(Authentication{name:
    # "token", data: token})); None -> no auth.
    pulsar_token: str | None = None

    # --- filters (src/args.rs:125-131) ---
    global_filters: tuple[str, ...] = ()  # OR-of-patterns exclusion (F2)
    namespace_filters: dict[str, tuple[str, ...]] = field(
        default_factory=dict
    )  # topic -> patterns (F3)

    # --- transforms ---
    time_key: str | None = None  # P3 @timestamp source field (src/args.rs:109-115)
    inject_key: bool = False  # P7 UUID lineage column (src/args.rs:141-155)
    rewrite_rules: tuple[RewriteRule, ...] = ()  # P8 (src/args.rs:133-135)
    debug_log_patterns: tuple[str, ...] = ()  # P11 (src/util.rs:140-148)
    debug_topics: tuple[str, ...] = ()  # K2 echo topics (src/args.rs:97-99)

    # --- rate limit (R1, src/args.rs:137-139) ---
    rate_limits: dict[str, int] = field(default_factory=dict)  # app -> N per second

    # --- sink / batching (src/args.rs:105-123) ---
    es_addr: str = "http://localhost:9200"
    buffer_size: int = 1000  # docs per flush -> micro-batch admission
    flush_interval_ms: int = 5000  # -> trigger(processingTime)

    # --- rendering ---
    # The reference buckets the dated index by the HOST-LOCAL date
    # (src/util.rs:45-46). Default None = UTC (deterministic, the
    # documented strict upgrade); set an IANA tz name to reproduce the
    # reference's local-date behavior.
    render_tz: str | None = None

    # --- constants shared with the reference ---
    default_app: str = "__DEFAULT_APP__"  # src/es.rs:350-351
    injected_field: str = "__INJECTED_DATA__"  # src/es.rs:346-348

    @property
    def global_filter_pattern(self) -> str | None:
        """RegexSet ≡ one alternation (reference ``src/util.rs:59-73``)."""
        if not self.global_filters:
            return None
        return "|".join(f"({p})" for p in self.global_filters)

    @property
    def namespace_filter_patterns(self) -> dict[str, str]:
        """Per-topic alternations (reference ``src/util.rs:75-101``)."""
        return {
            topic: "|".join(f"({p})" for p in pats)
            for topic, pats in self.namespace_filters.items()
            if pats
        }

    @property
    def debug_log_pattern(self) -> str | None:
        if not self.debug_log_patterns:
            return None
        return "|".join(f"({p})" for p in self.debug_log_patterns)


def from_env(**overrides) -> PipelineConfig:
    """Build a config honoring the reference's env overrides
    (reference ``src/main.rs:33-34,52`` -> ``src/util.rs:132-138``) and
    its JSON-valued flags (``--namespace-filters``, ``--index-rewrite-rules``,
    ``--rate-limits``; reference ``src/args.rs:6-55``)."""
    env = os.environ
    kwargs: dict = {}
    if "PULSAR_ADDRESS" in env:
        kwargs["pulsar_addr"] = env["PULSAR_ADDRESS"]
    if "ELASTICSEARCH_ADDRESS" in env:
        kwargs["es_addr"] = env["ELASTICSEARCH_ADDRESS"]
    if "PULSAR_NAMESPACE" in env:
        kwargs["pulsar_namespace"] = env["PULSAR_NAMESPACE"]
    if "PULSAR_TOKEN" in env:
        kwargs["pulsar_token"] = env["PULSAR_TOKEN"]
    for json_flag in ("namespace_filters", "rate_limits"):
        if isinstance(overrides.get(json_flag), str):
            overrides[json_flag] = json.loads(overrides[json_flag])
    if isinstance(overrides.get("rewrite_rules"), str):
        raw = json.loads(overrides["rewrite_rules"])
        overrides["rewrite_rules"] = tuple(
            RewriteRule(r["pattern"], r["target"]) for r in raw
        )
    if isinstance(overrides.get("namespace_filters"), dict):
        overrides["namespace_filters"] = {
            k: tuple(v) for k, v in overrides["namespace_filters"].items()
        }
    kwargs.update(overrides)
    return PipelineConfig(**kwargs)
