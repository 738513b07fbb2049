"""Broadcast lookup enrichment (SURVEY §2.3 J1/J2).

The reference enriches per-log via a Redis point-lookup of the template
dimension (internal/storage/redis/client.go:92-109) and via the
``compressed_logs LEFT JOIN templates`` feeding the error-rate MV
(scripts/migrations/001_clickhouse_schema.sql:61). Both are the same
relational shape: a fact ⟕ small-dim equi-join — exactly what a broadcast
hash join is. The dimension tables here are bounded (templates ≤ ~1000 per
config.example.yaml:52; role×tool ≤ 20 rows), so the broadcast is explicit:
the 100 TB fact side never shuffles for enrichment.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from ..schemas import ROLE_TOOL_LOOKUP
from ..synth import ROLES, TOOLS

_SINK_HINTS = {
    "user": "interactive",
    "assistant": "interactive",
    "system": "control",
    "tool": "tooling",
}


def role_tool_lookup(spark: SparkSession) -> DataFrame:
    """The fixed (role, tool) enrichment dimension (FIXTURES.md §2): fully
    enumerated in code, ~20 rows."""
    rows = []
    for role in ROLES:
        for tool in TOOLS + ["none"]:
            hint = _SINK_HINTS[role] if (role == "tool") == (tool != "none") else "mismatch"
            weight = round(1.0 + 0.25 * TOOLS.index(tool), 2) if tool in TOOLS else 0.5
            rows.append((role, tool, hint, weight))
    return spark.createDataFrame(rows, ROLE_TOOL_LOOKUP)


def enrich_with_lookup(parsed: DataFrame, lookup: DataFrame) -> DataFrame:
    """Fact ⟕ broadcast(dim) on (role, tool). ``parsed`` uses the
    parsed_turns schema where role is stored as ``source``."""
    dim = F.broadcast(lookup.withColumnRenamed("role", "source"))
    return parsed.join(dim, on=["source", "tool"], how="left")
