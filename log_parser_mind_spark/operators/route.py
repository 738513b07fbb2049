"""Rule-based fan-out routing (SURVEY §2.1 S10 / §2.4 A3 semantics).

The reference routes twice: the gateway's path-based route table
(cmd/gateway/main.go:68-107) and the anomaly service's type-based alert
routing (cmd/anomaly/main.go:139-147,195-210); the error-rate MV classifies
rows by ``pattern LIKE '%ERROR%' / '%WARN%'``
(scripts/migrations/001_clickhouse_schema.sql:57-58).

The rebuild expresses routing as a single derived ``route`` column + per-sink
filters over one cached upstream plan — one scan, N sink writes — instead of
N network fan-outs. Filters are plain Catalyst predicates, so each sink's
write prunes columns/rows at the scan.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, functions as F


def severity_class_expr(template: Column) -> Column:
    """ERROR → error, WARN → warn, else info — the MV's countIf predicates
    (001_clickhouse_schema.sql:57-58), made disjoint with ERROR precedence."""
    return (
        F.when(template.like("%ERROR%"), F.lit("error"))
        .when(template.like("%WARN%"), F.lit("warn"))
        .otherwise(F.lit("info"))
    )


@dataclass(frozen=True)
class Route:
    """One fan-out rule: name + SQL predicate over the parsed schema."""

    name: str
    predicate: str


DEFAULT_ROUTES: list[Route] = [
    Route("errors", "severity_class = 'error'"),
    Route("warnings", "severity_class = 'warn'"),
    Route("info", "severity_class = 'info'"),
]


def with_route(parsed: DataFrame) -> DataFrame:
    return parsed.withColumn("severity_class", severity_class_expr(F.col("template")))
