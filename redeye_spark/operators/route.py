"""Predicate fan-out routing (P11 lifted to sinks).

The reference routes each line to exactly one of {stdout, stderr+drop}
(src/bin/redeye.rs:56-65,82-89). Here routes are a config-driven,
mutually-exclusive, total partition of the rows; the dead-letter route
is the stderr analog and preserves (error_kind, message).

Each row is tagged with its sink name and plans.pipeline.run_pipeline
writes them once with partitionBy("sink") — ONE scan of the parsed
data, no per-sink re-scan jobs.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import Column, DataFrame, functions as F


@dataclass(frozen=True)
class Route:
    name: str
    condition: str  # SQL predicate over the enriched schema


DEAD_LETTER = "dead_letter"

# Default routes: mutually exclusive by construction (first match wins,
# like the reference's short-circuit error handling).
DEFAULT_ROUTES = [
    Route(DEAD_LETTER, "error_kind IS NOT NULL"),
    Route("sink_2xx", "status_class = '2xx'"),
    Route("sink_3xx", "status_class = '3xx'"),
    Route("sink_4xx5xx", "status_class IN ('4xx', '5xx')"),
    Route("sink_other", "TRUE"),  # ok rows with absent/unusual status
]


def sink_column(routes: list[Route] | None = None) -> Column:
    routes = routes or DEFAULT_ROUTES
    expr = None
    for r in routes:
        branch = F.when(F.expr(r.condition), F.lit(r.name))
        expr = branch if expr is None else expr.when(F.expr(r.condition), F.lit(r.name))
    return expr


def tag_routes(enriched: DataFrame, routes: list[Route] | None = None) -> DataFrame:
    """Add the `sink` column — first matching route wins."""
    return enriched.withColumn("sink", sink_column(routes))


def route_counts(tagged: DataFrame) -> DataFrame:
    """Rows per sink; with total routes, sum == input rows (FIXTURES §3.3)."""
    return tagged.groupBy("sink").agg(F.count(F.lit(1)).alias("n"))
