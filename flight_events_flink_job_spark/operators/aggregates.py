"""A1-A3: the reference's three tumbling-window aggregations, each
written once as an add + finalize pair.

Reference shape: ``keyBy(k) → TumblingProcessingTimeWindows(n min) →
AggregateFunction`` with hand-written partial/final aggregation
(add/merge, FlightEventAggregator.java:219-308). This module owns the
same split:

- add — ``partial_X_stats``: one groupBy(window, key) producing the
  accumulator sums (``total_flights``, ``delayed_flights`` where the
  aggregate has it, ``sum_delay``). Catalyst plans it as
  HashAggregate(partial) → Exchange → HashAggregate(final), so the
  shuffle carries one row per (key, window) per input partition;
- merge — ``merge_X_stats``: the same sums re-added by (key, window)
  over partials written by many micro-batches (FEA:247 ``merge``);
- finalize — one projection from the sums to the sink columns
  (``schemas.*_COLUMNS``): ``avg_delay_minutes = sum_delay /
  total_flights`` and A1's ``delay_rate`` (FEA:228-229), A2's
  ``route`` key (FEA:114).

Every consumer is built from these: batch ``X_stats`` is
finalize(add) — still one aggregate — the streaming fan-out writes the
adds, the serving read is finalize(merge), and the streaming A1
queries in streaming/job.py are finalize(add) over a stream.

Deliberate semantic upgrade (SURVEY.md §2.4, quirk Q3): windows are
EVENT-time over ``scheduled_time`` (deterministic, replayable,
oracle-testable) rather than processing-time, and window_start/end are
the real window bounds, not wall-clock stamps fabricated at sink time
(FlightEventAggregator.java:103-104). Window sizes stay parameters —
the reference's 2/3/5 min defaults are commented "for testing"
(FlightEventAggregator.java:89,112,135).

Exactness: every valid flight has a non-null ``delay_minutes`` (the
parse requires both timestamps), and ``sum_delay`` is a sum of
integral doubles, so ``sum_delay / total_flights`` is exactly
``avg(delay_minutes)`` in any partial/merge order — the incremental
running mean in the reference (FlightEventAggregator.java:228,243) is
algebraically the same. Doubles are rounded to 4 dp at the output
edge.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from ..functions.flight import hour_of_day, route_key
from ..schemas import (
    AIRLINE_STATS_COLUMNS,
    HOURLY_STATS_COLUMNS,
    ROUTE_STATS_COLUMNS,
)

ROUND_DP = 4


def _sum_names(columns: list[str]) -> list[str]:
    """The accumulator columns behind a sink schema: A2 keeps no
    delayed count (FEA:256-258)."""
    delayed = ["delayed_flights"] if "delayed_flights" in columns else []
    return ["total_flights", *delayed, "sum_delay"]


def _add(
    flights: DataFrame, window_size: str, columns: list[str], *keys: str | Column
) -> DataFrame:
    """Add (FEA:224-247): the accumulator sums per (window, key)."""
    adds = {
        "total_flights": F.count("*"),
        "delayed_flights": F.sum(F.when(F.col("is_delayed") == 1, 1).otherwise(0)),
        "sum_delay": F.sum(F.col("delay_minutes").cast("double")),
    }
    return (
        flights.groupBy(F.window("scheduled_time", window_size).alias("w"), *keys)
        .agg(*[adds[c].alias(c) for c in _sum_names(columns)])
        .withColumns({"window_start": F.col("w.start"), "window_end": F.col("w.end")})
        .drop("w")
    )


def _merge(partials: DataFrame, columns: list[str], *keys: str) -> DataFrame:
    """Merge (FEA:247): re-add partial sums by (key, window), finalize."""
    return _finalize(
        partials.groupBy(*keys, "window_start", "window_end").agg(
            *[F.sum(c).alias(c) for c in _sum_names(columns)]
        ),
        columns,
    )


def _finalize(sums: DataFrame, columns: list[str]) -> DataFrame:
    """Project accumulator sums onto a sink schema — the column list
    drives the projection, so the output is exactly ``columns``."""
    derived = {
        "avg_delay_minutes": F.round(F.col("sum_delay") / F.col("total_flights"), ROUND_DP),
        # FEA:229, quirk Q5: the total>0 guard is vacuous, a group has ≥1 row.
        "delay_rate": F.round(
            F.col("delayed_flights") * 100.0 / F.col("total_flights"), ROUND_DP
        ),
        "route": route_key(F.col("origin"), F.col("destination")),
    }
    return sums.select(*[derived[c].alias(c) if c in derived else c for c in columns])


def partial_airline_stats(flights: DataFrame, window_size: str = "2 minutes") -> DataFrame:
    return _add(flights, window_size, AIRLINE_STATS_COLUMNS, "airline")


def merge_airline_stats(partials: DataFrame) -> DataFrame:
    return _merge(partials, AIRLINE_STATS_COLUMNS, "airline")


def airline_stats(flights: DataFrame, window_size: str = "2 minutes") -> DataFrame:
    """Per-airline delay stats per tumbling window (A1).

    Columns per the ClickHouse sink DDL readme.txt:41-49 / INSERT
    FlightEventAggregator.java:95. delay_rate = delayed/total*100
    (FlightEventAggregator.java:229).
    """
    return _finalize(partial_airline_stats(flights, window_size), AIRLINE_STATS_COLUMNS)


def partial_route_stats(flights: DataFrame, window_size: str = "3 minutes") -> DataFrame:
    return _add(flights, window_size, ROUTE_STATS_COLUMNS, "origin", "destination")


def merge_route_stats(partials: DataFrame) -> DataFrame:
    return _merge(partials, ROUTE_STATS_COLUMNS, "origin", "destination")


def route_stats(flights: DataFrame, window_size: str = "3 minutes") -> DataFrame:
    """Per-route delay stats per tumbling window (A2).

    The reference keys by the concatenated route string and carries
    origin/destination in the accumulator
    (FlightEventAggregator.java:114,256-258); grouping by the two
    columns is exactly equivalent and avoids first()-style carries.
    Columns per readme.txt:51-59 / FlightEventAggregator.java:118.
    """
    return _finalize(partial_route_stats(flights, window_size), ROUTE_STATS_COLUMNS)


def partial_hourly_stats(flights: DataFrame, window_size: str = "5 minutes") -> DataFrame:
    return _add(
        flights,
        window_size,
        HOURLY_STATS_COLUMNS,
        hour_of_day(F.col("scheduled_time")).alias("hour_of_day"),
    )


def merge_hourly_stats(partials: DataFrame) -> DataFrame:
    return _merge(partials, HOURLY_STATS_COLUMNS, "hour_of_day")


def hourly_stats(flights: DataFrame, window_size: str = "5 minutes") -> DataFrame:
    """Delay trends keyed by hour-of-day per tumbling window (A3).

    Mixed-domain grouping preserved from the reference: the key is an
    event-time attribute hour(scheduled_time) 0-23
    (FlightEventAggregator.java:137,287) while the window buckets the
    stream. Columns per readme.txt:63-70 / FlightEventAggregator.java:141.
    """
    return _finalize(partial_hourly_stats(flights, window_size), HOURLY_STATS_COLUMNS)
