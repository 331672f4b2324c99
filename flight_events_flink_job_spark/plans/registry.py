"""Query registry: the driver contract surface.

Each entry pairs a Spark implementation ``(spark, sf_dir) -> DataFrame``
with (where SQL-expressible) a DuckDB oracle over the same parquet
tables. Column names/aliases MUST match between the two — the driver
sorts columns by name before value-hashing.

Conventions for oracle comparability:
- doubles rounded to 4 dp on BOTH sides (FP association order);
- window bucket arithmetic is pure epoch math (no session-TZ
  dependence); Spark session TZ pinned to UTC by ensure_engine_conf.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ..operators.aggregates import airline_stats, hourly_stats, route_stats
from ..operators.notifications import delay_notifications
from ..operators.parse import parse_flight_events, rejected_rows
from ..session import ensure_engine_conf
from ..sources.fixtures import load_table
from ..sources.flight_adapter import (
    CORRUPT_EVERY,
    FLIGHTS_CTE,
    flight_event_json_with_corrupt,
    shared_flights,
)

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}


def register(name: str, oracle: str | None = None):
    def deco(fn: QueryFn) -> QueryFn:
        def wrapped(spark: SparkSession, sf_dir: str) -> DataFrame:
            ensure_engine_conf(spark)
            return fn(spark, sf_dir)

        wrapped.__name__ = name
        wrapped.__doc__ = fn.__doc__  # surfaced by tools/gen_coverage.py
        QUERIES[name] = wrapped
        if oracle is not None:
            ORACLES[name] = oracle
        return wrapped

    return deco


def _bucket_sql(col: str, seconds: int) -> str:
    """DuckDB tumbling-window start, epoch-aligned like Spark window()."""
    return (
        f"TIMESTAMP '1970-01-01' + to_seconds("
        f"CAST(floor(epoch({col}) / {seconds}) * {seconds} AS BIGINT))"
    )


# ---------------------------------------------------------------------------
# Flight-event parity queries (reference surface, SURVEY.md §2)
# ---------------------------------------------------------------------------

@register(
    "flights_raw",
    oracle=f"""
    WITH {FLIGHTS_CTE}
    SELECT flight_id, flight_number, airline, origin, destination,
           scheduled_time, actual_time, is_delayed, user_id, delay_minutes
    FROM flights
    """,
)
def q_flights_raw(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1-P4 + S3 raw archive: the full parse/enrich pipeline output
    (sink schema readme.txt:18+73-74, INSERT FlightEventAggregator.java:160).
    Read through ``shared_flights``: the cache manager serves any plan
    equal to the cached table from it, so once another flight query ran,
    a direct ``flights_from_events`` read that cache anyway."""
    return shared_flights(spark, sf_dir)


@register(
    "delay_notifications",
    oracle=f"""
    WITH {FLIGHTS_CTE}
    SELECT flight_id,
           printf('{{"flightId":"%s","userId":"%s","flightNumber":"%s","airline":"%s","route":"%s-%s","delayMinutes":%d,"message":"Your flight %s is delayed by %d minutes"}}',
                  flight_id, user_id, flight_number, airline,
                  origin, destination, delay_minutes,
                  flight_number, delay_minutes) AS notification
    FROM flights
    WHERE is_delayed = 1
    """,
)
def q_delay_notifications(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5-P6: filter delayed → exact-shape notification JSON
    (FlightEventAggregator.java:76-85, KafkaUtils.java:40-45)."""
    return delay_notifications(shared_flights(spark, sf_dir))


@register(
    "airline_delay_stats",
    oracle=f"""
    WITH {FLIGHTS_CTE}
    SELECT airline,
           count(*) AS total_flights,
           -- CAST: DuckDB sum(int) is HUGEINT; Spark's is BIGINT and the
           -- driver's value-hash is type-sensitive (round-1 red).
           CAST(sum(CASE WHEN is_delayed = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS delayed_flights,
           round(avg(delay_minutes), 4) AS avg_delay_minutes,
           round(sum(CASE WHEN is_delayed = 1 THEN 1 ELSE 0 END) * 100.0
                 / count(*), 4) AS delay_rate,
           {_bucket_sql('scheduled_time', 120)} AS window_start,
           {_bucket_sql('scheduled_time', 120)} + INTERVAL 2 MINUTE AS window_end
    FROM flights
    GROUP BY airline, window_start
    """,
)
def q_airline_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: airline delay stats, 2-minute tumbling event-time windows
    (FlightEventAggregator.java:89-110, 219-248)."""
    return airline_stats(shared_flights(spark, sf_dir))


@register(
    "route_delay_stats",
    oracle=f"""
    WITH {FLIGHTS_CTE}
    SELECT origin || '-' || destination AS route,
           origin, destination,
           count(*) AS total_flights,
           round(avg(delay_minutes), 4) AS avg_delay_minutes,
           {_bucket_sql('scheduled_time', 180)} AS window_start,
           {_bucket_sql('scheduled_time', 180)} + INTERVAL 3 MINUTE AS window_end
    FROM flights
    GROUP BY origin, destination, window_start
    """,
)
def q_route_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: route delay stats, 3-minute tumbling event-time windows
    (FlightEventAggregator.java:112-133, 250-279)."""
    return route_stats(shared_flights(spark, sf_dir))


@register(
    "hourly_delay_stats",
    oracle=f"""
    WITH {FLIGHTS_CTE}
    SELECT CAST(extract(hour FROM scheduled_time) AS INTEGER) AS hour_of_day,
           count(*) AS total_flights,
           CAST(sum(CASE WHEN is_delayed = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS delayed_flights,
           round(avg(delay_minutes), 4) AS avg_delay_minutes,
           {_bucket_sql('scheduled_time', 300)} AS window_start,
           {_bucket_sql('scheduled_time', 300)} + INTERVAL 5 MINUTE AS window_end
    FROM flights
    GROUP BY hour_of_day, window_start
    """,
)
def q_hourly_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: hour-of-day delay trends, 5-minute tumbling windows
    (FlightEventAggregator.java:135-155, 281-308)."""
    return hourly_stats(shared_flights(spark, sf_dir))


@register(
    "rejected_rows",
    oracle=f"""
    SELECT '{{"flightId":"F' || CAST(event_id AS VARCHAR) || '","broken'
               AS raw
    FROM events
    WHERE event_id % {CORRUPT_EVERY} = 0
    """,
)
def q_rejected_rows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 semantic upgrade: dead-letter stream of unparseable payloads.

    The reference crashes on malformed input (unguarded ``node.get``,
    FlightEventAggregator.java:43-49,59); this engine parses PERMISSIVE
    and surfaces rejects as a queryable stream. Input injects truncated
    JSON for every ``event_id % {CORRUPT_EVERY} == 0``.
    """
    raw = flight_event_json_with_corrupt(load_table(spark, sf_dir, "events"))
    return rejected_rows(parse_flight_events(raw))
