"""A1-A3 semantics on hand-built rows: window bucketing, counts,
conditional counts, means, delay_rate (FlightEventAggregator.java:219-308)."""

from __future__ import annotations

import datetime as dt

import pytest

from flight_events_flink_job_spark.operators.aggregates import (
    airline_stats,
    hourly_stats,
    route_stats,
)
from flight_events_flink_job_spark.schemas import FLIGHT_SCHEMA


def _flights(spark):
    t = dt.datetime(2024, 1, 1, 10, 0, 0)

    def row(i, airline, org, dst, minute, delayed, delay_min):
        return (
            f"F{i}",
            f"N{i}",
            airline,
            org,
            dst,
            t.replace(minute=minute),
            t.replace(minute=minute) + dt.timedelta(minutes=delay_min),
            delayed,
            f"U{i}",
            delay_min,
        )

    rows = [
        # window [10:00, 10:02): two AA flights, one delayed
        row(1, "AA", "NYC", "LAX", 0, 1, 30),
        row(2, "AA", "NYC", "LAX", 1, 0, 0),
        # window [10:02, 10:04): one AA flight delayed
        row(3, "AA", "BOS", "LAX", 2, 1, 10),
        # same window, different airline
        row(4, "UA", "NYC", "SFO", 3, 0, -5),
    ]
    return spark.createDataFrame(rows, FLIGHT_SCHEMA)


def test_airline_stats_windows_and_rates(spark):
    out = {
        (r.airline, r.window_start.minute): r
        for r in airline_stats(_flights(spark)).collect()
    }
    assert len(out) == 3
    w0 = out[("AA", 0)]
    assert w0.total_flights == 2
    assert w0.delayed_flights == 1
    assert w0.avg_delay_minutes == pytest.approx(15.0)
    assert w0.delay_rate == pytest.approx(50.0)
    assert (w0.window_end - w0.window_start).total_seconds() == 120
    w2 = out[("AA", 2)]
    assert w2.total_flights == 1 and w2.delay_rate == pytest.approx(100.0)
    ua = out[("UA", 2)]
    assert ua.avg_delay_minutes == pytest.approx(-5.0)
    assert ua.delay_rate == pytest.approx(0.0)


def test_route_stats_key_and_columns(spark):
    out = {(r.route, r.window_start.minute): r for r in route_stats(_flights(spark)).collect()}
    # 3-minute windows: minutes 0-2 in window 0, minute 3 in window 3
    assert out[("NYC-LAX", 0)].total_flights == 2
    assert out[("NYC-LAX", 0)].avg_delay_minutes == pytest.approx(15.0)
    assert out[("BOS-LAX", 0)].total_flights == 1
    assert out[("NYC-SFO", 3)].origin == "NYC"
    assert out[("NYC-SFO", 3)].destination == "SFO"


def test_hourly_stats_key_is_event_hour(spark):
    rows = hourly_stats(_flights(spark)).collect()
    assert all(r.hour_of_day == 10 for r in rows)
    # 5-minute windows: minutes 0-3 all in one bucket
    assert len(rows) == 1
    assert rows[0].total_flights == 4
    assert rows[0].delayed_flights == 2


def test_window_size_is_parameterized(spark):
    # sizes are config, not constants (comments FEA:89,112,135)
    out = airline_stats(_flights(spark), "1 hour").collect()
    assert {r.airline for r in out} == {"AA", "UA"}
    assert all((r.window_end - r.window_start).total_seconds() == 3600 for r in out)


@pytest.mark.parametrize("batch_fn", [airline_stats, route_stats, hourly_stats])
def test_batch_stats_is_one_aggregate(spark, batch_fn):
    """Batch stats are finalize(add): a projection over the partial
    aggregate, never a second groupBy."""
    plan = batch_fn(_flights(spark))._jdf.queryExecution().optimizedPlan().toString()
    assert plan.count("Aggregate [") == 1


def test_sketch_union_rollup_merges_registers(spark):
    """DataSketches HLL mergeability: the global estimate from the
    UNION of per-type sketches equals the estimate over raw ids (small
    cardinality -> HLL exact), and verdicts hold under repartitioning."""
    from pyspark.sql import functions as F

    from flight_events_flink_job_spark.operators.relational import (
        sketch_distinct_rollup,
    )

    events = spark.range(0, 3000).select(
        (F.col("id") % 200).alias("user_id"),
        F.when(F.col("id") % 3 == 0, "a").when(F.col("id") % 3 == 1, "b")
        .otherwise("c")
        .alias("event_type"),
    )
    for df in (events, events.repartition(17)):
        rows = {
            (r.grain, r.event_type): r for r in sketch_distinct_rollup(df).collect()
        }
        assert rows[("all", "(all)")].n_exact == 200
        assert all(r.within_bound for r in rows.values())
        assert len(rows) == 4
