"""Chained streaming aggregation: two stateful event-time window
aggregates in ONE streaming query (5-minute pre-aggregate re-rolled to
hourly), Spark's multiple-stateful-operators capability (3.4+).

The reference runs exactly one aggregation per branch
(FlightEventAggregator.java:89-155); Flink expresses a cascade as two
chained keyed windows. Structured Streaming runs the same cascade as
one logical plan: ``window(ts) -> agg -> window(window_time(w)) ->
agg`` with both operators holding state, emitting in append mode as
the watermark finalizes each tier. The batch twin of this exact shape
is operators/relational.py ``events_multigrain_rollup``.

Determinism contract (differs from the complete-mode drains): chained
stateful operators REQUIRE append mode, and append emits only
watermark-finalized windows. Losslessness is engineered instead of
waived:

- the staged files are CONTIGUOUS TIME RANGES written sequentially
  (increasing modification time), so the file source's
  modification-time ordering replays the stream in event-time order
  and a 0-delay watermark can never classify a row late;
- a single SENTINEL row 2 hours past the corpus maximum is staged
  last, pushing the final watermark beyond every real hour window so
  append flushes them all (the sentinel's own windows never finalize
  and are never emitted).

Value portability: the 5-minute tier keeps its value sum as a ROUNDED
DECIMAL (never double), the hourly tier sums those decimals exactly —
state-merge order cannot move any digit (the dec_sum rationale).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .roundtrip import EVENT_STREAM_SCHEMA as CHAINED_SCHEMA
from .roundtrip import drain, stage_time_ranges, staged_stream

SENTINEL_TYPE = "~watermark-sentinel~"


def chained_hourly_rollup(stream: DataFrame) -> DataFrame:
    """5-minute windowed aggregate re-aggregated to hourly, per event
    type — both tiers stateful in streaming, the identical plan in
    batch. Columns: (window_start, event_type, n_events, n_windows,
    max_5m_events, sum_value)."""
    s1 = (
        stream.withWatermark("ts", "0 seconds")
        .groupBy(F.window("ts", "5 minutes").alias("w5"), "event_type")
        .agg(
            F.count("*").alias("n5"),
            F.round(F.sum(F.col("value").cast("decimal(27,10)")), 4).alias(
                "s5"
            ),
        )
    )
    s2 = s1.groupBy(
        F.window(F.window_time("w5"), "1 hour").alias("wh"), "event_type"
    ).agg(
        F.sum("n5").alias("n_events"),
        F.count("*").alias("n_windows"),
        F.max("n5").alias("max_5m_events"),
        F.round(F.sum("s5"), 4).cast("double").alias("sum_value"),
    )
    return s2.select(
        F.col("wh.start").alias("window_start"),
        "event_type",
        "n_events",
        "n_windows",
        "max_5m_events",
        "sum_value",
    )


def stage_time_ordered(
    spark: SparkSession, events: DataFrame, staging_dir: str, parts: int = 4
) -> None:
    """Write ``events`` as ``parts`` contiguous-time-range parquet
    files in ascending event-time order, then the watermark sentinel
    (2 hours past the corpus maximum) as the final file."""
    stage_time_ranges(
        spark,
        events,
        staging_dir,
        ("user_id", "ts", "event_type", "value"),
        parts,
        lambda hi: [(-1, hi + dt.timedelta(hours=2), SENTINEL_TYPE, 0.0)],
    )


def drain_chained_from_staged(
    spark: SparkSession,
    staging_dir: str,
    checkpoint_dir: str,
    files_per_trigger: int = 1,
) -> DataFrame:
    """Drain the time-ordered staging through the chained rollup one
    file per micro-batch (strict event-time replay) and return every
    append-mode emission. The sentinel's windows never finalize, so
    only real rows appear; the filter is belt-and-braces."""
    stream = staged_stream(spark, CHAINED_SCHEMA, staging_dir, files_per_trigger)
    return drain(chained_hourly_rollup(stream), checkpoint_dir, "append").filter(
        F.col("event_type") != SENTINEL_TYPE
    )
