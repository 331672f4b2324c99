"""Streaming sessionization: native ``session_window`` over a real
micro-batched stream.

The batch twin is operators/relational.py ``user_sessions`` (same
expression — Structured Streaming's unified API runs the identical
logical plan incrementally, with per-key session state merged in the
state store as events arrive). The reference has no session windows at
all (tumbling only, FlightEventAggregator.java:92,115,138 — SURVEY.md
§2.4 "window kinds" names ``session_window`` as the free Spark
extension); Flink's equivalent is ``EventTimeSessionWindows``.

Determinism contract (same spirit as streaming/joins.py): the drain
runs in COMPLETE output mode with no watermark, so no event can ever
be late-dropped regardless of which micro-batch a file lands in —
session state merges across batches and the final emitted table equals
the batch sessionization exactly (driver-checked against the same SQL
oracle as ``user_sessions``).

At production scale you would run append mode + watermark instead
(bounded state, sessions emitted once closed); complete mode is the
lossless-drain harness for oracle comparison, not the deployment
topology.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .roundtrip import EVENT_STREAM_SCHEMA, drain, staged_stream


def sessionize_stream(stream: DataFrame, gap: str = "30 minutes") -> DataFrame:
    """The streaming session aggregate — same contract as the batch
    ``user_sessions`` (count / distinct types / value sum per user
    session, ``session_end = last_ts + gap``)."""
    return (
        stream.groupBy(F.session_window("ts", gap).alias("w"), "user_id")
        .agg(
            F.count("*").alias("n_events"),
            # COUNT(DISTINCT) is unsupported in streaming aggregations;
            # size(collect_set(...)) is the exact, mergeable equivalent
            # (event_type cardinality is bounded at 5).
            F.size(F.collect_set("event_type")).cast("bigint").alias(
                "n_event_types"
            ),
            # DECIMAL accumulation: state-store merge order must not be
            # able to flip a .xxxx5 rounding boundary vs the batch twin
            # (operators/relational.py dec_sum rationale).
            F.round(F.sum(F.col("value").cast("decimal(27,10)")), 4)
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            "user_id",
            F.col("w.start").alias("session_start"),
            F.col("w.end").alias("session_end"),
            "n_events",
            "n_event_types",
            "sum_value",
        )
    )


def drain_sessions_from_staged(
    spark: SparkSession,
    staging_dir: str,
    checkpoint_dir: str,
    gap: str = "30 minutes",
    files_per_trigger: int = 2,
) -> DataFrame:
    """Drain staged parquet parts through the streaming sessionizer in
    rate-limited micro-batches (availableNow) and return the final
    session table (complete mode: the last snapshot)."""
    stream = staged_stream(
        spark, EVENT_STREAM_SCHEMA, staging_dir, files_per_trigger
    )
    return drain(sessionize_stream(stream, gap), checkpoint_dir, "complete")
