"""Stream-stream LEFT OUTER interval join — unmatched-row emission on
watermark advance.

streaming/joins.py covers the inner interval join, where every emitted
row is a found match and an over-wide watermark gives a lossless
drain. LEFT OUTER is semantically harder in a stream: a signup with no
purchase can only be emitted null-padded once the watermark PROVES no
purchase can still arrive (watermark > signup_ts + upper). Flink's
interval join has the same rule (cleanup timers); the reference itself
never joins streams at all (one source, five branches —
FlightEventAggregator.java:37-178).

Losslessness is therefore engineered the chained.py way, not waived
the joins.py way:

- staged files are contiguous time ranges written in ascending order,
  so 0-delay watermarks never classify a row late;
- one sentinel row PER SIDE (user_id = -1) is staged last at
  max_ts + upper + 1h, pushing both sides' watermarks past every
  real signup's match deadline so append flushes every null-padded
  row; the sentinels' own (self-matching) pair is filtered out.

State scale: identical to the inner join — hash-partitioned on
user_id, rows evicted as the watermark passes their match deadline,
steady-state size = rate x interval regardless of stream length.
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .roundtrip import KEYED_EVENT_SCHEMA, drain, stage_time_ranges, staged_stream

SENTINEL_USER = -1


def signup_purchase_left_join(
    signups: DataFrame,
    purchases: DataFrame,
    upper: str = "6 HOURS",
    watermark: str = "0 seconds",
) -> DataFrame:
    """LEFT OUTER interval join: every signup, with its same-user
    purchases within ``upper`` after it — or one null-padded row if
    none. Same expression batch or streaming."""
    l = signups.select(
        "user_id",
        F.col("event_id").alias("signup_event"),
        F.col("ts").alias("signup_ts"),
    ).withWatermark("signup_ts", watermark).alias("l")
    r = purchases.select(
        F.col("user_id").alias("r_user_id"),
        F.col("event_id").alias("purchase_event"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    ).withWatermark("purchase_ts", watermark).alias("r")
    cond = F.expr(
        "l.user_id = r.r_user_id AND r.purchase_ts >= l.signup_ts "
        f"AND r.purchase_ts <= l.signup_ts + INTERVAL {upper}"
    )
    return l.join(r, cond, "left_outer").select(
        "user_id",
        "signup_event",
        "signup_ts",
        "purchase_event",
        "purchase_ts",
        "purchase_value",
    )


def stage_join_input(
    spark: SparkSession, events: DataFrame, staging_dir: str, parts: int = 4
) -> None:
    """Contiguous-time-range staging (ascending commits) + one sentinel
    per join side at max_ts + 7 hours (past the 6-hour match deadline
    of every real signup)."""
    stage_time_ranges(
        spark,
        events,
        staging_dir,
        ("event_id", "user_id", "ts", "event_type", "value"),
        parts,
        lambda hi: [
            (-10, SENTINEL_USER, hi + dt.timedelta(hours=7), "signup", 0.0),
            (-11, SENTINEL_USER, hi + dt.timedelta(hours=7), "purchase", 0.0),
        ],
    )


def drain_left_join_from_staged(
    spark: SparkSession,
    staging_dir: str,
    checkpoint_dir: str,
    files_per_trigger: int = 1,
) -> DataFrame:
    """Drain the staged stream through the left outer interval join in
    strict event-time order; return every emission minus the sentinel
    pair."""

    def side(event_type: str) -> DataFrame:
        return staged_stream(
            spark, KEYED_EVENT_SCHEMA, staging_dir, files_per_trigger
        ).where(F.col("event_type") == event_type)

    return drain(
        signup_purchase_left_join(side("signup"), side("purchase")),
        checkpoint_dir,
        "append",
    ).filter(F.col("user_id") != SENTINEL_USER)
