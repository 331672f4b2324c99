"""Stream-stream interval join — the Flink interval-join analogue.

The reference job never joins two streams (its five branches are all
map/filter/window over ONE source, FlightEventAggregator.java:37-178),
but interval joins are the canonical next Flink feature a user of that
stack reaches for; Spark expresses them natively: watermark BOTH
streams, join on an equi-key plus an event-time range predicate
(Structured Streaming's stream-stream join).

Semantics here: "conversion" pairs — a signup event joined to every
purchase by the same user within ``upper`` after the signup.

Scale notes (100 TB): the join state is hash-partitioned on the
equi-key (one exchange per side, same as a batch shuffle join); the
time-range predicate plus both watermarks bound HOW LONG each row is
retained — state for rows older than (watermark - range) is evicted,
so steady-state size is rate x window, independent of stream length.
An inner join with no watermark would work but retain state forever;
always watermark both sides in production.

Determinism contract for the driver check: the drain uses a watermark
delay wider than the fixture's full time span, so no state is evicted
mid-drain and the appended result is EXACTLY the batch range join
(oracle SQL). A production deployment sets a realistic delay; that
changes resource usage and late-data tolerance, not the join logic.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .roundtrip import KEYED_EVENT_SCHEMA, drain, staged_stream


def interval_join(
    left: DataFrame,
    right: DataFrame,
    key: str,
    left_ts: str,
    right_ts: str,
    upper: str,
    watermark: str,
) -> DataFrame:
    """Inner interval join of two (streaming or batch) frames: rows
    pair when keys match and ``left_ts <= right_ts <= left_ts + upper``.
    ``key`` is the shared equi-join column name present on both sides;
    the two event-time columns must be distinctly named (rename before
    calling) so the output is unambiguous."""
    l = left.withWatermark(left_ts, watermark).alias("l")
    r = right.withWatermark(right_ts, watermark).alias("r")
    cond = F.expr(
        f"l.{key} = r.{key} AND r.{right_ts} >= l.{left_ts} "
        f"AND r.{right_ts} <= l.{left_ts} + INTERVAL {upper}"
    )
    return l.join(r, cond).drop(F.col(f"r.{key}"))


def signup_purchase_conversions(
    signups: DataFrame, purchases: DataFrame, upper: str = "6 HOURS",
    watermark: str = "60 DAYS",
) -> DataFrame:
    """Conversion pairs: each signup joined to the same user's purchases
    within ``upper`` afterwards. Works identically on batch or
    streaming inputs — the batch/stream parity contract."""
    l = signups.select(
        "user_id",
        F.col("event_id").alias("signup_event"),
        F.col("ts").alias("signup_ts"),
    )
    r = purchases.select(
        "user_id",
        F.col("event_id").alias("purchase_event"),
        F.col("ts").alias("purchase_ts"),
        F.col("value").alias("purchase_value"),
    )
    return interval_join(
        l, r, "user_id", "signup_ts", "purchase_ts", upper, watermark
    ).select(
        "user_id",
        "signup_event",
        "purchase_event",
        "signup_ts",
        "purchase_ts",
        "purchase_value",
    )


def drain_conversions_from_staged(
    spark: SparkSession,
    staging_dir: str,
    checkpoint_dir: str,
    files_per_trigger: int = 2,
) -> DataFrame:
    """Run the conversion interval join as a real stream-stream join
    over rate-limited micro-batches of the staged events, drained with
    availableNow (append mode — inner-join matches are final the moment
    they are found)."""
    def side(event_type: str) -> DataFrame:
        return staged_stream(
            spark, KEYED_EVENT_SCHEMA, staging_dir, files_per_trigger
        ).where(F.col("event_type") == event_type)

    return drain(
        signup_purchase_conversions(side("signup"), side("purchase")),
        checkpoint_dir,
        "append",
    )
