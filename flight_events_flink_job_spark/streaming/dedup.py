"""Streaming deduplication: at-least-once delivery -> exactly-once rows.

A Kafka source replayed after a restart (or an upstream producer with
retries) delivers duplicates; the reference job has no defense — every
redelivered flight event is re-counted (its restart model is
at-most-once via fresh consumer groups, KafkaUtils.java:17,23-24, so it
loses OR double-counts, never exactly-once). Spark's
``dropDuplicatesWithinWatermark`` is the engine-native fix: keyed
first-occurrence state with event-time TTL.

Scale notes (100 TB): dedup state is hash-partitioned on the key (one
exchange, same as any keyed op); the WATERMARK bounds retention — a key
is remembered only while a duplicate could still legally arrive
(delay window), so state is rate x window, not stream length. Plain
``dropDuplicates`` on a stream would be exact but retain every key
forever; never ship it unbounded.

Determinism contract for the driver check: the drain stages every
event TWICE (two file copies, forced into different micro-batches) and
uses a watermark wider than the fixture span, so the appended output is
exactly one row per distinct event_id — the batch ``DISTINCT``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

from .roundtrip import KEYED_EVENT_SCHEMA, drain, staged_stream


def dedup_stream(events: DataFrame, key: str, ts_col: str, watermark: str) -> DataFrame:
    """First occurrence per ``key`` within the watermark horizon over a
    streaming frame — duplicates arriving later (within the horizon)
    are dropped, state for older keys is evicted."""
    return events.withWatermark(ts_col, watermark).dropDuplicatesWithinWatermark(
        [key]
    )


def drain_deduped_from_staged(
    spark: SparkSession,
    staging_dir: str,
    checkpoint_dir: str,
    files_per_trigger: int = 2,
) -> DataFrame:
    """Stream the staged (duplicated) event files in rate-limited
    micro-batches through the dedup operator and drain them (append —
    a first occurrence is final when seen)."""
    stream = staged_stream(spark, KEYED_EVENT_SCHEMA, staging_dir, files_per_trigger)
    return drain(
        dedup_stream(stream, "event_id", "ts", watermark="60 DAYS"),
        checkpoint_dir,
        "append",
    )
