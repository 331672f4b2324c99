"""Stream-static enrichment join: the streaming twin of
operators/relational.py ``user_event_enrichment``.

The reference job implies this join but never implements it (its
ClickHouse ``users`` table, readme.txt:16, is only joined at the
serving layer). In Structured Streaming a stream-static join needs no
watermark and keeps NO join state: each micro-batch is joined against
the static (broadcast) dimension exactly like a batch plan — the
dimension is re-resolvable per batch, the stream side never shuffles
for the join.

The drain aggregates per (segment, type) in complete mode (same
lossless-drain harness as streaming/sessions.py — no event can be
late-dropped, final snapshot written by foreachBatch parquet
overwrite), so the streamed result equals the batch enrichment exactly
and shares its SQL oracle.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .roundtrip import EVENT_STREAM_SCHEMA, drain, staged_stream


def enrich_stream(stream: DataFrame, customer: DataFrame) -> DataFrame:
    """Broadcast the customer dimension onto the event stream and
    aggregate per (market segment, event type) — identical contract to
    the batch user_event_enrichment (count_distinct replaced by its
    streaming-legal collect_set equivalent)."""
    dim = customer.select(
        F.col("c_custkey").alias("user_id"), "c_mktsegment", "c_nationkey"
    )
    return (
        stream.join(F.broadcast(dim), "user_id")
        .groupBy("c_mktsegment", "event_type")
        .agg(
            F.count("*").alias("n_events"),
            F.size(F.collect_set("user_id")).cast("bigint").alias("n_users"),
            F.size(F.collect_set("c_nationkey")).cast("bigint").alias(
                "n_nations"
            ),
            # DECIMAL accumulation: a plain double sum's association
            # order depends on micro-batch file assignment and state
            # merge order, so a .xxxx5-boundary value could round
            # differently from the batch oracle. The decimal sum is
            # exact/associative; one double cast + round at the edge.
            F.round(F.sum(F.col("value").cast("decimal(27,10)")), 4)
            .cast("double")
            .alias("sum_value"),
        )
    )


def drain_enriched_from_staged(
    spark: SparkSession,
    staging_dir: str,
    checkpoint_dir: str,
    customer: DataFrame,
    files_per_trigger: int = 2,
) -> DataFrame:
    """Drain staged event parts through the stream-static enrichment in
    rate-limited micro-batches and return the final aggregate."""
    stream = staged_stream(
        spark, EVENT_STREAM_SCHEMA, staging_dir, files_per_trigger
    )
    return drain(enrich_stream(stream, customer), checkpoint_dir, "complete")
