"""The plumbing every streaming query that runs to completion shares.

A round trip stages files, replays them as a rate-limited stream,
drains that stream and compares the result with a batch oracle (the
batch/stream parity stance, SURVEY.md §7). :func:`staged_stream` is
its one file source, :func:`run_batches` its one ``foreachBatch``
runner (availableNow, or the datagen generator's stop rule
``sources.datagen.stop_at_rows``), :func:`drain` its one sink,
:func:`last_emission` its one update-mode snapshot and
:func:`stage_time_ranges` its one event-time-ordered stager.

The sink follows from the output mode alone (Watermarks in Stream
Processing Systems, VLDB 2021, PAPERS.md): append emits final rows and
update emits a changelog, so both append every micro-batch; complete
emits the whole result table each time, so it overwrites and keeps the
last snapshot. An update-mode changelog's result is each key's last
emission, and :func:`last_emission` folds it out with no batch tag.
Every drain writes parquet through the runner to
``{checkpoint_dir}_out`` and reads it back under the stream's own
schema, so the result stays distributed (no driver-side memory sink)
and the read runs no schema-inference job. Rows persist across drains
on one checkpoint: a resumed drain returns the earlier drains' rows
with its own. A micro-batch replayed after a crash appends again; the
round trips drain once from a fresh checkpoint.
"""

from __future__ import annotations

import datetime as dt
from collections.abc import Callable, Sequence

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StructType

# The staged event rows the event round trips stream (the events
# fixture's columns); the keyed round trips stage event_id in front.
EVENT_STREAM_SCHEMA = "user_id LONG, ts TIMESTAMP, event_type STRING, value DOUBLE"
KEYED_EVENT_SCHEMA = "event_id LONG, " + EVENT_STREAM_SCHEMA


def staged_stream(
    spark: SparkSession, schema: str, staging_dir: str, files_per_trigger: int
) -> DataFrame:
    """The staged parquet files as a stream of ``files_per_trigger``
    files per micro-batch, under the declared ``schema``."""
    return (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .parquet(staging_dir)
    )


def run_batches(
    df: DataFrame,
    checkpoint_dir: str,
    write_batch: Callable[[DataFrame, int], None],
    output_mode: str = "append",
    until: Callable[[StreamingQuery], object] | None = None,
) -> None:
    """Run the streaming frame ``df`` through ``write_batch`` once per
    micro-batch, checkpointed at ``checkpoint_dir``: availableNow, then
    wait for the query to end. A source that cannot run availableNow
    passes its stop rule as ``until``: the query then triggers back to
    back and ``until(query)`` stops it."""
    writer = (
        df.writeStream.outputMode(output_mode)
        .foreachBatch(write_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if until is None:
        writer.trigger(availableNow=True).start().awaitTermination()
    else:
        until(writer.trigger(processingTime="0 seconds").start())


def drain(
    df: DataFrame,
    checkpoint_dir: str,
    output_mode: str,
    until: Callable[[StreamingQuery], object] | None = None,
) -> DataFrame:
    """Run the streaming frame ``df`` to completion (:func:`run_batches`
    with ``until``) and return what it emitted: every row in append and
    update mode, the last snapshot in complete mode (see the module
    docstring)."""
    out_dir = f"{checkpoint_dir}_out"
    write_mode = "overwrite" if output_mode == "complete" else "append"

    def write_batch(batch_df: DataFrame, _batch_id: int) -> None:
        batch_df.write.mode(write_mode).parquet(out_dir)

    run_batches(df, checkpoint_dir, write_batch, output_mode, until)
    return read_back(df.sparkSession, out_dir, df.schema)


def last_emission(updates: DataFrame, keys: Sequence[str], counter: str) -> DataFrame:
    """Each key's last row of an update-mode changelog: the row with the
    largest ``counter``, a running count. Update mode re-emits a key
    only when new rows reach it, so ``counter`` strictly increases per
    key; ties cannot occur and the fold needs no batch tag."""
    return updates.groupBy(*keys).agg(
        *[F.max_by(c, counter).alias(c) for c in updates.columns if c not in keys]
    ).select(updates.columns)


def read_back(spark: SparkSession, out_dir: str, schema: StructType) -> DataFrame:
    """The parquet a drain wrote to ``out_dir``, read under its declared
    ``schema`` (no footer-inference job); an empty frame of ``schema``
    when no micro-batch ran (nothing staged)."""
    path = spark._jvm.org.apache.hadoop.fs.Path(out_dir)
    if not path.getFileSystem(spark._jsc.hadoopConfiguration()).exists(path):
        return spark.createDataFrame([], schema)
    return spark.read.schema(schema).parquet(out_dir)


def stage_time_ranges(
    spark: SparkSession,
    events: DataFrame,
    staging_dir: str,
    cols: Sequence[str],
    parts: int,
    sentinels: Callable[[dt.datetime], list[tuple]],
) -> None:
    """Write ``events[cols]`` as ``parts`` contiguous ts ranges, one
    parquet file each in ascending event-time order (sequential commits
    give the file source ascending modification times, so a 0-delay
    watermark never classifies a row late), then ``sentinels(max_ts)``
    as the final file — rows far enough past the corpus to push the
    watermark beyond every real window or match deadline."""
    sel = events.select(*cols)
    lo, hi = sel.agg(F.min("ts"), F.max("ts")).collect()[0]
    span = (hi - lo) / parts
    for i in range(parts):
        rng = sel.filter(
            (F.col("ts") >= F.lit(lo + span * i))
            & (
                (F.col("ts") < F.lit(lo + span * (i + 1)))
                if i < parts - 1
                else F.lit(True)
            )
        )
        rng.coalesce(1).write.mode("append").parquet(staging_dir)
    spark.createDataFrame(sentinels(hi), sel.schema).coalesce(1).write.mode(
        "append"
    ).parquet(staging_dir)
