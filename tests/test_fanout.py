"""The micro-batch fan-out's checkpoint (streaming/job.make_fanout_batch).

Each batch is parsed once into an eager local checkpoint of
``fanout_partitions`` partitions and every sink reads that checkpoint.
Pinned here:

- the sizing rule fails closed: an unknown size estimate (or a stats
  call that raises) keeps the batch's own partitioning;
- the rule follows ``spark.sql.adaptive.advisoryPartitionSizeInBytes``
  both ways: a 1 KB target splits a staged batch and its partial
  aggregates keep their Exchange, the default target gives one
  partition and Exchange-free partial aggregate plans;
- a drain leaks no checkpoint or cache blocks;
- the parse tap is evaluated exactly once per batch: each batch's
  observed ``events_total`` equals its ``numInputRows``, the summed
  ``events_total`` equals the staged line count, and the summed
  ``events_rejected`` equals the dead-letter table's row count (a batch
  plan that runs once per sink inflates the taps and numInputRows
  alike, six-fold).
"""

from __future__ import annotations

import pytest

from flight_events_flink_job_spark.operators.parse import (
    parse_flight_events,
    valid_flights,
)
from flight_events_flink_job_spark.sources.fixtures import load_table
from flight_events_flink_job_spark.sources.flight_adapter import (
    flight_event_json_with_corrupt,
)
from flight_events_flink_job_spark.streaming.job import (
    checkpoint_batch,
    fanout_partitions,
    partial_airline_stats,
    partial_hourly_stats,
    partial_route_stats,
    release_checkpoint,
    run_file_stream,
)

ADVISORY = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
PARTIALS = [partial_airline_stats, partial_route_stats, partial_hourly_stats]


@pytest.fixture(scope="module")
def staged(spark, sf_dir, tmp_path_factory):
    """sf events as 4 JSON text parts, every 97th payload corrupt."""
    path = str(tmp_path_factory.mktemp("fanout") / "in")
    flight_event_json_with_corrupt(load_table(spark, sf_dir, "events")).repartition(
        4
    ).write.text(path)
    return path


def _has_exchange(df) -> bool:
    return "Exchange" in df._jdf.queryExecution().executedPlan().toString()


def test_unknown_size_skips_coalesce(spark):
    df = spark.createDataFrame(
        spark.sparkContext.parallelize([(i,) for i in range(30)], 3), "x int"
    )
    assert fanout_partitions(df) is None
    batch = checkpoint_batch(df)
    try:
        assert batch.rdd.getNumPartitions() == 3
        assert sorted(r.x for r in batch.collect()) == list(range(30))
    finally:
        release_checkpoint(batch)


def test_stats_call_that_raises_skips_coalesce(spark):
    class BrokenStats:
        sparkSession = spark
        _jdf = None  # any queryExecution() call raises

    assert fanout_partitions(BrokenStats()) is None


def test_small_advisory_size_splits_batch_and_keeps_exchange(spark, staged):
    spark.conf.set(ADVISORY, "1KB")
    try:
        parsed = parse_flight_events(spark.read.text(staged))
        k = fanout_partitions(parsed)
        assert k is not None and k > 1
        batch = checkpoint_batch(parsed)
        try:
            assert 1 < batch.rdd.getNumPartitions() <= k
            for partial in PARTIALS:
                assert _has_exchange(partial(valid_flights(batch)))
        finally:
            release_checkpoint(batch)
    finally:
        spark.conf.unset(ADVISORY)


def test_default_advisory_size_gives_exchange_free_partials(spark, staged):
    parsed = parse_flight_events(spark.read.text(staged))
    assert fanout_partitions(parsed) == 1
    batch = checkpoint_batch(parsed)
    try:
        assert batch.rdd.getNumPartitions() == 1
        for partial in PARTIALS:
            assert not _has_exchange(partial(valid_flights(batch)))
    finally:
        release_checkpoint(batch)


@pytest.fixture(scope="module")
def drain(spark, staged, tmp_path_factory):
    """Drain the staged parts one file per micro-batch; record the ids of
    the persistent RDDs before and after."""
    base = tmp_path_factory.mktemp("fanout_drain")

    def persistent() -> set[int]:
        return set(spark.sparkContext._jsc.getPersistentRDDs().keys())

    before = persistent()
    query = run_file_stream(
        spark, staged, str(base / "wh"), str(base / "ckpt"), max_files_per_trigger=1
    )
    return {
        "warehouse": str(base / "wh"),
        "progress": [p for p in query.recentProgress if p.numInputRows > 0],
        "persistent_before": before,
        "persistent_after": persistent(),
    }


def test_drain_leaks_no_persistent_rdds(drain):
    # Ids, not a count: frames other tests in the session persisted may
    # be cleaned up while the drain runs.
    assert len(drain["progress"]) > 1
    assert drain["persistent_after"] <= drain["persistent_before"]


def test_parse_tap_evaluated_once_per_batch(spark, staged, drain):
    # numInputRows scales with the number of times the batch plan runs,
    # just like the tap, so the totals are also pinned to the input and
    # to the dead-letter table the sinks wrote.
    total = rejected = 0
    for p in drain["progress"]:
        tap = p.observedMetrics["parse_metrics"]
        assert tap["events_total"] == p.numInputRows
        total += tap["events_total"]
        rejected += tap["events_rejected"]
    assert total == spark.read.text(staged).count()
    assert rejected > 0
    assert rejected == spark.read.parquet(f"{drain['warehouse']}/rejected_rows").count()
