"""The shared round-trip runner, sink and last-emission fold
(streaming/roundtrip.py), the generator's stop rule (sources/datagen.py)
and the per-user fold both state APIs share (streaming/stateful.py)."""

from __future__ import annotations

import datetime as dt
import os
import time

import pandas as pd
import pytest

from flight_events_flink_job_spark.sources.datagen import (
    GEN_FORMAT,
    register_datagen,
    stop_at_rows,
)
from flight_events_flink_job_spark.streaming.roundtrip import (
    drain,
    last_emission,
    staged_stream,
)

SCHEMA = "user_id long, ts timestamp, event_type string, value double"


def _stage(spark, staging, batches):
    """One parquet file per batch, mtimes pinned in batch order."""
    os.makedirs(staging)
    for i, rows in enumerate(batches):
        tmp = f"{staging}_tmp{i}"
        spark.createDataFrame(rows, SCHEMA).coalesce(1).write.parquet(tmp)
        part = next(f for f in os.listdir(tmp) if f.startswith("part-"))
        dest = f"{staging}/b{i}.parquet"
        os.rename(f"{tmp}/{part}", dest)
        os.utime(dest, (1_700_000_000 + i * 60,) * 2)


def test_drain_complete_keeps_only_last_snapshot(spark, tmp_path):
    """Complete mode re-emits the whole table every micro-batch; the
    drain must return the final snapshot, not every snapshot."""
    t0 = dt.datetime(2024, 1, 1)
    staging = str(tmp_path / "in")
    _stage(
        spark,
        staging,
        [[(1, t0, "a", 1.0), (2, t0, "a", 1.0)], [(1, t0, "b", 1.0)]],
    )
    counts = staged_stream(spark, SCHEMA, staging, 1).groupBy("user_id").count()
    ckpt = str(tmp_path / "ckpt")
    out = drain(counts, ckpt, "complete")
    assert sorted(map(tuple, out.collect())) == [(1, 2), (2, 1)]
    assert out.schema.simpleString() == counts.schema.simpleString()
    assert len(os.listdir(os.path.join(ckpt, "commits"))) >= 2


def test_drain_of_nothing_staged_is_empty(spark, tmp_path):
    """No micro-batch runs on an empty staging dir: the drain returns
    an empty frame with the stream's schema, as a memory sink did."""
    staging = str(tmp_path / "in")
    os.makedirs(staging)
    stream = staged_stream(spark, SCHEMA, staging, 1)
    out = drain(stream, str(tmp_path / "ckpt"), "update")
    assert out.count() == 0
    assert out.columns == stream.columns


def test_last_emission_keeps_largest_counter_in_any_read_order(spark, tmp_path):
    """Three emissions of one key across two changelog files: the fold
    returns the largest-counter row whichever file is read first."""
    schema = "k long, n long, tag string"
    files = []
    for i, rows in enumerate([[(1, 1, "a"), (1, 3, "c"), (2, 5, "x")], [(1, 2, "b")]]):
        path = str(tmp_path / f"log{i}")
        spark.createDataFrame(rows, schema).coalesce(1).write.parquet(path)
        files.append(path)
    for order in (files, files[::-1]):
        out = last_emission(spark.read.schema(schema).parquet(*order), ["k"], "n")
        assert out.columns == ["k", "n", "tag"]
        assert sorted(map(tuple, out.collect())) == [(1, 3, "c"), (2, 5, "x")]


def test_stop_rule_timeout_stops_the_query(spark, tmp_path):
    """A generator stream that never reaches ``rows`` raises within the
    rule's timeout and leaves no query running."""
    register_datagen(spark)
    raw = (
        spark.readStream.format(GEN_FORMAT)
        .option("rows", 50)
        .option("rowsPerBatch", 50)
        .load()
    )
    t0 = time.monotonic()
    with pytest.raises(TimeoutError):
        drain(
            raw,
            str(tmp_path / "ckpt"),
            "append",
            until=lambda q: stop_at_rows(q, 51, timeout_s=3),
        )
    assert time.monotonic() - t0 < 60
    assert spark.streams.active == []


def test_fold_activity_sorts_chunks_before_folding():
    """Unordered chunks of one micro-batch fold exactly as the
    event-time-sorted batch does, from an empty or a carried state."""
    from flight_events_flink_job_spark.streaming.stateful import (
        _NO_ACTIVITY,
        _fold_activity,
    )

    ts = pd.to_datetime(["2024-01-01 00:00:0%d" % s for s in range(4)])
    pdf = pd.DataFrame(
        {"ts": ts, "event_type": ["a", "a", "b", "b"], "value": [1.0] * 4}
    )
    chunks = [pdf.iloc[2:], pdf.iloc[:0], pdf.iloc[:2]]
    assert _fold_activity(_NO_ACTIVITY, chunks) == _fold_activity(
        _NO_ACTIVITY, [pdf]
    ) == (4, 4.0, ts[3].to_pydatetime(), "b", 2)
    carried = (2, 1.0, dt.datetime(2023, 1, 1), "b", 5)
    assert _fold_activity(carried, [pdf.iloc[2:]]) == (
        4, 3.0, ts[3].to_pydatetime(), "b", 7,
    )
    assert _fold_activity(carried, []) == carried


def test_ivfpq_serving_of_nothing_staged_is_empty(spark, tmp_path):
    """The IVF-PQ serving drain reads back through the shared
    read-back: no micro-batch runs on an empty staging dir, and it
    returns an empty frame of the serve frame's schema instead of
    failing on the missing output path."""
    from flight_events_flink_job_spark.operators.clustering import ivf_pq_index
    from flight_events_flink_job_spark.streaming.similarity import (
        EMB_SCHEMA,
        drain_ivfpq_queries_from_staged,
    )

    rows = [(i, [float((i * 7 + d) % 5) for d in range(8)], 0) for i in range(64)]
    idx = ivf_pq_index(
        spark.createDataFrame(rows, EMB_SCHEMA), ivf_stride=8, m=2, dim=8
    )
    staging = str(tmp_path / "in")
    os.makedirs(staging)
    try:
        out = drain_ivfpq_queries_from_staged(
            spark, staging, str(tmp_path / "ckpt"), idx
        )
        assert out.count() == 0
        assert out.dtypes == [
            ("q_id", "bigint"),
            ("n_id", "bigint"),
            ("adc_d2", "double"),
            ("rank", "bigint"),
        ]
    finally:
        idx.unpersist()
