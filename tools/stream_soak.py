"""Stream-rate soak for the RocksDB update-mode aggregate (VERDICT r5
item 8): a sustained >= 100-micro-batch run over the Python DataSource
datagen stream, asserting BOUNDED state-store growth and stable
per-batch latency — the endurance check the batch/stream parity tests
never exercise.

Setup: the datagen payload's event time advances ~97 s/row, so at
rowsPerBatch=2000 every micro-batch advances ~54 h of event time —
hundreds of 2-minute windows enter AND (because this soak adds the
watermark the parity query deliberately omits) leave state each batch.
With the 30-minute watermark, state rows per batch are bounded by the
windows inside watermark lag + in-flight batch span, independent of how
long the stream runs: the flat state series IS the 100 TB argument, the
same way a production job survives unbounded uptime.

A StreamingQueryListener records every batch's
``stateOperators[0].numRowsTotal`` and ``batchDuration`` (recentProgress
alone keeps only the last ~100 entries, so the listener is the honest
collector). PASS criteria, printed as one JSON line and intended to be
committed as bench/stream_soak_r{N}.json:

- ``n_batches >= 100``;
- state plateau: max(numRowsTotal) over the LAST quarter of batches
  <= 1.25 x max over the second quarter (i.e. growth stopped after
  warmup — a leak grows linearly with batch count and fails this);
- latency stability: median batchDuration over the last quarter
  <= 2 x median over the second quarter.

Usage: python tools/stream_soak.py [n_batches] [rows_per_batch]
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    os.environ["TZ"] = "UTC"
    time.tzset()
    n_batches = int(sys.argv[1]) if len(sys.argv) > 1 else 110
    per_batch = int(sys.argv[2]) if len(sys.argv) > 2 else 2000

    from pyspark.sql import functions as F
    from pyspark.sql.streaming import StreamingQueryListener

    from flight_events_flink_job_spark.operators.parse import (
        parse_flight_events,
        valid_flights,
    )
    from flight_events_flink_job_spark.session import get_spark
    from flight_events_flink_job_spark.sources.datagen import (
        register_datagen,
        stop_at_rows,
    )
    from flight_events_flink_job_spark.streaming.job import ROCKSDB_PROVIDER

    spark = get_spark("stream_soak")
    spark.sparkContext.setLogLevel("ERROR")
    register_datagen(spark)
    spark.conf.set(
        "spark.sql.streaming.stateStore.providerClass", ROCKSDB_PROVIDER
    )
    # Small shuffle width: state ops partition by key hash; 8 partitions
    # keeps per-batch task overhead low so latency reflects state work.
    spark.conf.set("spark.sql.shuffle.partitions", "8")

    progress: list[dict] = []

    class Collector(StreamingQueryListener):
        def onQueryStarted(self, event):
            pass

        def onQueryProgress(self, event):
            p = event.progress
            ops = p.stateOperators
            progress.append(
                {
                    "batch_id": p.batchId,
                    "duration_ms": p.batchDuration,
                    "input_rows": p.numInputRows,
                    "state_rows": ops[0].numRowsTotal if ops else None,
                    "state_bytes": ops[0].memoryUsedBytes if ops else None,
                }
            )

        def onQueryIdle(self, event):
            pass

        def onQueryTerminated(self, event):
            pass

    spark.streams.addListener(Collector())

    tmp = tempfile.mkdtemp(prefix="soak_")
    raw = (
        spark.readStream.format("flight_events_gen")
        .option("rows", n_batches * per_batch)
        .option("rowsPerBatch", per_batch)
        .option("numPartitions", 4)
        .load()
    )
    flights = valid_flights(parse_flight_events(raw))
    # The watermark the parity query omits on purpose (it needs
    # emit-everything semantics to equal the batch oracle) is exactly
    # the state-retention policy production adds back: windows older
    # than 30 min of event time are finalized and EVICTED from the
    # store every batch.
    agg = (
        flights.withWatermark("scheduled_time", "30 minutes")
        .groupBy(F.window("scheduled_time", "2 minutes"), "airline")
        .agg(
            F.count("*").alias("total_flights"),
            F.sum(F.when(F.col("is_delayed") == 1, 1).otherwise(0)).alias(
                "delayed_flights"
            ),
        )
    )
    q = (
        agg.writeStream.outputMode("update")
        .format("noop")
        .option("checkpointLocation", f"{tmp}/ckpt")
        .trigger(processingTime="0 seconds")
        .start()
    )
    t0 = time.perf_counter()
    # Drain: the datagen reader holds at `rows`; the generator's stop
    # rule stops the query once every row is committed.
    stop_at_rows(q, n_batches * per_batch, timeout_s=1800)
    wall = time.perf_counter() - t0
    shutil.rmtree(tmp, ignore_errors=True)

    data = [p for p in progress if p["input_rows"] > 0 and p["state_rows"]]
    n = len(data)
    quarter = max(n // 4, 1)
    second = data[quarter : 2 * quarter]
    last = data[-quarter:]
    max_state_mid = max(p["state_rows"] for p in second)
    max_state_last = max(p["state_rows"] for p in last)
    med_lat_mid = statistics.median(p["duration_ms"] for p in second)
    med_lat_last = statistics.median(p["duration_ms"] for p in last)
    verdict = {
        "n_batches": n,
        "rows_per_batch": per_batch,
        "wall_sec": round(wall, 1),
        "state_rows_max_q2": max_state_mid,
        "state_rows_max_q4": max_state_last,
        "state_bounded": max_state_last <= 1.25 * max_state_mid,
        "latency_ms_median_q2": med_lat_mid,
        "latency_ms_median_q4": med_lat_last,
        "latency_stable": med_lat_last <= 2 * med_lat_mid,
        "state_rows_series_every_10": [
            p["state_rows"] for p in data[::10]
        ],
        "duration_ms_series_every_10": [
            p["duration_ms"] for p in data[::10]
        ],
    }
    verdict["pass"] = bool(
        n >= 100 and verdict["state_bounded"] and verdict["latency_stable"]
    )
    print(json.dumps(verdict))
    return 0 if verdict["pass"] else 1


if __name__ == "__main__":
    main()
