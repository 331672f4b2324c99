"""Shared-scan fan-out vs N independent writeStream queries
(VERDICT r6 item 3: the one topology point SURVEY §4 credits the Flink
reference with by construction — FEA:37 feeds 5 branches from a single
consumed stream).

Topology A — the repo's production shape (streaming/job.py
run_file_stream): ONE readStream → parse → foreachBatch{local
checkpoint of the batch; write all 6 sinks from the checkpoint}. The
staged input is scanned and parsed ONCE per micro-batch; the six
branches (flights archive, dead-letter, notifications,
airline/route/hourly partials) read the checkpointed batch.

Topology B — the naive Spark shape this repo deliberately avoids: six
independent writeStream queries over the same staged directory, each
readStream → parse → foreachBatch{write its ONE sink}. Structured
Streaming gives every query its own source scan, its own JSON parse,
and its own checkpoint — input is read and parsed 6x.

Both topologies run identical sink code (the same branch functions,
identical per-batch parquet appends), identical trigger
(availableNow + maxFilesPerTrigger), identical input — the ONLY
difference is the scan topology, so the wall/row delta isolates the
shared-scan advantage. Input rows actually consumed are summed from
every query's progress events (batchIds absorbed incrementally, never
the bounded recentProgress re-sum).

Run each topology in its OWN process (JVM contamination, BASELINE.md
§5c):

    python tools/stream_fanout_bench.py shared   [sf_dir] [parts] [mfpt]
    python tools/stream_fanout_bench.py separate [sf_dir] [parts] [mfpt]

Prints one JSON line; both lines are committed as
bench/stream_fanout_r{N}.json with a BASELINE.md section.
"""

from __future__ import annotations

import json
import os
import shutil
import sys
import tempfile
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> int:
    os.environ["TZ"] = "UTC"
    time.tzset()
    topology = sys.argv[1]
    if topology not in ("shared", "separate"):
        raise SystemExit(f"unknown topology {topology!r}: shared or separate")
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"
    parts = int(sys.argv[3]) if len(sys.argv) > 3 else 24
    mfpt = int(sys.argv[4]) if len(sys.argv) > 4 else 4
    n_reps = int(sys.argv[5]) if len(sys.argv) > 5 else 5

    from flight_events_flink_job_spark.operators.notifications import (
        delay_notifications,
    )
    from flight_events_flink_job_spark.operators.parse import (
        parse_flight_events,
        rejected_rows,
        valid_flights,
    )
    from flight_events_flink_job_spark.session import get_spark
    from flight_events_flink_job_spark.streaming.job import (
        partial_airline_stats,
        partial_hourly_stats,
        partial_route_stats,
        run_file_stream,
        stage_flight_event_json,
    )
    from flight_events_flink_job_spark.streaming.sinks import write_serving_table

    spark = get_spark("stream_fanout_bench")
    spark.sparkContext.setLogLevel("ERROR")

    work = tempfile.mkdtemp(prefix="fanout_bench_")
    staging = f"{work}/staging"
    stage_flight_event_json(spark, sf_dir, staging, parts=parts)
    staged_rows = spark.read.text(staging).count()

    # The six branch writers of make_fanout_batch, as standalone
    # (name, fn(batch_df, warehouse)) pairs so both topologies run the
    # byte-identical sink code.
    def w_flights(df, wh):
        write_serving_table(valid_flights(df), f"{wh}/flights", "flights")

    def w_rejected(df, wh):
        rejected_rows(df).write.mode("append").parquet(f"{wh}/rejected_rows")

    def w_notifications(df, wh):
        delay_notifications(valid_flights(df)).write.mode("append").parquet(
            f"{wh}/notifications"
        )

    def w_airline(df, wh):
        partial_airline_stats(valid_flights(df)).write.mode("append").parquet(
            f"{wh}/airline_delay_stats_partial"
        )

    def w_route(df, wh):
        partial_route_stats(valid_flights(df)).write.mode("append").parquet(
            f"{wh}/route_delay_stats_partial"
        )

    def w_hourly(df, wh):
        partial_hourly_stats(valid_flights(df)).write.mode("append").parquet(
            f"{wh}/hourly_delay_stats_partial"
        )

    branches = [
        ("flights", w_flights),
        ("rejected", w_rejected),
        ("notifications", w_notifications),
        ("airline", w_airline),
        ("route", w_route),
        ("hourly", w_hourly),
    ]

    def drain_and_count(queries) -> int:
        """Await all queries; absorb progress incrementally by (id,
        batchId) and return total numInputRows consumed across them."""
        seen: dict = {}
        while any(q.isActive for q in queries):
            for q in queries:
                for p in q.recentProgress:
                    seen[(p["id"], p["batchId"])] = p["numInputRows"]
            time.sleep(0.2)
        for q in queries:
            q.awaitTermination()
            for p in q.recentProgress:
                seen[(p["id"], p["batchId"])] = p["numInputRows"]
        return sum(seen.values())

    def run_once(rep: int) -> dict:
        wh = f"{work}/wh_{topology}_{rep}"
        ck = f"{work}/ck_{topology}_{rep}"
        t0 = time.perf_counter()
        if topology == "shared":
            q = run_file_stream(
                spark,
                staging,
                wh,
                ck,
                max_files_per_trigger=mfpt,
                await_termination=False,
            )
            rows_read = drain_and_count([q])
        else:
            qs = []
            for name, fn in branches:
                reader = spark.readStream.option("maxFilesPerTrigger", mfpt)
                parsed = parse_flight_events(reader.text(staging))
                qs.append(
                    parsed.writeStream.foreachBatch(
                        lambda df, _eid, _fn=fn, _wh=wh: _fn(df, _wh)
                    )
                    .option("checkpointLocation", f"{ck}/{name}")
                    .trigger(availableNow=True)
                    .start()
                )
            rows_read = drain_and_count(qs)
        wall = time.perf_counter() - t0
        out_rows = spark.read.parquet(f"{wh}/notifications").count()
        shutil.rmtree(wh, ignore_errors=True)
        shutil.rmtree(ck, ignore_errors=True)
        return {
            "wall_s": round(wall, 2),
            "source_rows_read": rows_read,
            "notifications_rows": out_rows,
        }

    run_once(0)  # warmup
    reps = [run_once(i + 1) for i in range(n_reps)]
    walls = sorted(r["wall_s"] for r in reps)
    med = walls[len(walls) // 2]
    mad = sorted(abs(w - med) for w in walls)[len(walls) // 2]
    result = {
        "topology": topology,
        "sf_dir": sf_dir,
        "staged_rows": staged_rows,
        "parts": parts,
        "max_files_per_trigger": mfpt,
        "median_wall_s": med,
        # round-7 VERDICT "what's wrong" #2: 3 reps with ~50% spread
        # made the wall comparison soft — report the spread alongside
        # and run 5+ reps by default
        "mad_wall_s": round(mad, 2),
        "reps": reps,
        "source_rows_read": reps[0]["source_rows_read"],
        "scan_amplification": round(
            reps[0]["source_rows_read"] / max(staged_rows, 1), 2
        ),
        "rows_per_s": round(staged_rows / med, 1),
    }
    print(json.dumps(result))
    shutil.rmtree(work, ignore_errors=True)
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
