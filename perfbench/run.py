"""perfbench: end-to-end benchmark of the flight-events streaming job.

    python3 perfbench/run.py --workload stream_live --seed 1 --seconds 10 --trace 0

Workloads (the full record, with the per-layer mapping, is in
perfbench/WORKLOADS.md):

- ``stream_live``: open loop. One generator thread drops seeded flight-
  event JSON files into a directory on a fixed schedule while a
  continuous query (parse -> observe_parse -> foreachBatch fan-out)
  consumes them. Latency of a file = commit time of the micro-batch
  that read it minus the time the schedule said the file was due. A
  closed-loop catch-up phase then keeps the query saturated for a few
  batches to measure its capacity.
- ``backfill_serve``: closed loop, one client. A seeded backlog arrives
  in four loads; each is drained with ``run_file_stream`` (availableNow,
  same checkpoint) and followed by a seeded sequence of serving reads
  against the warehouse so far, each timed.

The program sees only the generated inputs and is driven through its
public functions. Outputs are checked outside the timed regions against
DuckDB (the registry's oracles over a view of the seeded events, or
DuckDB over the same parquet). The last stdout line is one JSON object:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics (``--trace 0``) or the per-layer metrics (``--trace 1``). A full
record of each run, spans included, goes to ``.perfbench_out/``.
"""

from __future__ import annotations

import argparse
import json
import os
import re
import shutil
import statistics
import sys
import threading
import time
import traceback
import uuid

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from benchlib import Tracer, file_batches, percentile  # noqa: E402

PACKAGE = "flight_events_flink_job_spark"

# Set-up is repeated and its median reported (the first repetition also
# pays the JVM launch).
SETUP_REPS = 3
# Warm-up drain: seeded, disjoint event ids, files shaped like the
# measured ones.
WARM_FIRST_ID = 50_000_001

# stream_live: 10 files/s x 50 events = 500 events/s offered, about half
# of what the job drains at these batch sizes on 4 cores (~1,000 events/s
# at ~1,700-row batches); near capacity, a host slowed by its neighbours
# made latency run away.
LIVE_FILES_PER_S = 10
LIVE_EVENTS_PER_FILE = 50
LIVE_WARM_FILES = 5
DRAIN_TIMEOUT_S = 60.0
# stream_live catch-up: BURSTS bursts of BURST_FILES files (1,000
# events), each dropped while the batch reading the files before it
# runs, so the batches that read them run back to back.
BURSTS = 3
BURST_FILES = 20

# backfill_serve: 20 files x 1,000 events, arriving in CYCLES loads of
# CYCLE_FILES files; each load is drained by run_file_stream (one
# 5,000-event micro-batch) and followed by serving reads, so drains and
# reads alike are spread over the whole measured window instead of each
# sitting in one stretch of it.
BACKLOG_FILES = 20
BACKLOG_EVENTS_PER_FILE = 1000
MAX_FILES_PER_TRIGGER = 5
CYCLES = 4
CYCLE_FILES = BACKLOG_FILES // CYCLES
# At least READ_ROUNDS blocks of one read of each kind per cycle: 40
# reads in all, so p75 has ten samples beyond it (a read costs ~0.3 s,
# so the 100 a p90 needs would not fit the run's time budget).
READ_ROUNDS = 2
PLAN_BLOCKS = 200
READ_KINDS = ["merge_airline", "merge_route", "merge_hourly", "topk_routes", "range"]
TOPK = 10
RANGE_SLOT_S = 15 * 60  # key-range read: airline + flight_date + 15 minutes

# Seeded event inputs (event_id, ts, user_id, event_type, value), drawn
# as the program's scale generator draws its events table
# (sources/scalegen.py, _gen_events): 20% of events on 10 heavy users,
# the rest uniform over 15 users per 1,000 events; event_type uniform
# over the fixtures' five types (the flight adapter makes it the
# airline); value uniform over [0, 100) in hundredths, so 85% of flights
# are delayed (value > 15).
EVENT_TYPES = ["view", "click", "purchase", "error", "signup"]
HEAVY_USERS = 10
HEAVY_SHARE = 0.2
USERS_PER_EVENT = 15_000 / 1_000_000
EVENT_T0 = "2024-03-01T21:00:00"
EVENT_SPAN_S = 6 * 3600  # uniform event time over six hours, two dates

# Registry queries of the analytics operators, pinned by name (traced
# runs only; see query_probe). Tables come from the program's own
# deterministic generator at a fixed seed, so the counts repeat.
QUERY_MIX = [
    "dedup_ngram_jaccard",
    "source_overlap_minhash",
    "dedup_simhash",
    "minhash_calibration",
    "dedup_embedding_cosine",
    "ann_recall_eval",
    "mips_topk_lsh",
    "similarity_topk_lsh",
    "user_triangles_exact",
    "orders_asof",
    "nation_market_share",
    "bigram_lm_score",
]
QUERY_TABLES_SF = 0.001
QUERY_TABLES_SEED = 42

PAYLOAD_ID = re.compile(r'\{"flightId":"F(\d+)"')
TABLES = {
    "airline": "airline_delay_stats_partial",
    "route": "route_delay_stats_partial",
    "hourly": "hourly_delay_stats_partial",
}


T_START = time.perf_counter()


def log(msg: str) -> None:
    print(f"[perfbench {time.perf_counter() - T_START:6.1f}s] {msg}", file=sys.stderr, flush=True)


def median(xs):
    return statistics.median(xs) if xs else None


# ---------------------------------------------------------------------------
# Inputs
# ---------------------------------------------------------------------------


def make_events(rng, first_id: int, n: int):
    import numpy as np
    import pandas as pd

    n_users = max(int(n * USERS_PER_EVENT), 15)
    secs = rng.integers(0, EVENT_SPAN_S, size=n)
    user = np.where(
        rng.random(n) < HEAVY_SHARE,
        rng.integers(0, HEAVY_USERS, size=n),
        rng.integers(0, n_users, size=n),
    )
    return pd.DataFrame(
        {
            "event_id": np.arange(first_id, first_id + n, dtype=np.int64),
            "ts": np.datetime64(EVENT_T0, "s") + secs.astype("timedelta64[s]"),
            "user_id": user.astype(np.int64),
            "event_type": rng.choice(EVENT_TYPES, size=n),
            "value": rng.integers(0, 10_000, size=n) / 100.0,
        }
    )


def payloads(spark, events) -> dict[int, str]:
    """Seeded events -> Kafka-shaped JSON payloads, about one in 97
    corrupt, keyed by event id (every payload starts with its id)."""
    from flight_events_flink_job_spark.sources.flight_adapter import (
        flight_event_json_with_corrupt,
    )

    rows = flight_event_json_with_corrupt(spark.createDataFrame(events)).collect()
    return {int(PAYLOAD_ID.match(r.value).group(1)): r.value for r in rows}


def file_contents(events, payload: dict[int, str], per_file: int) -> list[str]:
    """Text file contents, ``per_file`` events each, in event-id order."""
    ids = events["event_id"].tolist()
    return [
        "\n".join(payload[i] for i in ids[k : k + per_file]) + "\n"
        for k in range(0, len(ids), per_file)
    ]


def stage_files(contents: list[str], directory: str) -> list[str]:
    os.makedirs(directory, exist_ok=True)
    names = []
    for i, text in enumerate(contents):
        name = f"part-{i:05d}.json"
        with open(os.path.join(directory, name), "w") as f:
            f.write(text)
        names.append(name)
    return names


# ---------------------------------------------------------------------------
# Spark plumbing
# ---------------------------------------------------------------------------


def new_session(cpus: int, work: str):
    from flight_events_flink_job_spark.session import get_spark

    return get_spark(
        "perfbench",
        cpus=cpus,
        extra_conf={
            "spark.driver.memory": "2g",
            "spark.sql.warehouse.dir": os.path.join(work, "spark-warehouse"),
            "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={work}/tmp",
            "spark.ui.showConsoleProgress": "false",
        },
    )


def next_job_id(spark) -> int:
    return int(spark._jsc.sc().dagScheduler().nextJobId())


def job_counts(spark, first: int, end: int) -> tuple[int, int, int]:
    """(jobs, stages run, tasks) for job ids in [first, end)."""
    tracker = spark.sparkContext.statusTracker()
    stages = tasks = 0
    for jid in range(first, end):
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else []:
            st = tracker.getStageInfo(sid)
            if st is not None:
                stages += 1
                tasks += st.numTasks
    return end - first, stages, tasks


class Counted:
    """Run ``fn`` and, when counting, record its Spark job/stage/task
    counts from the status tracker."""

    def __init__(self, enabled: bool) -> None:
        self.enabled = enabled
        self.samples: list[tuple[int, int, int]] = []

    def __call__(self, spark, fn):
        if not self.enabled:
            return fn()
        j0 = next_job_id(spark)
        out = fn()
        self.samples.append(job_counts(spark, j0, next_job_id(spark)))
        return out


def traced_fanout(ctx, inner, counter: Counted, seconds: list[float]):
    """Timed wrapper around the function ``make_fanout_batch`` returns."""

    def process_batch(batch_df, epoch_id):
        with ctx.tracer.span("streaming.job.fanout", epoch=epoch_id):
            t0 = time.perf_counter()
            counter(batch_df.sparkSession, lambda: inner(batch_df, epoch_id))
            seconds.append(time.perf_counter() - t0)

    return process_batch


def start_live_query(spark, src, wh, ckpt, fanout, **trigger):
    """The reference topology with a file source in place of Kafka:
    parse -> observe_parse -> foreachBatch(fan-out)."""
    from flight_events_flink_job_spark.observability import observe_parse
    from flight_events_flink_job_spark.operators.parse import parse_flight_events

    parsed = observe_parse(
        parse_flight_events(spark.readStream.text(src)), "parse_metrics"
    )
    return (
        parsed.writeStream.foreachBatch(fanout)
        .option("checkpointLocation", ckpt)
        .trigger(**trigger)
        .start()
    )


def with_data(progress: list[dict]) -> list[dict]:
    return [p for p in progress if p.get("numInputRows", 0) > 0]


def rows_per_s(data: list[dict]) -> float | None:
    """Rows over the summed trigger time of ``data``'s batches."""
    busy_ms = sum(p["durationMs"]["triggerExecution"] for p in data)
    return sum(p["numInputRows"] for p in data) / (busy_ms / 1000.0) if busy_ms else None


def stream_layer(data: list[dict]) -> dict:
    """Per-layer numbers of the micro-batch engine over ``data``'s
    batches."""
    dur = lambda key: median([p["durationMs"].get(key, 0) for p in data])  # noqa: E731
    return {
        "streaming.batches": len(data),
        "streaming.rows_per_batch_p50": median([p["numInputRows"] for p in data]),
        "streaming.trigger_ms_p50": dur("triggerExecution"),
        "streaming.add_batch_ms_p50": dur("addBatch"),
        "streaming.query_planning_ms_p50": dur("queryPlanning"),
        "streaming.latest_offset_ms_p50": dur("latestOffset"),
        "streaming.wal_commit_ms_p50": dur("walCommit"),
        "streaming.commit_offsets_ms_p50": dur("commitOffsets"),
        "_trigger_ms": [p["durationMs"]["triggerExecution"] for p in data],
    }


def parse_layer(data: list[dict]) -> dict:
    """Exact counts of the ``observe_parse`` taps over ``data``'s batches."""
    taps = [p.get("observedMetrics", {}).get("parse_metrics") for p in data]
    taps = [t.asDict() if t is not None else {} for t in taps]
    total = sum(t.get("events_total", 0) for t in taps)
    return {
        "parse.events_total": total,
        "parse.rejected_ratio": sum(t.get("events_rejected", 0) for t in taps) / total,
        "parse.delayed_ratio": sum(t.get("events_delayed", 0) for t in taps) / total,
    }


# ---------------------------------------------------------------------------
# Serving reads
# ---------------------------------------------------------------------------


def serving_read(spark, wh: str, kind: str, param):
    """One serving read; returns (columns, dtypes, rows)."""
    from pyspark.sql import functions as F

    from flight_events_flink_job_spark.streaming import job
    from flight_events_flink_job_spark.streaming.sinks import read_serving_table

    if kind == "range":
        airline, lo, hi = param
        df = read_serving_table(spark, f"{wh}/flights").filter(
            (F.col("airline") == airline)
            & (F.col("flight_date") == F.lit(lo[:10]).cast("date"))
            & (F.col("scheduled_time") >= F.lit(lo).cast("timestamp"))
            & (F.col("scheduled_time") < F.lit(hi).cast("timestamp"))
        )
    elif kind == "topk_routes":
        df = job.topk_routes_from_partials(
            spark.read.parquet(f"{wh}/{TABLES['route']}"), TOPK
        )
    else:
        table = kind.split("_", 1)[1]
        merge = getattr(job, f"merge_{table}_stats")
        df = merge(spark.read.parquet(f"{wh}/{TABLES[table]}"))
    return df.columns, df.dtypes, df.collect()


def range_key(airline: str, slot: int) -> tuple[str, str, str]:
    """(airline, slot start, slot end) as 'YYYY-MM-DD hh:mm:ss' strings;
    slots never cross midnight, so one flight_date partition holds each."""
    import numpy as np

    lo = np.datetime64(EVENT_T0, "s") + np.timedelta64(slot * RANGE_SLOT_S, "s")
    hi = lo + np.timedelta64(RANGE_SLOT_S, "s")
    return airline, str(lo).replace("T", " "), str(hi).replace("T", " ")


def read_plan(rng, blocks: int) -> list[tuple[str, object]]:
    """Blocks of one read of each kind in a seeded order, so any run of
    whole blocks has the same mix whatever the seed."""
    plan = []
    for _ in range(blocks):
        for k in rng.permutation(len(READ_KINDS)):
            kind, param = READ_KINDS[k], None
            if kind == "range":
                slot = int(rng.integers(EVENT_SPAN_S // RANGE_SLOT_S))
                param = range_key(EVENT_TYPES[rng.integers(len(EVENT_TYPES))], slot)
            plan.append((kind, param))
    return plan


def serve_layer(lat: dict[str, list[float]], counts: Counted, wh: str) -> dict:
    flights = [
        f
        for _, _, fs in os.walk(f"{wh}/flights")
        for f in fs
        if f.endswith(".parquet")
    ]
    return {
        "job.merge_airline_s": median(lat.get("merge_airline", [])),
        "job.merge_route_s": median(lat.get("merge_route", [])),
        "job.merge_hourly_s": median(lat.get("merge_hourly", [])),
        "job.topk_routes_s": median(lat.get("topk_routes", [])),
        "sinks.range_read_s": median(lat.get("range", [])),
        "sinks.files_listed": len(flights),
        "serve.jobs_per_read": median([c[0] for c in counts.samples]),
        "serve.stages_per_read": median([c[1] for c in counts.samples]),
    }


# ---------------------------------------------------------------------------
# Output checks (outside every timed region)
# ---------------------------------------------------------------------------


class Collected:
    """An already-collected result in the shape ``parity.compare`` reads."""

    def __init__(self, columns, dtypes, rows) -> None:
        self.columns, self.dtypes, self._rows = list(columns), list(dtypes), rows

    def collect(self):
        return self._rows


def duck_events(events, valid_only: bool):
    """DuckDB connection with the seeded events as view ``events``.

    The flight oracles (``FLIGHTS_CTE``) model an uncorrupted topic, so
    for them the corrupt ids, which are exactly the dead letters, are
    left out; the dead-letter oracle reads every event.
    """
    import duckdb

    from flight_events_flink_job_spark.sources.flight_adapter import CORRUPT_EVERY

    con = duckdb.connect()
    con.register("events_df", events)
    keep = f"WHERE event_id % {CORRUPT_EVERY} <> 0" if valid_only else ""
    con.execute(
        "CREATE VIEW events AS SELECT event_id, CAST(ts AS TIMESTAMP) AS ts, "
        f"user_id, event_type, value FROM events_df {keep}"
    )
    return con


def check_warehouse(spark, events, wh: str) -> list[tuple[str, list[str]]]:
    """Window stats, notifications and dead letters the stream wrote,
    each against its registry oracle over the seeded events."""
    from parity import compare

    from flight_events_flink_job_spark.plans import ORACLES
    from flight_events_flink_job_spark.streaming import job

    con = duck_events(events, valid_only=True)
    out = []
    for table, oracle in [
        ("airline", "airline_delay_stats"),
        ("route", "route_delay_stats"),
        ("hourly", "hourly_delay_stats"),
    ]:
        merged = getattr(job, f"merge_{table}_stats")(
            spark.read.parquet(f"{wh}/{TABLES[table]}")
        )
        out.append((oracle, compare(oracle, merged, con.sql(ORACLES[oracle]))))
    notes = spark.read.parquet(f"{wh}/notifications").select("flight_id", "notification")
    out.append(
        ("delay_notifications", compare("n", notes, con.sql(ORACLES["delay_notifications"])))
    )
    rejected = spark.read.parquet(f"{wh}/rejected_rows").select("raw")
    con = duck_events(events, valid_only=False)
    out.append(("rejected_rows", compare("r", rejected, con.sql(ORACLES["rejected_rows"]))))
    return out


def check_reads(events, wh: str, first: dict) -> list[tuple[str, list[str]]]:
    """Each distinct serving read against DuckDB over the same parquet."""
    from parity import compare

    from flight_events_flink_job_spark.plans import ORACLES
    from flight_events_flink_job_spark.schemas import FLIGHT_COLUMNS

    con = duck_events(events, valid_only=True)
    out = []
    for (kind, param), (cols, dtypes, rows) in sorted(first.items(), key=str):
        if kind == "range":
            idx = [cols.index(c) for c in FLIGHT_COLUMNS]
            got = Collected(
                FLIGHT_COLUMNS,
                [dtypes[i] for i in idx],
                [dict(zip(FLIGHT_COLUMNS, (r[i] for i in idx))) for r in rows],
            )
            rel = con.sql(
                f"SELECT {', '.join(FLIGHT_COLUMNS)} FROM read_parquet("
                f"'{wh}/flights/*/*/*.parquet', hive_partitioning = true) "
                f"WHERE airline = '{param[0]}' "
                f"AND flight_date = DATE '{param[1][:10]}' "
                f"AND scheduled_time >= TIMESTAMP '{param[1]}' "
                f"AND scheduled_time < TIMESTAMP '{param[2]}'"
            )
        elif kind == "topk_routes":
            got = Collected(cols, dtypes, [r.asDict() for r in rows])
            rel = con.sql(
                "SELECT origin || '-' || destination AS route, "
                "CAST(sum(total_flights) AS BIGINT) AS total_flights, "
                "CAST(sum(sum_delay) AS BIGINT) AS total_delay_minutes "
                f"FROM read_parquet('{wh}/{TABLES['route']}/*/*.parquet') "
                "GROUP BY origin, destination "
                f"ORDER BY total_delay_minutes DESC, route LIMIT {TOPK}"
            )
        else:
            oracle = f"{kind.split('_', 1)[1]}_delay_stats"
            got = Collected(cols, dtypes, [r.asDict() for r in rows])
            rel = con.sql(ORACLES[oracle])
        out.append((f"read:{kind}:{param}", compare(kind, got, rel)))
    return out


# ---------------------------------------------------------------------------
# Per-layer probes (traced run only)
# ---------------------------------------------------------------------------


def timed_median(fn, reps: int = 3) -> float:
    ts = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        ts.append(time.perf_counter() - t0)
    return statistics.median(ts)


def sink_probes(ctx, spark, lines: list[str], out: str) -> dict:
    """Parse and each sink write timed alone over one batch-sized frame."""
    from flight_events_flink_job_spark.operators.notifications import (
        delay_notifications,
    )
    from flight_events_flink_job_spark.operators.parse import (
        parse_flight_events,
        rejected_rows,
        valid_flights,
    )
    from flight_events_flink_job_spark.streaming import job
    from flight_events_flink_job_spark.streaming.sinks import write_serving_table

    raw = spark.createDataFrame([(v,) for v in lines], "value string").cache()
    raw.count()
    res = {}
    with ctx.tracer.span("parse.materialize"):
        res["parse.materialize_s"] = timed_median(
            lambda: parse_flight_events(raw).write.format("noop").mode("overwrite").save()
        )
    parsed = parse_flight_events(raw).cache()
    flights = valid_flights(parsed).cache()
    flights.count()

    def pq(df, name):
        return lambda: df.write.mode("overwrite").parquet(f"{out}/{name}")

    probes = {
        "sinks.write_flights_s": lambda: write_serving_table(
            flights, f"{out}/flights", "flights", mode="overwrite"
        ),
        "sinks.write_rejected_s": pq(rejected_rows(parsed), "rejected"),
        "notifications.write_s": pq(delay_notifications(flights), "notifications"),
    }
    for name, fn in probes.items():
        with ctx.tracer.span(name[: -len("_s")]):
            res[name] = timed_median(fn)
    with ctx.tracer.span("aggregates.write_partials"):
        res["aggregates.write_partials_s"] = sum(
            timed_median(pq(getattr(job, f"partial_{t}_stats")(flights), t))
            for t in TABLES
        )
    for df in (flights, parsed, raw):
        df.unpersist()
    return res


def query_probe(ctx, spark, out: str) -> dict:
    """Each QUERY_MIX query built, then materialised by collecting it,
    in a seeded order; per query the time and the Spark jobs, stages and
    tasks of each step. The collected rows are then checked against the
    registry oracle run by DuckDB over the same tables, so the check
    needs no second execution (the noop sink would)."""
    import duckdb
    from parity import compare

    from flight_events_flink_job_spark.plans import ORACLES, QUERIES
    from flight_events_flink_job_spark.schemas import FIXTURE_TABLES
    from flight_events_flink_job_spark.sources.fixtures import (
        EMBEDDINGS_VIEW_SQL,
        EVENTS_VIEW_SQL,
    )
    from flight_events_flink_job_spark.sources.scalegen import gen_scale_tables

    with ctx.tracer.span("query.tables"):
        gen_scale_tables(spark, out, QUERY_TABLES_SF, seed=QUERY_TABLES_SEED)
    res, built = {}, {}
    order = [QUERY_MIX[i] for i in ctx.rng_queries.permutation(len(QUERY_MIX))]
    t_mix = time.perf_counter()
    for q in order:
        j0, t0 = next_job_id(spark), time.perf_counter()
        with ctx.tracer.span(f"query.{q}.build"):
            df = QUERIES[q](spark, out)
        j1, t1 = next_job_id(spark), time.perf_counter()
        with ctx.tracer.span(f"query.{q}.run"):
            rows = df.collect()
        j2, t2 = next_job_id(spark), time.perf_counter()
        built[q] = Collected(df.columns, df.dtypes, rows)
        jobs, stages, tasks = job_counts(spark, j1, j2)
        res.update(
            {
                f"query.{q}.build_s": t1 - t0,
                f"query.{q}.build_jobs": j1 - j0,
                f"query.{q}.run_s": t2 - t1,
                f"query.{q}.jobs": jobs,
                f"query.{q}.stages": stages,
                f"query.{q}.tasks": tasks,
            }
        )
    res["query.mix_s"] = time.perf_counter() - t_mix

    con = duckdb.connect()
    special = {"events": EVENTS_VIEW_SQL, "embeddings": EMBEDDINGS_VIEW_SQL}
    for t in FIXTURE_TABLES:
        body = special.get(t, "SELECT * FROM read_parquet('{path}')")
        con.execute(f"CREATE VIEW {t} AS {body.format(path=f'{out}/{t}.parquet/*.parquet')}")
    with ctx.tracer.span("check.queries"):
        ctx.checks += [
            (f"query:{q}", compare(q, built[q], con.sql(ORACLES[q]))) for q in QUERY_MIX
        ]
    return res


def warehouse_size(wh: str) -> dict:
    files = nbytes = 0
    for d, _, fs in os.walk(wh):
        for f in fs:
            if f.endswith(".parquet"):
                files += 1
                nbytes += os.path.getsize(os.path.join(d, f))
    return {"sinks.files_written": files, "sinks.bytes_written": nbytes}


def jvm_peak_rss_mb(spark) -> float:
    pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return float("nan")


# ---------------------------------------------------------------------------
# Workloads
# ---------------------------------------------------------------------------


class Ctx:
    def __init__(self, args, work: str) -> None:
        import numpy as np

        self.args = args
        self.work = work
        self.trace = bool(args.trace)
        self.tracer = Tracer(self.trace, uuid.uuid4().hex)
        self.cpus = len(os.sched_getaffinity(0))
        seeds = np.random.SeedSequence(args.seed).spawn(4)
        self.rng_events, self.rng_warm, self.rng_reads, self.rng_queries = (
            np.random.default_rng(s) for s in seeds
        )
        self.spark = None
        self.layer: dict = {}
        self.checks: list[tuple[str, list[str]]] = []
        self.samples: list[float] = []
        # Per-layer names whose values are workload inputs, not measured.
        self.fixed: list[str] = []

    def setup(self, events, per_file: int, warm_files: int, warmup):
        """SETUP_REPS x (session creation + warm-up); the median is
        ``setup_s``. Making the input files (first repetition only) is
        outside the timed parts. Returns the files' contents."""
        import pandas as pd

        warm_events = make_events(self.rng_warm, WARM_FIRST_ID, warm_files * per_file)
        inputs = warm = None
        starts, warms = [], []
        for rep in range(SETUP_REPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            with self.tracer.span("session.start", rep=rep):
                self.spark = new_session(self.cpus, self.work)
            starts.append(time.perf_counter() - t0)
            if inputs is None:
                with self.tracer.span("sources.generate"):
                    both = pd.concat([warm_events, events], ignore_index=True)
                    payload = payloads(self.spark, both)
                    inputs = file_contents(events, payload, per_file)
                    warm = file_contents(warm_events, payload, per_file)
                log("inputs generated")
            t0 = time.perf_counter()
            with self.tracer.span("session.warmup", rep=rep):
                d = os.path.join(self.work, f"warm{rep}")
                stage_files(warm, f"{d}/src")
                warmup(self.spark, d)
            warms.append(time.perf_counter() - t0)
        self.layer.update(
            {
                "session.start_s": starts[0],
                "session.warmup_s": median(warms),
            }
        )
        log(f"setup: session {starts} warm-up {warms}")
        return inputs, median([s + w for s, w in zip(starts, warms)])


def stream_live(ctx: Ctx) -> tuple[dict, int, int]:
    from flight_events_flink_job_spark.streaming.job import make_fanout_batch

    n_live = int(ctx.args.seconds * LIVE_FILES_PER_S)
    n_files = n_live + BURSTS * BURST_FILES
    interval = 1.0 / LIVE_FILES_PER_S
    events = make_events(ctx.rng_events, 1, n_files * LIVE_EVENTS_PER_FILE)
    w = ctx.work

    def warmup(spark, d):
        q = start_live_query(
            spark, f"{d}/src", f"{d}/wh", f"{d}/ckpt",
            make_fanout_batch(f"{d}/wh"), availableNow=True,
        )
        q.awaitTermination()

    contents, setup_s = ctx.setup(events, LIVE_EVENTS_PER_FILE, LIVE_WARM_FILES, warmup)
    spark = ctx.spark
    names = stage_files(contents, f"{w}/staged")
    live = names[:n_live]
    bursts = [names[k : k + BURST_FILES] for k in range(n_live, n_files, BURST_FILES)]
    src, wh, ckpt = f"{w}/src", f"{w}/wh", f"{w}/ckpt"
    log_dir = f"{ckpt}/sources/0"
    os.makedirs(src)

    counter, fan_s = Counted(ctx.trace), []
    fanout = make_fanout_batch(wh)
    if ctx.trace:
        fanout = traced_fanout(ctx, fanout, counter, fan_s)
    query = start_live_query(
        spark, src, wh, ckpt, fanout, processingTime="0 seconds"
    )

    # Open loop: file i is due at t_start + i * interval, whatever the
    # stream is doing; one generator thread moves it into place.
    t_start = time.time() + 1.0
    dues = [t_start + i * interval for i in range(n_live)]
    drops: list[float] = []

    def generate():
        for name, due in zip(live, dues):
            wait = due - time.time()
            if wait > 0:
                time.sleep(wait)
            os.rename(f"{w}/staged/{name}", f"{src}/{name}")
            drops.append(time.time())

    gen = threading.Thread(target=generate, name="generator")
    progress: dict[int, dict] = {}
    commit_t: dict[int, float] = {}
    batch_of: dict[str, int] = {}

    def poll():
        for p in query.recentProgress:
            progress[p["batchId"]] = p
        commits = f"{ckpt}/commits"
        for f in os.listdir(commits) if os.path.isdir(commits) else []:
            if f.isdigit() and int(f) not in commit_t:
                commit_t[int(f)] = os.stat(f"{ckpt}/commits/{f}").st_mtime

    def planned(files) -> bool:
        if os.path.isdir(log_dir):
            batch_of.update(file_batches(log_dir))
        return all(n in batch_of for n in files)

    def committed(files) -> bool:
        poll()
        return planned(files) and all(batch_of[n] in commit_t for n in files)

    def wait_for(cond, step: float) -> bool:
        deadline = time.time() + DRAIN_TIMEOUT_S
        while not cond():
            if time.time() > deadline:
                return False
            time.sleep(step)
        return True

    with ctx.tracer.span("sources.generator"):
        gen.start()
        try:
            while gen.is_alive():
                poll()
                time.sleep(0.25)
        finally:
            gen.join()
    # Closed-loop catch-up: a burst is dropped once the batch that reads
    # the files before it has been planned. That batch is still running,
    # so the next one starts, full, as soon as it commits.
    with ctx.tracer.span("sources.catch_up"):
        before = live
        for burst in bursts:
            if not wait_for(lambda: planned(before), 0.02):
                break
            for name in burst:
                os.rename(f"{w}/staged/{name}", f"{src}/{name}")
            before = burst
    wait_for(lambda: committed(names), 0.25)
    query.stop()
    poll()
    log("stream stopped")

    done = {n for n in names if n in batch_of and batch_of[n] in commit_t}
    lat = [commit_t[batch_of[n]] - due for n, due in zip(live, dues) if n in done]
    ctx.samples = lat
    data = with_data([progress[b] for b in sorted(progress)])
    live_batches = {batch_of[n] for n in live if n in batch_of}
    burst_batches = {batch_of[n] for b in bursts for n in b if n in batch_of}
    sl = stream_layer([p for p in data if p["batchId"] in live_batches])
    committed_t = sorted(commit_t[batch_of[n]] for n in live if n in done)
    backlog = max(
        (i + 1) - sum(1 for c in committed_t if c <= d) for i, d in enumerate(drops)
    )
    ctx.layer.update(sl)
    ctx.layer.update(parse_layer(data))
    ctx.layer.update(
        {
            "sources.files": n_files,
            "sources.events": len(events),
            "sources.backlog_max_files": backlog,
            "sources.gen_late_max_s": max(d - due for d, due in zip(drops, dues)),
        }
    )
    ctx.fixed = ["sources.files", "sources.events"]
    e2e = {
        "setup_s": setup_s,
        "latency_p50_s": percentile(lat, 0.5),
        "latency_p75_s": percentile(lat, 0.75),
        "events_per_s": rows_per_s([p for p in data if p["batchId"] in burst_batches]),
    }
    ctx.layer["_catch_up"] = [
        (p["numInputRows"], p["durationMs"]["triggerExecution"])
        for p in data
        if p["batchId"] in burst_batches
    ]

    with ctx.tracer.span("check.warehouse"):
        ctx.checks += check_warehouse(spark, events, wh)
    log("checked")
    if ctx.trace:
        layer_job(ctx, counter, fan_s)
        lat_by, serve_counts = {}, Counted(True)
        plan = [(k, None) for k in READ_KINDS[:-1]] + [
            ("range", range_key(EVENT_TYPES[0], 0))
        ]
        for kind, param in plan:
            with ctx.tracer.span(f"serve.{kind}"):
                t0 = time.perf_counter()
                serve_counts(spark, lambda: serving_read(spark, wh, kind, param))
                lat_by.setdefault(kind, []).append(time.perf_counter() - t0)
        ctx.layer.update(serve_layer(lat_by, serve_counts, wh))
        per_batch = max(1, round(sl["streaming.rows_per_batch_p50"] / LIVE_EVENTS_PER_FILE))
        ctx.layer.update(
            sink_probes(ctx, spark, "".join(contents[:per_batch]).splitlines(), f"{w}/probe")
        )
        ctx.layer.update(warehouse_size(wh))
        ctx.layer.update(query_probe(ctx, spark, f"{w}/tables"))
    return e2e, n_files, n_files - len(done)


def layer_job(ctx: Ctx, counter: Counted, fan_s: list[float]) -> None:
    ctx.layer.update(
        {
            "job.fanout_s_p50": median(fan_s),
            "job.jobs_per_batch": median([c[0] for c in counter.samples]),
            "job.stages_per_batch": median([c[1] for c in counter.samples]),
            "job.tasks_per_batch": median([c[2] for c in counter.samples]),
        }
    )


def backfill_serve(ctx: Ctx) -> tuple[dict, int, int]:
    from flight_events_flink_job_spark.streaming import job

    events = make_events(ctx.rng_events, 1, BACKLOG_FILES * BACKLOG_EVENTS_PER_FILE)
    plan = iter(read_plan(ctx.rng_reads, PLAN_BLOCKS))
    w = ctx.work

    def warmup(spark, d):
        job.run_file_stream(
            spark, f"{d}/src", f"{d}/wh", f"{d}/ckpt",
            max_files_per_trigger=MAX_FILES_PER_TRIGGER,
        )

    # One warm-up batch shaped like a measured one.
    contents, setup_s = ctx.setup(
        events, BACKLOG_EVENTS_PER_FILE, MAX_FILES_PER_TRIGGER, warmup
    )
    spark = ctx.spark
    src, wh, ckpt = f"{w}/src", f"{w}/wh", f"{w}/ckpt"
    names = stage_files(contents, f"{w}/staged")
    os.makedirs(src)

    counter, fan_s = Counted(ctx.trace), []
    make_fanout = job.make_fanout_batch
    if ctx.trace:
        job.make_fanout_batch = lambda wh_dir, **kw: traced_fanout(
            ctx, make_fanout(wh_dir, **kw), counter, fan_s
        )
    drain_s: list[float] = []
    data: list[dict] = []
    lat_by: dict[str, list[float]] = {}
    lat: list[float] = []
    kinds: list[str] = []
    failed = 0
    serve_counts = Counted(ctx.trace)
    block = len(READ_KINDS)
    # CYCLES x (stage the next CYCLE_FILES files, drain them with
    # run_file_stream on the same checkpoint, serve reads against the
    # warehouse so far). Each cycle's reads are checked before the next
    # drain, against the events drained so far.
    try:
        for cycle in range(CYCLES):
            for name in names[cycle * CYCLE_FILES : (cycle + 1) * CYCLE_FILES]:
                os.rename(f"{w}/staged/{name}", f"{src}/{name}")
            t0 = time.perf_counter()
            with ctx.tracer.span("streaming.run_file_stream", cycle=cycle):
                query = job.run_file_stream(
                    spark, src, wh, ckpt, max_files_per_trigger=MAX_FILES_PER_TRIGGER
                )
            drain_s.append(time.perf_counter() - t0)
            data += with_data(query.recentProgress)

            first: dict = {}
            if cycle == 0:
                # One untimed read of each kind, so no timed read is the
                # first of its kind in this JVM.
                with ctx.tracer.span("serve.warm"):
                    for kind, param in [next(plan) for _ in range(block)]:
                        first[(kind, param)] = serving_read(spark, wh, kind, param)
            # Closed loop, one client: READ_ROUNDS blocks of one read of
            # each kind, and more blocks until the cycle has lasted its
            # share of --seconds.
            n = 0
            while n < READ_ROUNDS * block or time.perf_counter() - t0 < ctx.args.seconds / CYCLES:
                for kind, param in [next(plan) for _ in range(block)]:
                    with ctx.tracer.span(f"serve.{kind}"):
                        t1 = time.perf_counter()
                        try:
                            res = serve_counts(
                                spark, lambda: serving_read(spark, wh, kind, param)
                            )
                        except Exception:
                            traceback.print_exc()
                            failed += 1
                            continue
                        dt = time.perf_counter() - t1
                    lat.append(dt)
                    kinds.append(kind)
                    lat_by.setdefault(kind, []).append(dt)
                    first.setdefault((kind, param), res)
                n += block
            with ctx.tracer.span("check.reads", cycle=cycle):
                drained = events.iloc[: (cycle + 1) * CYCLE_FILES * BACKLOG_EVENTS_PER_FILE]
                ctx.checks += check_reads(drained, wh, first)
    finally:
        job.make_fanout_batch = make_fanout
    ctx.samples = lat
    ctx.layer["_read_kinds"] = kinds
    ctx.layer["_drain_s"] = drain_s
    log(f"drains {[round(d, 2) for d in drain_s]} s, {len(lat)} reads")

    ctx.layer.update(stream_layer(data))
    ctx.layer.update(parse_layer(data))
    # Each cycle stages its files before its drain starts: these are
    # fixed by the workload, not measured.
    ctx.layer.update(
        {
            "sources.files": BACKLOG_FILES,
            "sources.events": len(events),
            "sources.backlog_max_files": CYCLE_FILES,
            "sources.gen_late_max_s": 0.0,
        }
    )
    ctx.fixed = [
        "sources.files",
        "sources.events",
        "sources.backlog_max_files",
        "sources.gen_late_max_s",
    ]
    e2e = {
        "setup_s": setup_s,
        "latency_p50_s": percentile(lat, 0.5),
        "latency_p75_s": percentile(lat, 0.75),
        "events_per_s": median([CYCLE_FILES * BACKLOG_EVENTS_PER_FILE / d for d in drain_s]),
    }

    with ctx.tracer.span("check.warehouse"):
        ctx.checks += check_warehouse(spark, events, wh)
    log("checked")
    if ctx.trace:
        layer_job(ctx, counter, fan_s)
        ctx.layer.update(serve_layer(lat_by, serve_counts, wh))
        lines = "".join(contents[:MAX_FILES_PER_TRIGGER]).splitlines()
        ctx.layer.update(sink_probes(ctx, spark, lines, f"{w}/probe"))
        ctx.layer.update(warehouse_size(wh))
        ctx.layer.update(query_probe(ctx, spark, f"{w}/tables"))
    return e2e, 1 + len(lat) + failed, failed


WORKLOADS = {"stream_live": stream_live, "backfill_serve": backfill_serve}


# ---------------------------------------------------------------------------
# Entry point
# ---------------------------------------------------------------------------


def shutdown(ctx: Ctx | None) -> None:
    """Stop every query, the SparkContext and the JVM, and wait for it."""
    from pyspark import SparkContext

    if ctx is not None and ctx.spark is not None:
        for q in ctx.spark.streams.active:
            q.stop()
        ctx.spark.stop()
    gw = SparkContext._gateway
    if gw is None:
        return
    proc = getattr(gw, "proc", None)
    try:
        gw.shutdown()
    except Exception:
        pass
    if proc is not None:
        try:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait()


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    if not os.path.isdir(os.path.join(ROOT, PACKAGE)):
        log(f"program package {PACKAGE}/ not found next to perfbench/")
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)

    work = os.path.join(ROOT, ".perfbench_work", f"{args.workload}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    os.makedirs(os.path.join(work, "tmp"))
    # Everything Spark, the JVM and Python workers write stays in `work`.
    os.environ["TZ"] = "UTC"
    time.tzset()
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    sys.path.insert(0, ROOT)
    sys.path.insert(0, os.path.join(ROOT, "tools"))

    ctx = None
    try:
        ctx = Ctx(args, work)
        t0 = time.perf_counter()
        e2e, attempted, failed = WORKLOADS[args.workload](ctx)
        ctx.layer["session.jvm_peak_rss_mb"] = jvm_peak_rss_mb(ctx.spark)
        ctx.layer["latency.samples"] = len(ctx.samples)
        wall = time.perf_counter() - t0
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        try:
            shutdown(ctx)
        finally:
            shutil.rmtree(work, ignore_errors=True)
        log("shut down")

    bad = [(name, errs) for name, errs in ctx.checks if errs]
    for name, errs in bad:
        log(f"check FAILED {name}: {errs[:4]}")
    attempted += len(ctx.checks)
    failed += len(bad)
    kind = "per_layer" if ctx.trace else "end_to_end"
    values = ctx.layer if ctx.trace else e2e
    units = {m["name"]: m["unit"] for m in spec[kind]}
    missing = [n for n in units if values.get(n) is None]
    if missing:
        log(f"no value for {missing} (too few samples?)")
        return 1
    record = {
        "workload": args.workload,
        "seed": args.seed,
        "seconds": args.seconds,
        "trace": args.trace,
        "wall_s": wall,
        "end_to_end": e2e,
        "per_layer": {k: v for k, v in ctx.layer.items() if not k.startswith("_")},
        "fixed_inputs": ctx.fixed,
        "checks": {name: errs for name, errs in ctx.checks},
        "latencies": ctx.samples,
        "trigger_ms": ctx.layer.get("_trigger_ms"),
        "catch_up_rows_ms": ctx.layer.get("_catch_up"),
        "read_kinds": ctx.layer.get("_read_kinds"),
        "drain_s": ctx.layer.get("_drain_s"),
        "spans": ctx.tracer.spans,
        "self_s": ctx.tracer.self_times(),
    }
    out_dir = os.path.join(ROOT, ".perfbench_out")
    os.makedirs(out_dir, exist_ok=True)
    with open(
        os.path.join(out_dir, f"{args.workload}-s{args.seed}-t{args.trace}.json"), "w"
    ) as f:
        json.dump(record, f, indent=1, default=str)
    log(f"{args.workload} seed={args.seed}: {json.dumps(e2e)} samples={len(ctx.samples)}")
    print(
        json.dumps(
            {
                "correct": not bad and failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {
                    n: {"value": values[n], "unit": u} for n, u in units.items()
                },
            }
        ),
        flush=True,
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
