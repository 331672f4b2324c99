"""Custom Python DataSource: a deterministic flight-event generator —
the Flink ``datagen`` connector analogue, built on Spark 4's Python
DataSource API (pyspark.sql.datasource).

The reference's only source is Kafka (KafkaUtils.java:15-28); a user
of that stack reaches for Flink's datagen connector to smoke-test the
job without a broker. This is that connector for our engine: it
registers as ``spark.read.format("flight_events_gen")`` and emits the
exact JSON payload shape the parser consumes (both delay encodings,
FlightEventAggregator.java:50-58), partitioned into independent id
ranges so generation scales out like any real source.

Determinism is the point: every field derives arithmetically from the
row id, so the DuckDB oracle regenerates the identical corpus from
``generate_series`` and the full parse pipeline (P1-P4) is checkable
end-to-end over a source with NO backing files at all.
"""

from __future__ import annotations

import time

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)
from pyspark.sql.streaming import StreamingQuery
from pyspark.sql.types import StringType, StructField, StructType

GEN_FORMAT = "flight_events_gen"
DEFAULT_ROWS = 5000
N_AIRLINES = 7
N_AIRPORTS = 11
BASE_EPOCH = 1_704_067_200  # 2024-01-01T00:00:00Z


def gen_payload(i: int) -> str:
    """The deterministic JSON payload for row ``i``.

    Field derivations (mirrored literally in the oracle SQL):
    - scheduled = BASE + i*97 seconds; actual = scheduled + (i%41 - 8)
      minutes (negative -> early arrival, Q4 truncation path);
    - rows with i % 3 == 0 carry the boolean ``delayed`` encoding,
      the rest the string ``status`` encoding with case variety
      (Q2 precedence/case-insensitivity paths).
    """
    airline = f"AL{i % N_AIRLINES}"
    origin = f"AP{i % N_AIRPORTS}"
    dest = f"AP{(i * 7 + 3) % N_AIRPORTS}"
    sched = BASE_EPOCH + i * 97
    delay_min = i % 41 - 8
    actual = sched + delay_min * 60
    import datetime as dt

    fmt = lambda e: dt.datetime.fromtimestamp(  # noqa: E731
        e, dt.timezone.utc
    ).strftime("%Y-%m-%dT%H:%M:%S")
    if i % 3 == 0:
        delay_part = f'"delayed":{"true" if delay_min > 0 else "false"}'
    else:
        status = ["DELAYED", "delayed", "ON_TIME"][(i // 3) % 3]
        delay_part = f'"status":"{status}"'
    return (
        f'{{"flightId":"G{i}","flightNumber":"FN{i % 100}",'
        f'"airline":"{airline}","origin":"{origin}","destination":"{dest}",'
        f'"scheduledArrival":"{fmt(sched)}","actualArrival":"{fmt(actual)}",'
        f'{delay_part},"userId":"U{i % 500}"}}'
    )


class _RangePartition(InputPartition):
    def __init__(self, start: int, end: int):
        self.start = start
        self.end = end


class FlightEventsReader(DataSourceReader):
    def __init__(self, options):
        self.n_rows = int(options.get("rows", DEFAULT_ROWS))
        self.n_parts = int(options.get("numPartitions", 8))

    def partitions(self):
        step = max(1, self.n_rows // self.n_parts)
        bounds = list(range(0, self.n_rows, step)) + [self.n_rows]
        return [
            _RangePartition(bounds[i], bounds[i + 1])
            for i in range(len(bounds) - 1)
        ]

    def read(self, partition: _RangePartition):
        for i in range(partition.start, partition.end):
            yield (gen_payload(i),)


class FlightEventsDataSource(DataSource):
    """``spark.read.format("flight_events_gen").option("rows", N)`` —
    value-only JSON strings, the Kafka message shape (KU:25)."""

    @classmethod
    def name(cls) -> str:
        return GEN_FORMAT

    def schema(self) -> StructType:
        return StructType([StructField("value", StringType(), False)])

    def reader(self, schema) -> FlightEventsReader:
        return FlightEventsReader(self.options)


def register_datagen(spark) -> None:
    """Idempotently register the connector on this session."""
    try:
        spark.dataSource.register(FlightEventsDataSource)
    except Exception:
        pass  # already registered on this session


# ---------------------------------------------------------------------------
# Streaming variant: DataSourceStreamReader with offset checkpointing
# ---------------------------------------------------------------------------

class FlightEventsStreamReader(DataSourceStreamReader):
    """Offset-tracked micro-batch reader: offsets are row ids; each
    ``latestOffset`` call advances by ``rowsPerBatch`` until ``rows``
    is exhausted, then holds (the stream goes quiet). Offsets are
    checkpointed by the engine — a restarted query resumes exactly
    where the last commit left off (the exactly-once contract the
    reference's latest-offset Kafka config explicitly lacks,
    KafkaUtils.java:17,23-24)."""

    def __init__(self, options):
        self.n_rows = int(options.get("rows", DEFAULT_ROWS))
        self.per_batch = int(options.get("rowsPerBatch", 1000))
        self.n_parts = int(options.get("numPartitions", 4))
        self._current = 0

    def initialOffset(self):
        return {"id": 0}

    def latestOffset(self):
        self._current = min(self._current + self.per_batch, self.n_rows)
        return {"id": self._current}

    def partitions(self, start, end):
        lo, hi = start["id"], end["id"]
        step = max(1, (hi - lo) // self.n_parts)
        bounds = list(range(lo, hi, step)) + [hi]
        return [
            _RangePartition(bounds[i], bounds[i + 1])
            for i in range(len(bounds) - 1)
        ]

    def read(self, partition: _RangePartition):
        for i in range(partition.start, partition.end):
            yield (gen_payload(i),)

    def commit(self, end):
        pass


def _streamReader(self, schema):
    return FlightEventsStreamReader(self.options)


FlightEventsDataSource.streamReader = _streamReader


def stop_at_rows(query: StreamingQuery, rows: int, timeout_s: float) -> list[dict]:
    """The generator's stop rule: wait until the completed micro-batches'
    ``numInputRows`` reach ``rows`` (progress is posted after a batch
    commits), stop ``query`` on every exit path and return every batch's
    progress in batch order. The generator cannot run availableNow: the
    Python stream reader has no admission control and its
    ``latestOffset`` advances by ``rowsPerBatch`` on each call.
    ``recentProgress`` keeps ~100 batches, so each poll absorbs it by
    batch id. Raises TimeoutError after ``timeout_s``, and the query's
    own error if it fails."""
    seen: dict[int, dict] = {}
    deadline = time.monotonic() + timeout_s
    try:
        while True:
            for p in query.recentProgress:
                seen[p["batchId"]] = p
            n = sum(p["numInputRows"] for p in seen.values())
            if n >= rows:
                return [seen[b] for b in sorted(seen)]
            if time.monotonic() >= deadline:
                raise TimeoutError(
                    f"stream read {n} of {rows} rows in {timeout_s} s"
                )
            if query.awaitTermination(0.2):  # raises the query's error
                raise RuntimeError(f"stream ended after {n} of {rows} rows")
    finally:
        query.stop()


def drain_datagen_stream(
    spark,
    checkpoint_dir: str,
    rows: int = DEFAULT_ROWS,
    rows_per_batch: int = 1000,
    timeout_s: int = 300,
):
    """Run the streaming generator through the real parse pipeline into
    an exactly-once parquet sink until :func:`stop_at_rows`, and read it
    back under the stream's schema. A restarted query would resume from
    the checkpointed offset, not row 0."""
    from ..operators.parse import parse_flight_events, valid_flights
    from ..streaming.roundtrip import read_back

    register_datagen(spark)
    out_dir = f"{checkpoint_dir}_out"
    raw = (
        spark.readStream.format(GEN_FORMAT)
        .option("rows", rows)
        .option("rowsPerBatch", rows_per_batch)
        .load()
    )
    flights = valid_flights(parse_flight_events(raw))
    stop_at_rows(
        flights.writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", checkpoint_dir)
        .outputMode("append")
        .start(),
        rows,
        timeout_s,
    )
    return read_back(spark, out_dir, flights.schema)
