"""Driver-checked streaming query: the full file-stream round trip.

Registers ``streaming_airline_stats``: stage the events as JSON text
parts, drain them through the foreachBatch fan-out job (multiple
micro-batches), then final-merge the persisted partial aggregates. The
oracle is the SAME SQL as the batch ``airline_delay_stats`` — the
batch/stream parity contract (SURVEY.md §7 design stance) checked by
the driver itself, not just pytest.
"""

from __future__ import annotations

import tempfile
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from ..schemas import FLIGHT_SCHEMA
from ..sources.fixtures import load_table
from ..sources.flight_adapter import FLIGHTS_CTE
from ..streaming.job import (
    merge_airline_stats,
    partial_airline_stats,
    partial_route_stats,
    run_file_stream,
    run_file_stream_jdbc,
    stage_flight_event_json,
    streaming_airline_stats_update,
    streaming_datagen_stats_watermarked,
)
from ..streaming.dedup import drain_deduped_from_staged
from ..streaming.enrichment import drain_enriched_from_staged
from ..streaming.sessions import drain_sessions_from_staged
from ..streaming.joins import drain_conversions_from_staged
from ..streaming.stateful import user_activity_from_staged
from .registry import ORACLES, register

# Streaming round trips stage files + run a query per call; exclude from
# the timing harness (bench.py) where they'd measure tempdir IO, not
# the engine. The driver's correctness gate still runs them.
BENCH_SKIP = {
    "streaming_airline_stats",
    "stream_update_mode_stats",
    "stream_watermark_eviction",
    "airline_stats_jdbc",
    "stream_jdbc_serving",
    "user_activity_state",
    "user_activity_state_v2",
    "stream_interval_join",
    "stream_dedup_redelivery",
    "stream_session_windows",
    "stream_static_enrichment",
    "stream_chained_agg",
    "stream_outer_interval_join",
    "airline_stats_csv",
    "airline_stats_orc",
    "airline_stats_json",
    "stream_datagen_flights",
    "stream_topk_routes",
    "airline_stats_compacted",
    "segment_revenue_bucketed",
    "orders_zordered",
    "stream_similarity_radius",
    "stream_ivfpq_serving",
}


def _stage_events(
    spark: SparkSession, sf_dir: str, prefix: str, with_event_id: bool = False
) -> tuple[str, str, DataFrame]:
    """Stage the events fixture as 4 parquet parts under a fresh temp
    dir: (staging dir, checkpoint dir, the staged frame). The columns
    are (event_id,) user_id, ts, event_type, value."""
    base = tempfile.mkdtemp(prefix=prefix)
    cols = ["user_id", "ts", "event_type", "value"]
    if with_event_id:
        cols.insert(0, "event_id")
    ev = load_table(spark, sf_dir, "events").select(*cols).repartition(4)
    ev.write.mode("overwrite").parquet(f"{base}/in")
    return f"{base}/in", f"{base}/ckpt", ev


def _stage_flight_json(spark: SparkSession, sf_dir: str, prefix: str) -> str:
    """Stage the events fixture as 4 Kafka-shaped JSON text parts in
    ``{base}/in`` under a fresh temp dir ``base``; return ``base``."""
    base = tempfile.mkdtemp(prefix=prefix)
    stage_flight_event_json(spark, sf_dir, f"{base}/in", parts=4)
    return base


def _read_partials(spark: SparkSession, path: str, partial: Callable) -> DataFrame:
    """A fan-out partials table, read under the schema of ``partial``
    (a ``partial_*_stats``) over an empty FLIGHT_SCHEMA frame: no
    footer-inference job; partition discovery still adds ``epoch``."""
    schema = partial(spark.createDataFrame([], FLIGHT_SCHEMA)).schema
    return spark.read.schema(schema).parquet(path)


@register("streaming_airline_stats", oracle=ORACLES["airline_delay_stats"])
def q_streaming_airline_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Batch/stream parity, driver-checked: availableNow drain of the
    staged event stream in 2-file micro-batches -> partials -> merge.
    Must hash-equal the batch oracle exactly."""
    base = _stage_flight_json(spark, sf_dir, "stream_roundtrip_")
    run_file_stream(
        spark, f"{base}/in", f"{base}/wh", f"{base}/ckpt", max_files_per_trigger=2
    )
    return merge_airline_stats(
        _read_partials(
            spark, f"{base}/wh/airline_delay_stats_partial", partial_airline_stats
        )
    )


@register("stream_jdbc_serving", oracle=ORACLES["airline_delay_stats"])
def q_stream_jdbc_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The reference's full serving topology on a real wire: streamed
    micro-batches -> windowed partial aggregates -> JDBC batch inserts
    (embedded Derby) -> serving-side merge. Must hash-equal the batch
    A1 oracle exactly (streaming/job.py run_file_stream_jdbc)."""
    from ..sources.jdbc import derby_url, read_jdbc_table

    base = _stage_flight_json(spark, sf_dir, "stream_jdbc_")
    url = derby_url(f"{base}/db")
    run_file_stream_jdbc(spark, f"{base}/in", url, f"{base}/ckpt")
    return merge_airline_stats(
        read_jdbc_table(spark, url, "airline_stats_partial")
    )


@register("airline_stats_jdbc", oracle=ORACLES["airline_delay_stats"])
def q_airline_stats_jdbc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 through a REAL JDBC wire (embedded Derby, in-process): the A1
    aggregate is written with executor-parallel batched inserts and read
    back through a bounds-partitioned parallel JDBC scan; the round trip
    must hash-equal the batch A1 oracle exactly (sources/jdbc.py — the
    reference's ClickHouse-JDBC serving path, readme.txt:41-49)."""
    from ..operators.aggregates import airline_stats
    from ..sources.flight_adapter import shared_flights
    from ..sources.jdbc import derby_url, read_jdbc_table, write_jdbc_table

    base = tempfile.mkdtemp(prefix="jdbc_serving_")
    url = derby_url(f"{base}/db")
    stats = airline_stats(shared_flights(spark, sf_dir))
    write_jdbc_table(
        stats, url, "airline_delay_stats",
        column_types="airline VARCHAR(64)",
    )
    out = read_jdbc_table(
        spark, url, "airline_delay_stats",
        partition_column="total_flights",
        lower_bound=0, upper_bound=1_000_000, num_partitions=4,
    )
    return out.select(stats.columns)


@register(
    "stream_watermark_eviction",
    oracle="""
    WITH ids AS (SELECT unnest(generate_series(0, 4999)) AS i),
    f AS (
        SELECT 'AL' || CAST(i % 7 AS VARCHAR) AS airline,
               TIMESTAMP '1970-01-01' + to_seconds(1704067200 + i * 97)
                   AS scheduled_time,
               CAST(CASE WHEN i % 3 = 0
                         THEN CASE WHEN i % 41 - 8 > 0 THEN 1 ELSE 0 END
                         ELSE CASE WHEN (((i - i % 3) / 3) % 3) IN (0, 1)
                                   THEN 1 ELSE 0 END
                    END AS INTEGER) AS is_delayed,
               CAST(i % 41 - 8 AS BIGINT) AS delay_minutes
        FROM ids
    )
    SELECT airline,
           count(*) AS total_flights,
           CAST(sum(CASE WHEN is_delayed = 1 THEN 1 ELSE 0 END) AS BIGINT)
               AS delayed_flights,
           round(avg(delay_minutes), 4) AS avg_delay_minutes,
           round(sum(CASE WHEN is_delayed = 1 THEN 1 ELSE 0 END) * 100.0
                 / count(*), 4) AS delay_rate,
           TIMESTAMP '1970-01-01' + to_seconds(
               CAST(floor(epoch(scheduled_time) / 120) * 120 AS BIGINT))
               AS window_start,
           TIMESTAMP '1970-01-01' + to_seconds(
               CAST(floor(epoch(scheduled_time) / 120) * 120 AS BIGINT))
               + INTERVAL 2 MINUTE AS window_end
    FROM f
    GROUP BY airline, window_start
    """,
)
def q_stream_watermark_eviction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WATERMARK-EVICTION parity, driver-checked: update mode + RocksDB
    + a 30-min watermark over the datagen STREAM (monotone event time,
    so eviction drops nothing and windows leave state while the query
    runs — the configuration the round-6 endurance soak measures flat);
    the changelog's last-emission snapshot must hash-equal the batch
    window aggregate over the same generated rows (streaming/job.py
    streaming_datagen_stats_watermarked)."""
    base = tempfile.mkdtemp(prefix="stream_wm_")
    return streaming_datagen_stats_watermarked(spark, f"{base}/ckpt")


@register("stream_update_mode_stats", oracle=ORACLES["airline_delay_stats"])
def q_stream_update_mode_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UPDATE-output-mode + RocksDB-state-store parity, driver-checked:
    the changelog drain's last-emission snapshot per (airline, window)
    must hash-equal the batch A1 oracle exactly (streaming/job.py
    streaming_airline_stats_update — §2.4 config surface the append
    demos don't cover)."""
    base = _stage_flight_json(spark, sf_dir, "stream_update_")
    return streaming_airline_stats_update(spark, f"{base}/in", f"{base}/ckpt")


@register(
    "user_activity_state",
    oracle="""
    SELECT user_id,
           count(*) AS n_events,
           ROUND(SUM(value), 2) AS sum_value,
           MAX(ts) AS last_ts
    FROM events
    GROUP BY user_id
    """,
)
def q_user_activity_state(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom stateful streaming (applyInPandasWithState), driver-checked:
    the per-user tracker's FINAL state after an availableNow drain over
    rate-limited micro-batches must equal the batch aggregate — the
    snapshot keeps only the batch-order-independent fields, so the SQL
    oracle is exact (streak semantics are pytest-covered)."""
    staging, ckpt, _ = _stage_events(spark, sf_dir, "stateful_roundtrip_")
    return user_activity_from_staged(spark, staging, ckpt, files_per_trigger=2)


@register("user_activity_state_v2", oracle=ORACLES["user_activity_state"])
def q_user_activity_state_v2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The SAME per-user stateful tracker on Spark 4's
    transformWithStateInPandas API (round-9 VERDICT item 7): typed
    ValueState per key over the RocksDB store, availableNow drain in
    rate-limited micro-batches, final-state snapshot — must hash-equal
    the batch aggregate exactly like the v1 applyInPandasWithState
    twin above. The driver now hard-checks BOTH arbitrary-state APIs;
    emission-level v1-vs-v2 equality stays pytest-covered
    (streaming/stateful.py UserActivityProcessor)."""
    from ..streaming.stateful import user_activity_from_staged_v2

    staging, ckpt, _ = _stage_events(spark, sf_dir, "stateful_v2_roundtrip_")
    return user_activity_from_staged_v2(
        spark, staging, ckpt, files_per_trigger=2
    )


@register(
    "stream_interval_join",
    oracle="""
    SELECT a.user_id,
           a.event_id AS signup_event,
           b.event_id AS purchase_event,
           a.ts AS signup_ts,
           b.ts AS purchase_ts,
           b.value AS purchase_value
    FROM events a JOIN events b
      ON a.user_id = b.user_id
     AND a.event_type = 'signup' AND b.event_type = 'purchase'
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 6 HOUR
    """,
)
def q_stream_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join (Flink interval-join analogue),
    driver-checked: signup->purchase conversion pairs from a real
    watermarked stream-stream join over micro-batches must equal the
    batch range join exactly (over-wide watermark -> lossless drain;
    see streaming/joins.py determinism contract)."""
    staging, ckpt, _ = _stage_events(
        spark, sf_dir, "stream_join_", with_event_id=True
    )
    return drain_conversions_from_staged(spark, staging, ckpt)


@register(
    "stream_dedup_redelivery",
    oracle="""
    SELECT event_id, user_id, ts, event_type, value FROM events
    """,
)
def q_stream_dedup_redelivery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming exactly-once dedup, driver-checked: every event staged
    TWICE (redelivery twin-files in different micro-batches), drained
    through dropDuplicatesWithinWatermark -> exactly the batch DISTINCT
    (see streaming/dedup.py determinism contract)."""
    staging, ckpt, ev = _stage_events(
        spark, sf_dir, "stream_dedup_", with_event_id=True
    )
    # Redelivery: a second full copy, as distinct files the rate limit
    # pushes into later micro-batches.
    ev.write.mode("append").parquet(staging)
    return drain_deduped_from_staged(spark, staging, ckpt)


@register("stream_session_windows", oracle=ORACLES["user_sessions"])
def q_stream_session_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Native session_window over a real micro-batched stream,
    driver-checked against the SAME gaps-and-islands oracle as the
    batch user_sessions — batch/stream parity for sessionization
    (complete-mode lossless drain; see streaming/sessions.py)."""
    staging, ckpt, _ = _stage_events(spark, sf_dir, "stream_sessions_")
    return drain_sessions_from_staged(spark, staging, ckpt)


@register("stream_static_enrichment", oracle=ORACLES["user_event_enrichment"])
def q_stream_static_enrichment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-static broadcast join, driver-checked against the batch
    enrichment oracle: each micro-batch joins the static customer
    dimension with NO join state, then the complete-mode lossless drain
    aggregates per (segment, type) — batch/stream parity for the
    enrichment join the reference implies but never implements."""
    staging, ckpt, _ = _stage_events(spark, sf_dir, "stream_enrich_")
    return drain_enriched_from_staged(
        spark, staging, ckpt, load_table(spark, sf_dir, "customer")
    )


@register(
    "stream_chained_agg",
    oracle="""
    WITH s1 AS (
        SELECT event_type,
               CAST(floor(epoch(ts) / 300) * 300 AS BIGINT) AS b5,
               count(*) AS n5,
               round(sum(CAST(value AS DECIMAL(27,10))), 4) AS s5
        FROM events GROUP BY 1, 2
    )
    SELECT TIMESTAMP '1970-01-01'
               + to_seconds(CAST(floor(b5 / 3600) * 3600 AS BIGINT))
               AS window_start,
           event_type,
           CAST(sum(n5) AS BIGINT) AS n_events,
           count(*) AS n_windows,
           max(n5) AS max_5m_events,
           CAST(round(sum(s5), 4) AS DOUBLE) AS sum_value
    FROM s1 GROUP BY 1, 2
    """,
)
def q_stream_chained_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Chained stateful streaming (multiple stateful operators, Spark
    3.4+): 5-minute windowed aggregate re-rolled to hourly inside ONE
    append-mode streaming query, driver-checked against the batch
    two-tier SQL — losslessness engineered via time-ordered staging +
    a watermark sentinel (streaming/chained.py contract)."""
    from ..streaming.chained import (
        drain_chained_from_staged,
        stage_time_ordered,
    )

    base = tempfile.mkdtemp(prefix="stream_chained_")
    staging, ckpt = f"{base}/in", f"{base}/ckpt"
    stage_time_ordered(
        spark, load_table(spark, sf_dir, "events"), staging, parts=4
    )
    return drain_chained_from_staged(spark, staging, ckpt)


@register(
    "stream_outer_interval_join",
    oracle="""
    SELECT a.user_id,
           a.event_id AS signup_event,
           a.ts AS signup_ts,
           b.event_id AS purchase_event,
           b.ts AS purchase_ts,
           b.value AS purchase_value
    FROM events a LEFT JOIN events b
      ON a.user_id = b.user_id
     AND b.event_type = 'purchase'
     AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL 6 HOUR
    WHERE a.event_type = 'signup'
    """,
)
def q_stream_outer_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join, driver-checked: every
    signup with its 6-hour purchases OR one null-padded row once the
    watermark proves no match can arrive — flushed losslessly via
    time-ordered staging + per-side sentinels (streaming/outer_join.py
    contract). Must equal the batch LEFT range join exactly."""
    from ..streaming.outer_join import (
        drain_left_join_from_staged,
        stage_join_input,
    )

    base = tempfile.mkdtemp(prefix="stream_louter_")
    staging, ckpt = f"{base}/in", f"{base}/ckpt"
    stage_join_input(spark, load_table(spark, sf_dir, "events"), staging)
    return drain_left_join_from_staged(spark, staging, ckpt)


@register("airline_stats_csv", oracle=ORACLES["airline_delay_stats"])
def q_airline_stats_csv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 through CSV: the A1 aggregate serialized to headered CSV and
    read back under the enforced original schema must hash-equal the
    batch A1 oracle exactly — the interchange-format serving twin
    (streaming/sinks.py csv_roundtrip)."""
    from ..operators.aggregates import airline_stats
    from ..sources.flight_adapter import shared_flights
    from ..streaming.sinks import csv_roundtrip

    base = tempfile.mkdtemp(prefix="csv_serving_")
    return csv_roundtrip(
        airline_stats(shared_flights(spark, sf_dir)), f"{base}/csv"
    )


@register(
    "datagen_flights",
    oracle="""
    WITH ids AS (SELECT unnest(generate_series(0, 4999)) AS i)
    SELECT 'G' || CAST(i AS VARCHAR) AS flight_id,
           'FN' || CAST(i % 100 AS VARCHAR) AS flight_number,
           'AL' || CAST(i % 7 AS VARCHAR) AS airline,
           'AP' || CAST(i % 11 AS VARCHAR) AS origin,
           'AP' || CAST((i * 7 + 3) % 11 AS VARCHAR) AS destination,
           TIMESTAMP '1970-01-01' + to_seconds(1704067200 + i * 97)
               AS scheduled_time,
           TIMESTAMP '1970-01-01'
               + to_seconds(1704067200 + i * 97 + (i % 41 - 8) * 60)
               AS actual_time,
           CAST(CASE WHEN i % 3 = 0
                     THEN CASE WHEN i % 41 - 8 > 0 THEN 1 ELSE 0 END
                     ELSE CASE WHEN (((i - i % 3) / 3) % 3) IN (0, 1)
                               THEN 1 ELSE 0 END
                END AS INTEGER) AS is_delayed,
           'U' || CAST(i % 500 AS VARCHAR) AS user_id,
           CAST(i % 41 - 8 AS BIGINT) AS delay_minutes
    FROM ids
    """,
)
def q_datagen_flights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom Python DataSource (Spark 4 API; the Flink ``datagen``
    connector analogue): 5000 deterministic JSON flight events
    generated in partitioned id ranges with NO backing files, pushed
    through the REAL P1-P4 parse pipeline; the oracle regenerates the
    identical corpus arithmetically from generate_series
    (sources/datagen.py)."""
    from ..operators.parse import parse_flight_events, valid_flights
    from ..sources.datagen import GEN_FORMAT, register_datagen

    register_datagen(spark)
    raw = spark.read.format(GEN_FORMAT).option("rows", 5000).load()
    return valid_flights(parse_flight_events(raw))


@register("stream_datagen_flights", oracle=ORACLES["datagen_flights"])
def q_stream_datagen_flights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Python DataSource as a STREAMING source
    (DataSourceStreamReader, Spark 4): offset-checkpointed micro-
    batches of generated payloads through the parse pipeline into an
    exactly-once parquet sink — must hash-equal the batch datagen
    oracle exactly (sources/datagen.py drain contract)."""
    from ..sources.datagen import drain_datagen_stream

    base = tempfile.mkdtemp(prefix="stream_datagen_")
    return drain_datagen_stream(spark, f"{base}/ckpt")


@register("airline_stats_orc", oracle=ORACLES["airline_delay_stats"])
def q_airline_stats_orc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 through ORC: the A1 aggregate written as ORC stripes and read
    back under the enforced schema must hash-equal the batch A1 oracle
    exactly — the Hive-lineage columnar serving twin
    (streaming/sinks.py orc_roundtrip)."""
    from ..operators.aggregates import airline_stats
    from ..sources.flight_adapter import shared_flights
    from ..streaming.sinks import orc_roundtrip

    base = tempfile.mkdtemp(prefix="orc_serving_")
    return orc_roundtrip(
        airline_stats(shared_flights(spark, sf_dir)), f"{base}/orc"
    )


@register("airline_stats_json", oracle=ORACLES["airline_delay_stats"])
def q_airline_stats_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4 through JSON-lines: the A1 aggregate serialized as JSON text
    and read back under the enforced original schema must hash-equal
    the batch A1 oracle exactly — the text-interchange serving twin
    that completes the format matrix beside Parquet/ORC/CSV/JDBC
    (streaming/sinks.py json_roundtrip)."""
    from ..operators.aggregates import airline_stats
    from ..sources.flight_adapter import shared_flights
    from ..streaming.sinks import json_roundtrip

    base = tempfile.mkdtemp(prefix="json_serving_")
    return json_roundtrip(
        airline_stats(shared_flights(spark, sf_dir)), f"{base}/json"
    )


@register(
    "stream_topk_routes",
    oracle=f"""
    WITH {FLIGHTS_CTE}
    SELECT origin || '-' || destination AS route,
           count(*) AS total_flights,
           CAST(sum(delay_minutes) AS BIGINT) AS total_delay_minutes
    FROM flights
    GROUP BY origin, destination
    ORDER BY total_delay_minutes DESC, route
    LIMIT 10
    """,
)
def q_stream_topk_routes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming leaderboard: drain the staged event stream into
    per-(route, window) mergeable partials, then serve the global
    top-10 routes by accumulated delay minutes from the partials table
    alone — must hash-equal the batch leaderboard over the raw events
    (streaming/job.py topk_routes_from_partials)."""
    from ..streaming.job import run_file_stream, topk_routes_from_partials

    base = _stage_flight_json(spark, sf_dir, "stream_topk_")
    run_file_stream(
        spark, f"{base}/in", f"{base}/wh", f"{base}/ckpt", max_files_per_trigger=2
    )
    return topk_routes_from_partials(
        _read_partials(spark, f"{base}/wh/route_delay_stats_partial", partial_route_stats)
    )


@register("airline_stats_compacted", oracle=ORACLES["airline_delay_stats"])
def q_airline_stats_compacted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maintenance path, content-preserving by contract: drain the
    stream into many small per-micro-batch partial files, COMPACT the
    partials table into right-sized files (streaming/sinks.py
    compact_table), then serve the merge from the compacted copy — must
    still hash-equal the batch A1 oracle exactly."""
    from ..streaming.sinks import compact_table

    base = _stage_flight_json(spark, sf_dir, "compact_serving_")
    run_file_stream(
        spark, f"{base}/in", f"{base}/wh", f"{base}/ckpt", max_files_per_trigger=1
    )
    compacted = compact_table(
        spark,
        f"{base}/wh/airline_delay_stats_partial",
        f"{base}/compacted",
        sort_cols=["airline", "window_start"],
    )
    return merge_airline_stats(compacted)


@register(
    "orders_zordered",
    oracle="""
    SELECT o_orderpriority,
           count(*) AS n_orders,
           CAST(round(sum(CAST(o_totalprice AS DECIMAL(27,10))), 2)
                AS DOUBLE) AS total_revenue
    FROM orders
    WHERE o_custkey BETWEEN 100 AND 500
    GROUP BY o_orderpriority
    """,
)
def q_orders_zordered(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order-clustered serving round trip (Delta OPTIMIZE ZORDER BY
    analogue): rewrite orders clustered on the interleaved
    (o_custkey, order epoch-day) Morton key, then serve a
    two-dimension-filtered aggregate THROUGH the clustered copy — must
    hash-equal the plain-orders oracle exactly (the layout pass is
    content-preserving by contract; the pruning payoff is
    pytest-asserted from parquet footer spans in tests/test_streaming.py)."""
    import tempfile

    from pyspark.sql import functions as F

    from ..streaming.sinks import write_zordered_table

    orders = load_table(spark, sf_dir, "orders")
    out = tempfile.mkdtemp(prefix="zorder_serving_") + "/orders_z"
    z = write_zordered_table(
        spark,
        orders,
        out,
        F.col("o_custkey"),
        F.floor(F.unix_timestamp("o_orderdate") / 86400),
    )
    return (
        z.filter(F.col("o_custkey").between(100, 500))
        .groupBy("o_orderpriority")
        .agg(
            F.count("*").alias("n_orders"),
            F.round(
                F.sum(F.col("o_totalprice").cast("decimal(27,10)")), 2
            )
            .cast("double")
            .alias("total_revenue"),
        )
    )


@register("stream_similarity_radius", oracle=ORACLES["similarity_radius"])
def q_stream_similarity_radius(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Continuous vector retrieval: the cosine-radius standing query
    over a real micro-batched embedding stream (stream-static broadcast
    of the 16 probe vectors, stateless append mode, NO state store),
    driver-checked against the SAME oracle as the batch
    similarity_radius — batch/stream parity for vector search
    (streaming/similarity.py)."""
    import pyspark.sql.functions as F

    from ..streaming.similarity import drain_radius_from_staged

    base = tempfile.mkdtemp(prefix="stream_radius_")
    staging, ckpt = f"{base}/in", f"{base}/ckpt"
    embs = load_table(spark, sf_dir, "embeddings")
    embs.repartition(4).write.mode("overwrite").parquet(staging)
    return drain_radius_from_staged(
        spark, staging, ckpt, embs.filter(F.col("vec_id") < 16)
    )


@register("stream_ivfpq_serving", oracle=ORACLES["ivf_pq_topk_residual"])
def q_stream_ivfpq_serving(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-tier batch/stream unification (round-11 VERDICT item 7):
    the residual IVFADC index is built ONCE batch-side (persisted
    cells/codes/codebook, per-corpus cache — the round-12 index/query
    split) and a continuous stream of QUERY vectors is served from it
    in 4 micro-batches with zero per-batch index work. The appended
    union must hash-equal the batch ivf_pq_topk_residual oracle
    exactly (ranking is per q_id; every candidate of a query scores
    inside its own micro-batch against the static persisted corpus
    artifacts). Soak evidence that batches never rebuild:
    bench/stream_ivfpq_soak_r12.json (tools/stream_ivfpq_soak.py)
    (streaming/similarity.drain_ivfpq_queries_from_staged)."""
    import pyspark.sql.functions as F

    from ..streaming.similarity import drain_ivfpq_queries_from_staged
    from .registry_ext import _ivfpq_index_cached

    base = tempfile.mkdtemp(prefix="stream_ivfpq_")
    staging, ckpt = f"{base}/in", f"{base}/ckpt"
    embs = load_table(spark, sf_dir, "embeddings")
    embs.filter(F.col("vec_id") < 16).repartition(4).write.mode(
        "overwrite"
    ).parquet(staging)
    idx = _ivfpq_index_cached(spark, sf_dir, "residual")
    return drain_ivfpq_queries_from_staged(spark, staging, ckpt, idx)
