"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we'd set on a real cluster: AQE on
(runtime re-planning, skew-join handling, partition coalescing), UTC
session time zone (oracle comparability + determinism), Arrow enabled
for the few Pandas-UDF code paths, and shuffle partitions sized to the
machine rather than Spark's legacy 200.
"""

from __future__ import annotations

import os
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession

STATE_STORE_PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)


def get_spark(
    app_name: str = "flight-events-spark",
    cpus: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with engine defaults applied."""
    # Must run BEFORE the JVM gateway launches: forked Python workers
    # (incl. the transformWithState state-server worker) inherit the
    # JVM's environment, so the PYTHONPATH extension for the bundled
    # protobuf runtime has to be in place now, not at first use.
    from .protobuf_compat import ensure_protobuf

    ensure_protobuf()
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or os.cpu_count() or 4
    builder = SparkSession.builder
    # Only default to local mode when no master was configured by the
    # deployment: spark-submit conveys --master as the spark.master JVM
    # system property (loaded by SparkConf(loadDefaults=True)), NOT via
    # env vars — env checks alone would clobber a cluster deploy's
    # submitted master (round-2 ADVICE). Env fallbacks kept for shells
    # that export MASTER/SPARK_MASTER_URL directly.
    from pyspark import SparkConf

    submitted = (
        SparkConf(loadDefaults=True).contains("spark.master")
        or os.environ.get("MASTER")
        or os.environ.get("SPARK_MASTER_URL")
    )
    if not submitted:
        builder = builder.master(f"local[{cpus}]")
    builder = (
        builder.appName(app_name)
        .config("spark.sql.shuffle.partitions", str(max(cpus, 4)))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # Driver fixtures store events.ts as parquet TIMESTAMP(NANOS),
        # which Spark 4 rejects by default; read as long nanos and
        # convert in sources/fixtures.py.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Fixture timestamps are parquet TIMESTAMP(isAdjustedToUTC=false);
        # read them as session-TZ TimestampType (session TZ is UTC) so
        # they compare exactly against DuckDB's naive TIMESTAMP instead
        # of surfacing as TIMESTAMP_NTZ.
        .config("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Reuse Python workers across Arrow-UDF stages. Without this,
        # this pyspark build respawns every worker per stage — measured
        # 2.5-4 s of fork+import overhead for a NOOP pandas_udf over 32
        # partitions vs 0.7 s with reuse (core conf: context-creation
        # time only, hence set here and not in ensure_engine_conf).
        .config("spark.python.worker.reuse", "true")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def ensure_engine_conf(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable engine conf to an externally-created session.

    The driver hands us its own SparkSession; time zone and AQE are
    runtime conf, so pin them here for deterministic, oracle-comparable
    results (duckdb timestamps are UTC-naive — see SURVEY.md §5).
    """
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    spark.conf.set("spark.sql.adaptive.enabled", "true")
    spark.conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.parquet.inferTimestampNTZ.enabled", "false")
    return spark


@contextmanager
def rocksdb_state_store(spark: SparkSession) -> Iterator[None]:
    """Run the streaming queries started inside on the RocksDB state
    store, then restore the previous provider — unset again if it was
    unset. The provider is read once per query at start, so it only
    has to be in place while the query starts and drains.

    RocksDB spills state to local disk with bounded memory and
    incremental checkpoints (the right store at scale); the
    transformWithState column families also need it, since the default
    HDFS-backed store rejects them."""
    prev = spark.conf.get(STATE_STORE_PROVIDER_CONF, None)
    spark.conf.set(STATE_STORE_PROVIDER_CONF, ROCKSDB_PROVIDER)
    try:
        yield
    finally:
        if prev is None:
            spark.conf.unset(STATE_STORE_PROVIDER_CONF)
        else:
            spark.conf.set(STATE_STORE_PROVIDER_CONF, prev)
