"""SparkSession factory tuned for this engine.

Local-mode defaults mirror what we'd set on a real cluster: AQE on
(runtime re-planning, skew-join handling, partition coalescing), UTC
session time zone (oracle comparability + determinism), Arrow enabled
for the few Pandas-UDF code paths, and shuffle partitions sized to the
machine rather than Spark's legacy 200.

Local mode also routes the ``file:`` scheme through
``jvm/InJvmLocalFileSystem.java``. Hadoop's native library is not
loaded in a pip-installed PySpark, so ``RawLocalFileSystem.
setPermission`` forks a ``chmod`` process for every file and directory
it creates: a 1-row parquet write forks 12 (committer directories, part
file, ``_SUCCESS`` and their ``.crc`` files), a 5,000-event micro-batch
through the fan-out and its checkpoint 78, at ~3.3 ms each in the
driver JVM against ~0.1 ms in-process (4-vCPU host, JDK 17). The shim
sets the same mode bits through ``java.nio`` and is otherwise Hadoop's
local filesystem (same ``.crc`` files, committer and layout). It is
compiled once with ``javac`` into ``jvm/classes/<sha>`` and put on the
driver class path. It falls back to Hadoop's default
filesystem, changing nothing, when there is no ``javac``, the compile
fails, the caller names its own ``file:`` implementation, or the JVM
gateway was launched earlier without the class; and it is never set
for a submitted (cluster) master, whose executors would lack the class.
"""

from __future__ import annotations

import glob
import hashlib
import logging
import os
import shutil
import subprocess
import tempfile
from collections.abc import Iterator
from contextlib import contextmanager

from pyspark.sql import SparkSession

STATE_STORE_PROVIDER_CONF = "spark.sql.streaming.stateStore.providerClass"
ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state.RocksDBStateStoreProvider"
)

_JVM_DIR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "jvm")
LOCAL_FS_SOURCE = os.path.join(_JVM_DIR, "InJvmLocalFileSystem.java")
LOCAL_FS_CLASS = "flightspark.fs.InJvmLocalFileSystem"
FS_IMPL_CONF = "spark.hadoop.fs.file.impl"
AFS_IMPL_CONF = "spark.hadoop.fs.AbstractFileSystem.file.impl"
CLASSPATH_CONF = "spark.driver.extraClassPath"

_log = logging.getLogger(__name__)


def _compiled_local_fs() -> str | None:
    """Class directory of the compiled shim, or None when it cannot be
    had. Compiled once per source sha256 into ``jvm/classes/<sha>``,
    published by renaming a finished temp directory into place, so a
    concurrent or interrupted compile never leaves a half-written one."""
    from pyspark.find_spark_home import _find_spark_home

    javac = shutil.which("javac")
    if javac is None:
        return None
    try:
        with open(LOCAL_FS_SOURCE, "rb") as f:
            sha = hashlib.sha256(f.read()).hexdigest()[:16]
        cache = os.path.join(_JVM_DIR, "classes")
        out = os.path.join(cache, sha)
        if os.path.isdir(out):
            return out
        jars = glob.glob(
            os.path.join(_find_spark_home(), "jars", "hadoop-client-api-*.jar")
        )
        if not jars:
            return None
        os.makedirs(cache, exist_ok=True)
        tmp = tempfile.mkdtemp(prefix=f".{sha}-", dir=cache)
        try:
            # --release 17: Spark 4's minimum JVM loads the classes
            # whatever JDK compiles them.
            subprocess.run(
                [javac, "--release", "17", "-nowarn", "-d", tmp,
                 "-cp", os.pathsep.join(jars), LOCAL_FS_SOURCE],
                check=True, capture_output=True, timeout=120,
            )
            os.rename(tmp, out)
        except OSError:
            if not os.path.isdir(out):  # not a lost race: a failure
                raise
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
        return out
    except (OSError, subprocess.SubprocessError) as e:
        _log.info("in-JVM local filesystem unavailable: %s", e)
        return None


def local_fs_conf(extra_conf: dict[str, str] | None = None) -> dict[str, str]:
    """Confs that route ``file:`` through the in-JVM shim, to apply over
    ``extra_conf``; empty when the shim is unavailable or the caller
    names its own ``file:`` implementation. A caller's driver class path
    is extended, not replaced."""
    extra_conf = extra_conf or {}
    if FS_IMPL_CONF in extra_conf or AFS_IMPL_CONF in extra_conf:
        return {}
    classes = _compiled_local_fs()
    if classes is None:
        return {}
    caller_cp = extra_conf.get(CLASSPATH_CONF)
    return {
        CLASSPATH_CONF: os.pathsep.join(p for p in (caller_cp, classes) if p),
        FS_IMPL_CONF: LOCAL_FS_CLASS,
        AFS_IMPL_CONF: LOCAL_FS_CLASS + "$Fs",
    }


def _gateway_lacks(cls: str) -> bool:
    """True when a JVM gateway is already up and cannot load ``cls``:
    its class path was fixed at launch, so conf cannot add to it."""
    from pyspark import SparkContext

    jvm = SparkContext._jvm
    if jvm is None:
        return False
    try:
        jvm.java.lang.Class.forName(cls)
        return False
    except Exception:
        return True


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
    conf = dict(extra_conf or {})
    if not submitted:
        builder = builder.master(f"local[{cpus}]")
        if not _gateway_lacks(LOCAL_FS_CLASS):
            conf.update(local_fs_conf(conf))
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
    for k, v in conf.items():
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
