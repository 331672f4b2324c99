"""Loaders for the driver-generated Parquet fixture tables.

At 100 TB the same code path applies unchanged: ``spark.read.parquet``
on a directory of many files gives split-per-rowgroup parallel scans
with column pruning + predicate pushdown; nothing here assumes a single
file or a single machine.
"""

from __future__ import annotations

import os
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..schemas import FIXTURE_TABLES

# ---------------------------------------------------------------------------
# Bronze-boundary ingest contract (round-5 adversarial hardening).
#
# Aggregating NaN is meaningless (one NaN poisons every sum/avg/window
# downstream) and engines disagree about it in ways no per-query fix
# can reconcile (DuckDB CASTs of NaN raise, Spark's NaN orders
# greatest, both skip NULL); +-Inf is the same poison one step later.
# So the engine declares what every serious lakehouse declares at its
# bronze->silver step: ROWS WITHOUT EVENT TIME ARE DROPPED (event time
# is this engine's primary dimension — every window, session, lag
# sequence, and watermark keys on it, and engines disagree on where a
# NULL sorts in a window ORDER BY: Spark ASC is NULLS FIRST, DuckDB
# NULLS LAST, so no ts-ordered query can hash-agree with untimed rows
# present); MEASURES OUTSIDE THE DECLARED DOMAIN ARE NULL —
# non-finite, or |value| > 1e9 (sensor garbage; also the bound past
# which DuckDB's decimal->double edge cast double-rounds through
# int128/10^scale and can land one ulp away from the correctly-rounded
# conversion Java produces, so no aggregate of the two engines can
# hash-agree above it) — and embedding components are finite and
# bounded (|v| <= 1e3 — far above any real normalized embedding, small
# enough that the decimal-exact d2/mean aggregations keep
# integer-digit headroom at fleet row counts).
#
# Both sanitizers are IDENTITY on the driver fixtures (finite by
# construction); tools/parity.py applies the same contract to its
# DuckDB views (EVENTS_VIEW_SQL / EMBEDDINGS_VIEW_SQL below) so the
# oracle differential compares engine and oracle over the same
# declared input on adversarial fixtures too.
#
# 100 TB note: the value CASE sits between downstream value predicates
# and the parquet scan, so those predicates no longer push down to row
# groups on THIS read path. At fleet scale the contract runs ONCE at
# bronze->silver materialization and every query scans the sanitized
# silver table with full pushdown; applying it at load here mirrors
# that boundary in a fixture world with no silver copy. (ts IS NOT
# NULL is applied before any projection and still pushes down.)
# ---------------------------------------------------------------------------

EMB_CLAMP = 1000.0

# DuckDB twins of the Spark-side sanitization in load_table — keep in
# lockstep (they are one contract expressed twice).
VALUE_CLAMP = 1e9

EVENTS_VIEW_SQL = (
    "SELECT event_id, ts, user_id, event_type, "
    "CASE WHEN isnan(value) OR isinf(value) "
    f"       OR abs(value) > {VALUE_CLAMP} THEN NULL ELSE value END "
    "AS value, props FROM read_parquet('{path}') WHERE ts IS NOT NULL"
)
EMBEDDINGS_VIEW_SQL = (
    "SELECT vec_id, "
    "[CAST(CASE WHEN isnan(x) THEN 0.0 "
    f"      ELSE least(greatest(x, -{EMB_CLAMP}), {EMB_CLAMP}) END "
    " AS FLOAT) FOR x IN embedding] AS embedding, "
    "label FROM read_parquet('{path}')"
)


def fixture_token(sf_dir: str, table: str = "documents") -> tuple:
    """Snapshot identity of a fixture table: (mtime_ns, size) of its
    parquet — changes whenever the driver regenerates the file, so a
    cache keyed on it self-invalidates on in-place regen (the
    round-9/10 fixture-regeneration gotcha, BASELINE §9;
    ``spark.catalog.clearCache()`` does not reach module-level
    handles). Every data-derived cache keys on it through
    :func:`session_artifact`, the one cross-call cache
    (tests/test_cache_invalidation.py)."""
    path = os.path.join(sf_dir, f"{table}.parquet")
    try:
        st = os.stat(path)
        return (st.st_mtime_ns, st.st_size)
    except OSError:
        return (None, None)


# The one store of cross-call artifacts: (kind, app, sf_dir, token,
# params) -> artifact.
_ARTIFACTS: dict[tuple, object] = {}


def session_artifact(
    spark: SparkSession,
    kind: str,
    sf_dir: str,
    table: str,
    params: tuple,
    build: Callable[[], object],
):
    """Train once, query many: the artifact ``build()`` returns for
    this Spark application, corpus snapshot and ``params`` — built on
    the first call, served from the store after (the batch form of the
    reference's parse-once fan-out, FEA:37-85).

    The key is (kind, application id, ``sf_dir``, the
    :func:`fixture_token` of ``table``, ``params``): a frame from a
    stopped session is never served, and an in-place fixture regen is
    a miss. A miss evicts every entry of the same ``kind`` built for
    another (application, ``sf_dir``, token) and releases it; entries
    of the live corpus with other ``params`` coexist. Release is
    ``unpersist()`` on a frame, on each frame of a tuple, or on an
    object that owns frames (``IvfPqIndex``); driver-held models
    (lists, tuples of scalars) have nothing to release.
    """
    app = spark.sparkContext.applicationId
    corpus = (app, sf_dir, fixture_token(sf_dir, table))
    key = (kind, *corpus, params)
    if key not in _ARTIFACTS:
        for old in [k for k in _ARTIFACTS if k[0] == kind and k[1:4] != corpus]:
            artifact = _ARTIFACTS.pop(old)
            for part in artifact if isinstance(artifact, tuple) else (artifact,):
                try:
                    part.unpersist()
                except Exception:
                    pass  # a driver-held value, or the owning session is gone
        _ARTIFACTS[key] = build()
    return _ARTIFACTS[key]


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table (parquet scan; Catalyst prunes columns).

    ``events.ts`` is stored as parquet TIMESTAMP(NANOS); with
    ``spark.sql.legacy.parquet.nanosAsLong`` it surfaces as long nanos,
    which we convert to a microsecond TimestampType column JVM-side
    (integer div — no double round-trip, nanos exceed double's exact
    integer range).
    """
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    ts_type = dict(df.dtypes).get("ts")
    if name == "events" and ts_type == "bigint":
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif name == "events" and ts_type == "timestamp_ntz":
        # Belt-and-braces for sessions where inferTimestampNTZ wasn't
        # disabled before the scan: NTZ wall-clock reinterpreted in the
        # (UTC) session TZ — identical instants, oracle-comparable type.
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    if name == "events":
        # Bronze contract: untimed rows dropped, out-of-domain measures
        # NULL (see module header). Identity on the driver fixtures.
        df = df.filter(F.col("ts").isNotNull()).withColumn(
            "value",
            F.when(
                F.isnan("value") | (F.abs("value") > VALUE_CLAMP),
                F.lit(None).cast("double"),
            ).otherwise(F.col("value")),
        )
    elif name == "embeddings":
        # Bronze contract: embedding components finite and |v|<=1e3.
        df = df.withColumn(
            "embedding",
            F.transform(
                "embedding",
                lambda x: F.when(F.isnan(x), F.lit(0.0))
                .otherwise(
                    F.least(
                        F.greatest(x, F.lit(-EMB_CLAMP)), F.lit(EMB_CLAMP)
                    )
                )
                .cast("float"),
            ),
        )
    return df


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every fixture table as a temp view for spark.sql use."""
    for name in FIXTURE_TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if os.path.exists(path):
            load_table(spark, sf_dir, name).createOrReplaceTempView(name)
