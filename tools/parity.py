"""Local oracle-differential harness — mimics the driver's t2 check.

Runs every query in the registry at a given sf dir on Spark AND its
DuckDB oracle, then compares row count, column names, COLUMN TYPES, and
order-insensitive EXACT values (no rounding — the driver's value-hash is
type- and value-exact, so this harness must be too; round-1 shipped red
because the old harness rounded). Usage:

    python tools/parity.py [--oddconf] [sf_dir] [query ...]

``--oddconf`` runs the same sweep under an adversarial execution conf —
5 cores, 7 shuffle partitions, AQE off — to catch partition-count- or
AQE-dependent nondeterminism the default session cannot show. Building
a query re-applies the engine conf (``register`` calls
``ensure_engine_conf``, which turns AQE on), so the odd conf is set
again after each build and checked before the compare action; eager
build-time jobs still run under the engine conf.
"""

from __future__ import annotations

import math
import os
import sys
import time

sys.path.insert(0, ".")

# DuckDB column type -> the Spark dtype string it must hash-match.
# Anything not in this map (HUGEINT, DECIMAL, UHUGEINT...) has no
# same-width Spark twin and is reported as a type error outright.
DUCK_TO_SPARK = {
    "BIGINT": "bigint",
    "INTEGER": "int",
    "SMALLINT": "smallint",
    "TINYINT": "tinyint",
    "DOUBLE": "double",
    "FLOAT": "float",
    "VARCHAR": "string",
    "BOOLEAN": "boolean",
    "TIMESTAMP": "timestamp",
    # DATE is deliberately ABSENT: the driver's pandas canonicalizer
    # renders DuckDB DATE as Timestamp('... 00:00:00') but Spark
    # DateType as datetime.date — stringified values never match even
    # when the data is identical (weekly_cohort_retention, round 3).
    # Emit TIMESTAMP at query edges instead (CAST in the oracle).
    "BLOB": "binary",
    "FLOAT[]": "array<float>",
    "DOUBLE[]": "array<double>",
    "BIGINT[]": "array<bigint>",
    "VARCHAR[]": "array<string>",
}

ODDCONF_CPUS = 5
ODDCONF = {
    "spark.sql.shuffle.partitions": "7",
    "spark.sql.adaptive.enabled": "false",
}


def compare(name: str, spark_df, rel) -> list[str]:
    errors: list[str] = []
    duck_cols = list(rel.columns)
    duck_types = [str(t) for t in rel.types]
    spark_cols = sorted(spark_df.columns)
    if spark_cols != sorted(duck_cols):
        errors.append(f"schema: spark={spark_cols} duck={sorted(duck_cols)}")
        return errors

    # Type-exact gate: every oracle column type must map onto the Spark
    # dtype of the same-named column.
    spark_dtypes = dict(spark_df.dtypes)
    for c, t in zip(duck_cols, duck_types):
        want = DUCK_TO_SPARK.get(t)
        got = spark_dtypes[c]
        if want is None:
            errors.append(f"type: oracle column {c} is {t} (no Spark twin — "
                          f"CAST it in the oracle SQL)")
        elif want != got:
            errors.append(f"type: column {c} oracle={t}→{want} spark={got}")
    if errors:
        return errors

    s_rows = [tuple(row[c] for c in spark_cols) for row in spark_df.collect()]
    idx = [duck_cols.index(c) for c in spark_cols]
    d_rows = [tuple(r[i] for i in idx) for r in rel.fetchall()]
    if len(s_rows) != len(d_rows):
        errors.append(f"rowcount: spark={len(s_rows)} duck={len(d_rows)}")
        return errors

    def norm(v):
        # Exact values; only canonicalize representations that collect()
        # and fetchall() render differently for identical data.
        if isinstance(v, float):
            return "nan" if math.isnan(v) else repr(v)
        if hasattr(v, "isoformat"):
            return v.isoformat().replace("+00:00", "")
        if isinstance(v, list):
            return tuple(norm(x) for x in v)
        return v

    s_sorted = sorted(map(str, [tuple(norm(v) for v in r) for r in s_rows]))
    d_sorted = sorted(map(str, [tuple(norm(v) for v in r) for r in d_rows]))
    mismatches = [(a, b) for a, b in zip(s_sorted, d_sorted) if a != b]
    if mismatches:
        errors.append(f"values: {len(mismatches)} mismatched rows")
        for a, b in mismatches[:3]:
            errors.append(f"  spark={a}")
            errors.append(f"  duck ={b}")
    return errors


def main() -> int:
    # PySpark collect() converts TimestampType via the process TZ; the
    # oracles are TZ-naive UTC, so pin the process before the JVM starts.
    os.environ["TZ"] = "UTC"
    time.tzset()

    import duckdb

    from flight_events_flink_job_spark.plans import ORACLES, QUERIES
    from flight_events_flink_job_spark.schemas import FIXTURE_TABLES
    from flight_events_flink_job_spark.session import get_spark
    from flight_events_flink_job_spark.sources.fixtures import (
        EMBEDDINGS_VIEW_SQL,
        EVENTS_VIEW_SQL,
    )

    oddconf = "--oddconf" in sys.argv
    if oddconf:
        sys.argv.remove("--oddconf")
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    if oddconf:
        spark = get_spark("parity", cpus=ODDCONF_CPUS, extra_conf=ODDCONF)
    else:
        spark = get_spark("parity")
    con = duckdb.connect()
    # events/embeddings get the bronze-boundary sanitization the engine
    # applies in load_table (identity on driver fixtures) so oracle and
    # engine compare over the same declared input on adversarial data.
    special = {"events": EVENTS_VIEW_SQL, "embeddings": EMBEDDINGS_VIEW_SQL}
    for t in FIXTURE_TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.exists(path):
            body = special.get(t, "SELECT * FROM read_parquet('{path}')")
            con.execute(
                f"CREATE OR REPLACE VIEW {t} AS {body.format(path=path)}"
            )

    def build(fn):
        df = fn(spark, sf_dir)
        if oddconf:
            for key, value in ODDCONF.items():
                spark.conf.set(key, value)
            aqe = spark.conf.get("spark.sql.adaptive.enabled")
            if aqe != "false":
                raise RuntimeError(f"odd conf lost: AQE enabled={aqe}")
        return df

    failed = []
    for name, fn in QUERIES.items():
        if only and name not in only:
            continue
        if name not in ORACLES:
            n = build(fn).count()
            print(f"{name:32s} rows-only: {n} rows")
            continue
        try:
            sdf = build(fn)
            rel = con.sql(ORACLES[name])
            errors = compare(name, sdf, rel)
        except Exception as exc:  # keep sweeping — mirror the driver's
            # per-query err column instead of aborting the whole run
            errors = [f"ERR {type(exc).__name__}: {str(exc).splitlines()[0]}"]
        status = "OK" if not errors else "FAIL"
        print(f"{name:32s} {status}")
        for e in errors:
            print(f"    {e}")
        if errors:
            failed.append(name)

    print(f"\n{'ALL OK' if not failed else 'FAILED: ' + ', '.join(failed)}")
    return 1 if failed else 0


if __name__ == "__main__":
    raise SystemExit(main())
