"""Local mirror of the driver's t2 gate: every registered query with an
oracle must match DuckDB on row count, schema, and values."""

from __future__ import annotations

import duckdb
import pytest

from flight_events_flink_job_spark.plans import ORACLES, QUERIES
from flight_events_flink_job_spark.plans import vector_sql as vs
from flight_events_flink_job_spark.schemas import FIXTURE_TABLES

import sys
import os

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "tools"))
from parity import compare  # noqa: E402


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duckdb.connect()
    for t in FIXTURE_TABLES:
        path = f"{sf_dir}/{t}.parquet"
        if os.path.exists(path):
            con.execute(f"CREATE OR REPLACE VIEW {t} AS SELECT * FROM '{path}'")
    return con


def test_oracle_stride_widening_matches_ivf_centroids():
    """Round-7 ADVICE item 2: the IVF-family oracles hard-coded
    ``vec_id % stride = 0`` while the Spark side widens the stride to
    ceil((max_id+1)/4096) past the centroid cap. The oracles now
    compute the effective stride in SQL; this runs the very CTE they
    embed (vector_sql.effective_stride) and pins it to the exact
    Python widening across the cap boundary (including the first
    widened value and deep past it)."""
    con = duckdb.connect()
    for nominal in (61, 64):
        cap = 4096
        for max_id in (499, 1999, nominal * cap - 1, nominal * cap,
                       nominal * cap + 1, 799_999, 10_000_000):
            python_stride = max(nominal, -(-(max_id + 1) // cap))
            sql = vs.query(
                [
                    f"e AS (SELECT CAST({max_id} AS BIGINT) AS vec_id)",
                    vs.effective_stride(nominal),
                ],
                "SELECT st FROM iv_s",
            )
            (sql_stride,) = con.execute(sql).fetchone()
            assert sql_stride == python_stride, (nominal, max_id)


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, sf_dir, duck, name):
    df = QUERIES[name](spark, sf_dir)
    if name not in ORACLES:
        assert df.count() >= 0  # rows-only check (driver does the same)
        return
    rel = duck.sql(ORACLES[name])
    errors = compare(name, df, rel)
    assert not errors, f"{name}: {errors}"
