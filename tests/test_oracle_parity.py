"""Local mirror of the driver's t2 gate: every registered query with an
oracle must match DuckDB on row count, schema, and values."""

from __future__ import annotations

import duckdb
import pytest

from flight_events_flink_job_spark.plans import ORACLES, QUERIES
from flight_events_flink_job_spark.plans import vector_sql as vs
from flight_events_flink_job_spark.schemas import FIXTURE_TABLES
from flight_events_flink_job_spark.sources import fixtures

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


def test_oracle_neardup_edge_set_matches_all_pairs_reference():
    """The near-dup oracles score pairs through
    registry_ext.jaccard_edges (a shared-shingle equi-join) and reject
    incoming docs through registry_ext.INC_REJECTED_CTE. This pins both
    to the all-pairs ``list_intersect`` forms they replaced, on a
    hand-built corpus holding every corner: a doc under 3 tokens, a
    trigram repeated inside a doc, identical docs, disjoint docs, a
    pair at exactly J = 0.7 (7 of 10 shingles) and non-ASCII tokens."""
    from flight_events_flink_job_spark.plans import registry_ext as rx

    t = [f"t{i}" for i in range(12)]
    docs = [
        (1, "a b"),
        (2, "x y z x y z x y z q"),
        (3, "the quick brown fox jumps over the lazy dog"),
        (4, "the quick brown fox jumps over the lazy dog"),
        (5, "p1 p2 p3 p4"),
        (6, "q1 q2 q3 q4"),
        (7, " ".join(t[:9])),
        (8, " ".join(t)),
        (9, "naïve café résumé über straße"),
        (10, "naïve café résumé über straße 東京"),
        (11, "x y z x y z q"),
    ]
    con = duckdb.connect()
    con.execute("CREATE TABLE raw_docs (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO raw_docs VALUES (?, ?)", docs)
    con.execute("CREATE VIEW documents AS SELECT * FROM raw_docs")
    sh = rx.SHINGLES_CTE.strip()
    ref_j = (
        "round(len(list_intersect({a}.sg, {b}.sg)) * 1.0"
        " / len(list_distinct(list_concat({a}.sg, {b}.sg))), 4)"
    )
    expected = {
        0.7: [(2, 11, 1.0), (3, 4, 1.0), (7, 8, 0.7), (9, 10, 0.75)],
        0.8: [(2, 11, 1.0), (3, 4, 1.0)],
    }
    for threshold, want in expected.items():
        got = con.sql(
            f"WITH {sh}, {rx.jaccard_edges(threshold).strip()} "
            "SELECT doc_a, doc_b, jaccard FROM pairs"
        ).fetchall()
        ref = con.sql(
            f"WITH {sh} SELECT * FROM ("
            f" SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,"
            f" {ref_j.format(a='a', b='b')} AS jaccard"
            " FROM sh a JOIN sh b ON a.doc_id < b.doc_id"
            f") WHERE jaccard >= {threshold}"
        ).fetchall()
        assert sorted(got) == sorted(ref) == want, threshold

    rejected = con.sql(
        f"WITH {sh}, {rx.jaccard_edges(0.7).strip()},"
        f" {rx.INC_REJECTED_CTE.strip()} SELECT doc_id FROM rejected"
    ).fetchall()
    ref_rejected = con.sql(
        f"""WITH {sh},
        split AS (SELECT (max(doc_id) + 1) // 2 AS half FROM documents),
        ex AS (SELECT * FROM sh WHERE doc_id < (SELECT half FROM split)),
        inc AS (SELECT * FROM sh WHERE doc_id >= (SELECT half FROM split)),
        rej_cross AS (
            SELECT DISTINCT i.doc_id FROM inc i JOIN ex e
            ON {ref_j.format(a='i', b='e')} >= 0.7),
        rej_batch AS (
            SELECT DISTINCT b.doc_id FROM inc a JOIN inc b
            ON a.doc_id < b.doc_id AND {ref_j.format(a='a', b='b')} >= 0.7)
        SELECT doc_id FROM rej_cross UNION SELECT doc_id FROM rej_batch"""
    ).fetchall()
    # 11 is rejected by an index doc (2), 8 and 10 by a lower batch doc
    assert sorted(rejected) == sorted(ref_rejected) == [(8,), (10,), (11,)]


def _cached_frames(artifacts):
    """Cached frames among helper artifacts (a tuple holds frames, an
    IvfPqIndex holds them as attributes)."""
    from pyspark.sql import DataFrame

    def frames(obj):
        if isinstance(obj, DataFrame):
            yield obj
        elif isinstance(obj, tuple):
            for part in obj:
                yield from frames(part)
        elif hasattr(obj, "unpersist"):
            yield from (v for v in vars(obj).values() if isinstance(v, DataFrame))

    for artifact in artifacts:
        for df in frames(artifact):
            level = df.storageLevel
            if level.useMemory or level.useDisk:
                yield df


def _held_cache_entries() -> int:
    """Distinct cache-manager entries behind the frames that
    ``sources.fixtures.session_artifact`` holds (two frames with the
    same plan share one entry)."""
    cached: list = []
    for df in _cached_frames(fixtures._ARTIFACTS.values()):
        if not any(df.sameSemantics(c) for c in cached):
            cached.append(df)
    return len(cached)


class _Served(dict):
    """A copy of the helper's store that records the keys read from it,
    i.e. the artifacts the helper served."""

    def __init__(self, store):
        super().__init__(store)
        self.read: set = set()

    def __getitem__(self, key):
        self.read.add(key)
        return super().__getitem__(key)


def _unowned_cache_reads(spark, df, artifacts) -> list[str]:
    """The cached relations in ``df``'s optimized plan (subqueries
    included) whose cache builder no frame of ``artifacts`` owns. With
    ``artifacts`` the ones the helper served to the query, this sees a
    query reading a cache entry another query made, which the entry
    counts cannot when both persist the same plan."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    ident = spark._jvm.java.lang.System.identityHashCode
    owned = set()
    for held in _cached_frames(artifacts):
        data = cm.lookupCachedData(held._jdf)
        if data.isDefined():
            owned.add(ident(data.get().cachedRepresentation().cacheBuilder()))
    plan = df._jdf.queryExecution().optimizedPlan()
    subs = plan.subqueriesAll()
    unowned = []
    for p in [plan] + [subs.apply(i) for i in range(subs.size())]:
        leaves = p.collectLeaves()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            if (
                leaf.getClass().getSimpleName() == "InMemoryRelation"
                and ident(leaf.cacheBuilder()) not in owned
            ):
                unowned.append(leaf.cacheBuilder().cachedPlan().toString()[:160])
    return unowned


@pytest.mark.parametrize("name", sorted(QUERIES))
def test_query_matches_oracle(spark, sf_dir, duck, name):
    cm = spark._jsparkSession.sharedState().cacheManager()
    entries, held = cm.numCachedEntries(), _held_cache_entries()
    store = fixtures._ARTIFACTS
    served = fixtures._ARTIFACTS = _Served(store)
    try:
        df = QUERIES[name](spark, sf_dir)
    finally:
        fixtures._ARTIFACTS = store
        store.clear()
        store.update(served)  # what the build stored or evicted
    if name not in ORACLES:
        assert df.count() >= 0  # rows-only check (driver does the same)
    else:
        rel = duck.sql(ORACLES[name])
        errors = compare(name, df, rel)
        assert not errors, f"{name}: {errors}"
    # every frame a query leaves in the cache manager is one the
    # session_artifact helper holds, and every cached relation it reads
    # is owned by an artifact the helper served it: no operator leaks a
    # persist, and no query is served by another query's cache entry
    grown = cm.numCachedEntries() - entries
    held_grown = _held_cache_entries() - held
    assert grown == held_grown, (
        f"{name}: cache manager grew by {grown}, helper-held entries by "
        f"{held_grown}"
    )
    unowned = _unowned_cache_reads(spark, df, [store[k] for k in served.read if k in store])
    assert not unowned, f"{name}: reads cache entries not served to it: {unowned}"
