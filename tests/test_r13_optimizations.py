"""Round-13 optimization internals: the perf changes must be
value-invisible (every registered query stays oracle-checked via
tools/parity.py and tests/test_oracle_parity.py; these pins catch
regressions at unit scale).

Covered here:
- util.checkpoint_small gates the eager localCheckpoint BOTH ways on
  the optimizer's size estimate (round-12 VERDICT "What's wrong" #1),
  honors the conf budget, respects the ``probe`` stand-in frame for
  join-inflated estimates, and fails closed (no checkpoint) when the
  stats call itself raises;
- util.spread is a NO-OP again when a known-small input already
  carries an explicit >= target repartition (round-12 ADVICE item 2 —
  the r12 stats gate re-shuffled such frames and could shrink their
  parallelism), but a non-shuffling ``coalesce(>= target)`` root still
  gets spread (round-13 ADVICE item 1);
- util.pinned_partitions (the shared elision-guard arithmetic,
  round-12 ADVICE item 4) — and, plan-level, that the three pinned
  self-joins (user_triangles, simhash_near_pairs, prefix_filter_pairs)
  actually KEEP a REPARTITION_BY_NUM exchange on their join keys, so a
  Catalyst behavior change that re-enables the elision fails here
  rather than silently serializing the pair expansion;
- verify_jaccard's |A|+|B|-|A∩B| union-size rewrite is bit-identical
  to the size(array_union) form on arbitrary distinct arrays;
- the prepared-corpus sharing in similarity (cosine_topk(prepared=),
  ivf_model_hier(prepared=)) yields exactly the frames/models the
  derive-it-yourself path produces.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flight_events_flink_job_spark.operators.util import (
    CHECKPOINT_BUDGET_CONF,
    CHECKPOINT_BUDGET_DEFAULT,
    checkpoint_small,
    pinned_partitions,
    spread,
    spread_by,
)

DOCS = [
    (0, "spark scan filter join spark scan filter", "en", "s0", 1),
    (1, "join filter scan spark scan filter join", "en", "s1", 2),
    (2, "a b c d e f g h i j k l", "en", "s2", 3),
    (3, "a b c d e f g h i j k m", "en", "s3", 4),
    (4, "totally different content here now indeed", "en", "s4", 5),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        DOCS, ["doc_id", "text", "lang", "source", "n_chars"]
    )


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _explain(df) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def _plan_root(df) -> str:
    return (
        df._jdf.queryExecution().optimizedPlan().getClass().getSimpleName()
    )


# ---------------------------------------------------------------------------
# checkpoint_small
# ---------------------------------------------------------------------------


def test_checkpoint_small_checkpoints_under_budget(spark):
    # spark.range has known, tiny stats -> under the default budget ->
    # the frame is materialized (plan root becomes a LogicalRDD).
    df = spark.range(1000)
    out = checkpoint_small(df)
    assert _plan_root(out) == "LogicalRDD"
    assert sorted(r.id for r in out.collect()) == list(range(1000))


def test_checkpoint_small_refuses_over_budget(spark):
    df = spark.range(1000)  # stats: 8 kB, known
    spark.conf.set(CHECKPOINT_BUDGET_CONF, "1")
    try:
        out = checkpoint_small(df)
        assert out is df  # lazy sharing: returned unchanged
    finally:
        spark.conf.unset(CHECKPOINT_BUDGET_CONF)


def test_checkpoint_small_probe_overrides_inflated_estimate(spark):
    big, small = spark.range(1000), spark.range(10)
    # Budget between the two estimates: big's own estimate refuses,
    # the small probe admits.
    spark.conf.set(CHECKPOINT_BUDGET_CONF, "1000")
    try:
        assert checkpoint_small(big) is big
        assert _plan_root(checkpoint_small(big, probe=small)) == "LogicalRDD"
    finally:
        spark.conf.unset(CHECKPOINT_BUDGET_CONF)


def test_checkpoint_small_malformed_budget_falls_back_to_default(spark):
    # A malformed budget must not raise at plan-construction time: it
    # reads as the default, which a small known frame clears (so it is
    # checkpointed) and the gate still refuses a frame estimated above it.
    spark.conf.set(CHECKPOINT_BUDGET_CONF, "64 megabytes")
    try:
        out = checkpoint_small(spark.range(1000))
        assert _plan_root(out) == "LogicalRDD"
        big = spark.range(CHECKPOINT_BUDGET_DEFAULT)  # 8 bytes/row estimate
        assert checkpoint_small(big) is big
    finally:
        spark.conf.unset(CHECKPOINT_BUDGET_CONF)


def test_checkpoint_small_unknown_size_still_checkpoints(spark):
    # createDataFrame carries the unknown-size sentinel: multi-consumer
    # sharing must keep working for test/driver-scale frames.
    df = spark.createDataFrame([(i,) for i in range(10)], ["x"])
    out = checkpoint_small(df)
    assert _plan_root(out) == "LogicalRDD"
    assert sorted(r.x for r in out.collect()) == list(range(10))


class _StatsCallRaises:
    """A DataFrame's ``_jdf`` whose optimizer stats call raises (a broken
    internal API); every other call reaches the real JVM frame, so a
    gate that fails OPEN still checkpoints successfully."""

    def __init__(self, jdf):
        self._real = jdf

    def queryExecution(self):
        raise RuntimeError("stats API unavailable")

    def __getattr__(self, name):
        return getattr(self._real, name)


def test_checkpoint_small_fails_closed_when_stats_call_raises(
    spark, monkeypatch
):
    # Unlike the unknown-size sentinel above, a raising stats call says
    # nothing about the size: the gate must return the frame unchanged
    # (lazy sharing), never eagerly materialize a possibly corpus-scale
    # frame.
    df = spark.range(1000)
    monkeypatch.setattr(df, "_jdf", _StatsCallRaises(df._jdf))
    assert checkpoint_small(df) is df


# ---------------------------------------------------------------------------
# spread no-op on already-repartitioned known-small inputs
# ---------------------------------------------------------------------------


def test_spread_noop_on_repartitioned_known_small_input(spark):
    target = spark.sparkContext.defaultParallelism
    pre = spark.range(1000).repartition(target)
    assert spread(pre) is pre  # no extra exchange, parallelism kept
    pre_more = spark.range(1000).repartition(2 * target)
    assert spread(pre_more) is pre_more  # must NOT shrink to target


def test_spread_noop_on_keyed_repartitioned_input(spark):
    keyed = spread_by(spark.range(1000), "id")  # RepartitionByExpression
    assert spread(keyed) is keyed


def test_spread_still_spreads_single_split_known_small_input(spark):
    one = spark.range(1000).coalesce(1)
    out = spread(one)
    assert out is not one
    assert out.rdd.getNumPartitions() >= spark.sparkContext.defaultParallelism


def test_spread_spreads_one_split_scan_under_coalesce_root(spark, tmp_path):
    # coalesce(n) is a Repartition with shuffle=false: it cannot raise a
    # one-split scan's partition count, so it is no reason to skip.
    target = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "one_split")
    spark.range(1000).coalesce(1).write.parquet(path)
    scan = spark.read.parquet(path)
    assert scan.rdd.getNumPartitions() == 1
    coalesced = scan.coalesce(target)
    out = spread(coalesced)
    assert out is not coalesced
    assert out.rdd.getNumPartitions() == target


def test_spread_keeps_one_split_scan_under_repartition_root(spark, tmp_path):
    target = spark.sparkContext.defaultParallelism
    path = str(tmp_path / "one_split")
    spark.range(1000).coalesce(1).write.parquet(path)
    pre = spark.read.parquet(path).repartition(target)
    assert spread(pre) is pre


# ---------------------------------------------------------------------------
# pinned_partitions + plan-level pin retention
# ---------------------------------------------------------------------------


def test_pinned_partitions_differs_from_shuffle_partitions(spark):
    par = pinned_partitions(spark)
    assert par != int(spark.conf.get("spark.sql.shuffle.partitions"))
    assert par >= 2 * spark.sparkContext.defaultParallelism


def test_user_triangles_plan_keeps_pinned_exchange(spark, monkeypatch):
    from flight_events_flink_job_spark.operators.relational import (
        user_triangles,
    )

    events = spark.createDataFrame(
        [(i % 7, "click", "2024-01-0%d 00:00:00" % (1 + i % 3)) for i in range(40)],
        ["user_id", "event_type", "ts"],
    ).select("user_id", "event_type", F.col("ts").cast("timestamp").alias("ts"))
    # The eager edges checkpoint executes the co-occurrence stage at
    # build time, hiding the pinned exchange from the final explain —
    # neutralize it (on the CONCRETE DataFrame class: Spark 4's classic
    # DataFrame overrides the base method) so the FULL lazy plan,
    # including the pin, is inspectable.
    monkeypatch.setattr(
        type(events), "localCheckpoint", lambda self, eager=True: self
    )
    plan = _explain(user_triangles(events))
    assert "REPARTITION_BY_NUM" in plan, plan


def test_simhash_plan_keeps_pinned_exchange(spark, docs):
    from flight_events_flink_job_spark.operators.dedup import (
        simhash_near_pairs,
    )

    plan = _explain(simhash_near_pairs(docs))
    assert "REPARTITION_BY_NUM" in plan, plan


def test_prefix_filter_plan_keeps_pinned_exchange(spark, docs):
    from flight_events_flink_job_spark.operators.dedup import (
        exploded_shingles,
        prefix_filter_pairs,
    )

    plan = _explain(prefix_filter_pairs(exploded_shingles(docs, 3), 0.7))
    assert "REPARTITION_BY_NUM" in plan, plan


# ---------------------------------------------------------------------------
# verify_jaccard union-size rewrite
# ---------------------------------------------------------------------------


def test_union_size_identity_matches_array_union(spark):
    # |A∪B| = |A|+|B|-|A∩B| on DISTINCT-element arrays: the rewritten
    # verify tier must produce bit-identical doubles to the
    # size(array_union) form for every overlap shape, including
    # disjoint and identical sets.
    rows = [
        (["a", "b", "c"], ["b", "c", "d"]),
        (["a"], ["a"]),
        (["a", "b"], ["c", "d"]),
        (["x", "y", "z", "w"], ["y"]),
    ]
    df = spark.createDataFrame(rows, ["sa", "sb"])
    inter = F.size(F.array_intersect("sa", "sb"))
    old = inter.cast("double") / F.size(F.array_union("sa", "sb")).cast(
        "double"
    )
    new = inter.cast("double") / (
        F.size("sa") + F.size("sb") - inter
    ).cast("double")
    got = df.select(old.alias("o"), new.alias("n")).collect()
    for r in got:
        assert r.o == r.n


def test_verify_jaccard_values_unchanged(spark, docs):
    from flight_events_flink_job_spark.operators.dedup import (
        dedup_near_minhash,
    )
    from flight_events_flink_job_spark.functions.textual import (
        jaccard,
        word_shingles,
    )

    got = {
        (r.doc_a, r.doc_b): r.jaccard
        for r in dedup_near_minhash(docs, threshold=0.5).collect()
    }
    # reference: exact all-pairs on the same shingle definition
    sh = docs.select("doc_id", word_shingles(F.col("text"), 3).alias("s"))
    ref = (
        sh.alias("a")
        .join(sh.alias("b"), F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.round(jaccard(F.col("a.s"), F.col("b.s")), 4).alias("j"),
        )
        .filter(F.col("j") >= 0.5)
    )
    want = {(r.doc_a, r.doc_b): r.j for r in ref.collect()}
    assert got == want


# ---------------------------------------------------------------------------
# prepared-corpus sharing equivalence
# ---------------------------------------------------------------------------


def test_cosine_topk_prepared_derivation_is_value_identical(spark):
    from flight_events_flink_job_spark.operators.similarity import (
        _prepared,
        cosine_topk,
    )

    embs = spark.createDataFrame(
        [(i, [float(i + j) for j in range(4)]) for i in range(24)],
        ["vec_id", "embedding"],
    ).select("vec_id", F.col("embedding").cast("array<float>").alias("embedding"))
    base = cosine_topk(embs, k=3, num_queries=4)
    shared = cosine_topk(
        embs, k=3, num_queries=4, prepared=_prepared(embs, "n")
    )
    assert _rows(base) == _rows(shared)


def test_ivf_model_hier_prepared_is_model_identical(spark):
    from flight_events_flink_job_spark.operators.similarity import (
        _prepared,
        ivf_model_hier,
    )

    embs = spark.createDataFrame(
        [(i, [float((i * 7 + j) % 13) for j in range(4)]) for i in range(40)],
        ["vec_id", "embedding"],
    ).select("vec_id", F.col("embedding").cast("array<float>").alias("embedding"))
    m1 = ivf_model_hier(embs, target_occupancy=8)
    m2 = ivf_model_hier(embs, target_occupancy=8, prepared=_prepared(embs, "n"))
    assert m1 == m2


def test_ngram_jaccard_validates_threshold_before_eager_work(spark, docs):
    from flight_events_flink_job_spark.operators.dedup import (
        dedup_ngram_jaccard,
    )

    # candidates="linear" at an impossible threshold must raise during
    # DataFrame CONSTRUCTION (before the checkpoint job runs).
    with pytest.raises(ValueError, match="band"):
        dedup_ngram_jaccard(docs, threshold=0.1, candidates="linear")
