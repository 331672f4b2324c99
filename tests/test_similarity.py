"""Similarity-search semantics, recall, and plan shape."""

from __future__ import annotations

import pytest

from flight_events_flink_job_spark.operators.similarity import (
    cosine_radius,
    cosine_topk,
    cosine_topk_lsh,
)


@pytest.fixture(scope="module")
def tiny(spark):
    # Orthogonal-ish handmade vectors: neighbor structure is obvious.
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0, 0.0]),   # closest to 0
        (2, [0.0, 1.0, 0.0, 0.0]),
        (3, [-1.0, 0.0, 0.0, 0.0]),  # antipode of 0
    ]
    return spark.createDataFrame(
        [(i, v, 0) for i, v in rows], "vec_id LONG, embedding ARRAY<FLOAT>, label INT"
    )


def test_topk_ranks_by_cosine(tiny):
    out = {
        (r.q_id, r.rank): r.n_id
        for r in cosine_topk(tiny, tiny.filter("vec_id = 0"), k=3).collect()
    }
    assert out[(0, 1)] == 1  # 0.9-ish cosine
    assert out[(0, 2)] == 2  # orthogonal (0.0)
    assert out[(0, 3)] == 3  # antipodal (-1.0)


def test_topk_excludes_self_and_respects_k(tiny):
    rows = cosine_topk(tiny, k=2).collect()
    assert all(r.q_id != r.n_id for r in rows)
    assert all(r.rank <= 2 for r in rows)
    per_q = {}
    for r in rows:
        per_q.setdefault(r.q_id, 0)
        per_q[r.q_id] += 1
    assert set(per_q.values()) == {2}


def test_topk_plan_broadcasts_queries_no_cartesian(spark, sf_dir):
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    plan = cosine_topk(embs)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_lsh_recall_against_exact(spark, sf_dir):
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = {(r.q_id, r.n_id) for r in cosine_topk(embs).collect()}
    approx = {(r.q_id, r.n_id) for r in cosine_topk_lsh(embs).collect()}
    recall = len(exact & approx) / len(exact)
    assert recall >= 0.6, f"LSH recall {recall:.2f} below floor"


def test_quantization_reconstruction_bound(spark, sf_dir):
    """Dequantized values must sit within one quantization step of the
    original: x/scale in [q, q+1) by floor construction."""
    from flight_events_flink_job_spark.operators.vectors_agg import (
        quantize_embeddings,
    )
    from flight_events_flink_job_spark.sources.fixtures import load_table

    embs = load_table(spark, sf_dir, "embeddings")
    out = quantize_embeddings(embs).join(embs, "vec_id").limit(50).collect()
    for r in out:
        # r.scale is rounded for display; the bound holds vs the raw scale.
        scale = max(abs(float(x)) for x in r.embedding) / 127.0
        assert scale > 0 and abs(scale - r.scale) < 5e-7
        for x, q in zip(r.embedding, r.q_vec):
            assert q <= float(x) / scale < q + 1 + 1e-9, (x, scale, q)
        # floor maps the negative extreme to -128 when x/scale computes
        # as -127-epsilon — exactly the asymmetric int8 range.
        assert all(-128 <= q <= 127 for q in r.q_vec)


def test_quantile_sketch_close_to_exact(spark, sf_dir):
    from flight_events_flink_job_spark.plans import QUERIES

    exact = {r.event_type: r for r in
             QUERIES["event_value_quantiles"](spark, sf_dir).collect()}
    sketch = {r.event_type: r for r in
              QUERIES["event_value_quantiles_sketch"](spark, sf_dir).collect()}
    from pyspark.sql import functions as F

    from flight_events_flink_job_spark.sources.fixtures import load_table

    bounds = {
        r.event_type: r
        for r in load_table(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.expr("percentile(value, 0.90)").alias("p90"),
            F.expr("percentile(value, 0.97)").alias("p97"),
            F.max("value").alias("vmax"),
        )
        .collect()
    }
    assert set(exact) == set(sketch)
    for et, e in exact.items():
        s = sketch[et]
        assert s.n_events == e.n_events
        # The registry query now carries the rank-bracket verification
        # in-plan (each sketch value's true rank recomputed against the
        # approx_percentile rank-error contract) — assert every verdict
        # held; the independent envelope below cross-checks the exact
        # percentiles still bracket sanely.
        assert s.p50_ok and s.p95_ok and s.p99_ok, et
        assert bounds[et].p90 <= bounds[et].vmax, et
        assert bounds[et].p97 <= bounds[et].vmax, et


def test_radius_keeps_exactly_the_pairs_above_threshold(tiny):
    """Radius search is a pure threshold gate on the rounded cosine:
    no k cutoff, self excluded, zero-vector neighbors mapped to -1."""
    out = {
        (r.q_id, r.n_id): r.cosine
        for r in cosine_radius(
            tiny, tiny.filter("vec_id = 0"), threshold=0.0
        ).collect()
    }
    assert set(out) == {(0, 1), (0, 2)}  # 0.9939 and 0.0; antipode -1 out
    assert out[(0, 1)] == pytest.approx(0.9939, abs=1e-4)
    assert out[(0, 2)] == 0.0
    # tighten the radius: only the near-duplicate survives
    tight = cosine_radius(tiny, tiny.filter("vec_id = 0"), threshold=0.5)
    assert [(r.q_id, r.n_id) for r in tight.collect()] == [(0, 1)]


def test_radius_zero_vector_never_qualifies(spark):
    """An all-zero vector has undefined cosine (NaN in IEEE math);
    the operator maps it to the DuckDB convention -1.0, so it can
    never pass a finite threshold."""
    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),
        (1, [0.0, 0.0, 0.0, 0.0], 0),  # zero vector
        (2, [1.0, 0.1, 0.0, 0.0], 0),
    ]
    embs = spark.createDataFrame(
        rows, "vec_id LONG, embedding ARRAY<FLOAT>, label INT"
    )
    got = cosine_radius(embs, embs.filter("vec_id = 0"), threshold=-0.5)
    assert [(r.q_id, r.n_id) for r in got.collect()] == [(0, 2)]


def test_radius_plan_broadcasts_queries_no_cartesian(spark, sf_dir):
    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    plan = cosine_radius(embs)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_hard_negatives_skips_same_label_nearest(spark):
    """The nearest neighbor by cosine shares the query's label and must
    be SKIPPED; the top hard negative is the closest different-label
    vector, and no emitted row ever shares the query's label."""
    from flight_events_flink_job_spark.operators.similarity import hard_negatives

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0], 0),   # query
        (10, [0.99, 0.14, 0.0, 0.0], 0),  # nearest, SAME label
        (11, [0.9, 0.44, 0.0, 0.0], 1),   # top hard negative
        (12, [0.0, 1.0, 0.0, 0.0], 1),
        (13, [-1.0, 0.0, 0.0, 0.0], 2),
    ]
    embs = spark.createDataFrame(
        rows, "vec_id LONG, embedding ARRAY<FLOAT>, label INT"
    )
    got = hard_negatives(embs, k=2, num_queries=1).collect()
    assert [(r.n_id, r.rank) for r in got] == [(11, 1), (12, 2)]
    assert all(r.q_label != r.n_label for r in got)


def test_hard_negatives_plan_broadcasts_queries(spark, sf_dir):
    from flight_events_flink_job_spark.operators.similarity import hard_negatives

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    plan = hard_negatives(embs)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_hier_recall_floor_at_default_nprobe(spark, sf_dir):
    """Round-8 VERDICT item 5: the hier tier's speed/occupancy wins
    carry a stated recall floor. bench/hier_recall_curve_r9.json
    documents the full recall@10-vs-nprobe curve (clustered+uniform
    sf40, 800k vectors: recall tracks the PROBE FRACTION — ~0.20 at
    0.03% of cells, 0.55 at 1% — and the cosine re-rank sits exactly
    at its routing-gate ceiling, i.e. re-rank is lossless). This pin
    asserts the driver-fixture floor at the registered default
    nprobe=4: measured 0.40 on the 2,000-vector fixture (~12% probe
    fraction); the floor leaves margin for fixture regeneration, and
    the computation is deterministic (stride-trained model, tie-broken
    ranks) so a dip below means the router changed, not noise."""
    from flight_events_flink_job_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_ivf_hier,
        ivf_model_hier,
    )

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    model = ivf_model_hier(embs, target_occupancy=64)

    def tset(df):
        t: dict[int, set] = {}
        for r in df.collect():
            t.setdefault(r.q_id, set()).add(r.n_id)
        return t

    truth = tset(cosine_topk(embs, k=10, num_queries=16))
    got = tset(
        cosine_topk_ivf_hier(embs, k=10, num_queries=16, nprobe=4, model=model)
    )
    total = sum(len(t) for t in truth.values())
    hits = sum(len(got.get(q, set()) & t) for q, t in truth.items())
    assert hits / total >= 0.30, (
        f"hier recall@10 at default nprobe fell to {hits / total:.3f} "
        "(documented floor 0.30, measured 0.40 on this fixture — "
        "see bench/hier_recall_curve_r9.json)"
    )


# ---------------------------------------------------------------------------
# MIPS (maximum inner product) tier
# ---------------------------------------------------------------------------

def test_mips_ranks_by_inner_product_not_cosine(spark):
    """A LONG vector must out-score a better-aligned short one — the
    defining difference between MIPS and cosine retrieval."""
    from flight_events_flink_job_spark.operators.similarity import mips_topk

    rows = [
        (0, [1.0, 0.0, 0.0, 0.0]),
        (1, [0.5, 0.0, 0.0, 0.0]),   # perfectly aligned, dot 0.5
        (2, [3.0, 3.0, 0.0, 0.0]),   # 45 degrees off, dot 3.0 -> wins
        (3, [0.0, 1.0, 0.0, 0.0]),   # orthogonal, dot 0
    ]
    df = spark.createDataFrame(
        [(i, v, 0) for i, v in rows],
        "vec_id LONG, embedding ARRAY<FLOAT>, label INT",
    )
    out = {
        (r.q_id, r.rank): (r.n_id, r.dotp)
        for r in mips_topk(df, df.filter("vec_id = 0"), k=3).collect()
    }
    assert out[(0, 1)][0] == 2 and out[(0, 1)][1] == 3.0
    assert out[(0, 2)][0] == 1
    assert out[(0, 3)][0] == 3


def test_mips_plan_broadcasts_queries_no_cartesian(spark, sf_dir):
    from flight_events_flink_job_spark.operators.similarity import mips_topk

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    plan = mips_topk(embs)._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_mips_lsh_recall_against_exact(spark, sf_dir):
    """The augmented-LSH scale path must retrieve most of the true MIPS
    top-10 (approximation quality), and every pair it DOES return must
    carry the exact inner product (re-rank is exact)."""
    from flight_events_flink_job_spark.operators.similarity import (
        mips_topk,
        mips_topk_lsh,
    )

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact = {(r.q_id, r.n_id): r.dotp for r in mips_topk(embs).collect()}
    approx = {(r.q_id, r.n_id): r.dotp for r in mips_topk_lsh(embs).collect()}
    hit = set(exact) & set(approx)
    recall = len(hit) / len(exact)
    assert recall >= 0.6, f"MIPS-LSH recall {recall:.2f} below floor"
    for pair in hit:
        assert exact[pair] == approx[pair], pair


def test_mips_augmentation_lands_corpus_on_unit_sphere(spark):
    """The Bachrach reduction invariant: every augmented CORPUS vector
    has unit norm (within fp eps), queries keep their direction with a
    zero appended."""
    import math

    from pyspark.sql import functions as F

    from flight_events_flink_job_spark.functions.vectors import dot, to_double
    from flight_events_flink_job_spark.operators.similarity import _augmented

    rows = [(i, [float(i + 1), float(2 * i), 0.5, -1.0]) for i in range(8)]
    df = spark.createDataFrame(
        [(i, v, 0) for i, v in rows],
        "vec_id LONG, embedding ARRAY<FLOAT>, label INT",
    ).select(
        F.col("vec_id").alias("n_id"),
        to_double(F.col("embedding")).alias("n_vec"),
    )
    mx = float(
        df.select(F.sqrt(dot(F.col("n_vec"), F.col("n_vec"))).alias("nn"))
        .agg(F.max("nn"))
        .collect()[0][0]
    )
    aug = _augmented(df, "n", F.lit(mx))
    for r in aug.select(
        dot(F.col("n_aug"), F.col("n_aug")).alias("sq")
    ).collect():
        assert math.isclose(r.sq, 1.0, rel_tol=1e-9), r.sq


def test_ann_recall_eval_matches_set_recall(spark, sf_dir):
    """The eval operator's per-query recall must equal the recall
    computed from the two operators' collected result sets."""
    from flight_events_flink_job_spark.operators.similarity import (
        ann_recall_eval,
        cosine_topk,
        cosine_topk_lsh,
    )

    embs = spark.read.parquet(f"{sf_dir}/embeddings.parquet")
    exact: dict[int, set[int]] = {}
    for r in cosine_topk(embs).collect():
        exact.setdefault(r.q_id, set()).add(r.n_id)
    approx: dict[int, set[int]] = {}
    for r in cosine_topk_lsh(embs).collect():
        approx.setdefault(r.q_id, set()).add(r.n_id)
    rows = {r.q_id: r for r in ann_recall_eval(embs).collect()}
    assert set(rows) == set(exact)
    for q, ex in exact.items():
        want = len(ex & approx.get(q, set())) / len(ex)
        got = rows[q]
        assert got.n_exact == len(ex)
        assert got.n_hit == len(ex & approx.get(q, set()))
        assert got.recall == want
        assert 0.0 <= got.recall <= 1.0


def test_mips_recall_artifact_floors():
    """Committed MIPS-LSH recall evidence stays at its documented
    floors (bench/mips_recall_r9.json, 64 queries, k=10): >= 0.85 at
    8 tables and >= 0.99 at the registered 16 tables on the 800k
    uniform fixture.

    ARTIFACT-CONSISTENCY CHECK ONLY (round-9 ADVICE item 4): this
    re-reads the committed measurement, so it detects an edit to the
    artifact file, NOT a recall regression in the code. The live
    regression gate is test_mips_lsh_recall_against_exact above, which
    recomputes recall from a fresh mips_topk_lsh run."""
    import json
    import pathlib

    art = (
        pathlib.Path(__file__).resolve().parent.parent
        / "bench"
        / "mips_recall_r9.json"
    )
    d = json.loads(art.read_text())
    uni = d["regimes"]["uniform"]["by_num_tables"]
    assert uni["8"]["recall_at_10"] >= 0.85
    assert uni["16"]["recall_at_10"] >= 0.99


def test_lsh_planes_for_corpus_scales_with_log_n():
    """The corpus-scaling planes rule: registered driver-scale config
    (B=4 at 2k rows) is exactly the adaptive choice, and B grows by
    one per corpus doubling up to the clamp."""
    from flight_events_flink_job_spark.operators.similarity import (
        lsh_planes_for_corpus,
    )

    assert lsh_planes_for_corpus(2_000) == 4   # driver fixture
    assert lsh_planes_for_corpus(200_000) == 11
    assert lsh_planes_for_corpus(400_000) == 12
    assert lsh_planes_for_corpus(100) == 4     # floor
    assert lsh_planes_for_corpus(10**12) == 16  # clamp
    # monotone non-decreasing in N
    prev = 0
    for n in (10**3, 10**4, 10**5, 10**6, 10**9):
        b = lsh_planes_for_corpus(n)
        assert b >= prev
        prev = b


def test_lsh_tables_for_recall_rule():
    """The T-derivation rule (round-9 VERDICT item 4): monotone
    non-decreasing in BOTH target recall and planes-per-table, clamped,
    and consistent with the capture model 1-(1-p^B)^T at the derived T."""
    import math

    from flight_events_flink_job_spark.operators.similarity import (
        lsh_tables_for_recall,
    )

    prev = 0
    for r in (0.5, 0.7, 0.85, 0.95, 0.99, 0.999):
        t = lsh_tables_for_recall(r, 11)
        assert t >= prev
        prev = t
    prev = 0
    for b in (4, 6, 8, 11, 14):
        t = lsh_tables_for_recall(0.95, b)
        assert t >= prev, (b, t, prev)
        prev = t
    # model consistency: the derived T actually reaches the target
    # (when unclamped)
    for r, b in ((0.85, 4), (0.95, 4), (0.99, 4), (0.85, 8)):
        t = lsh_tables_for_recall(r, b, max_tables=10_000)
        hit = 0.75**b
        assert 1 - (1 - hit) ** t >= r
        assert 1 - (1 - hit) ** (t - 1) < r or t == 4  # minimality/floor
    # clamps + validation
    assert lsh_tables_for_recall(0.999, 16) == 64
    assert lsh_tables_for_recall(0.5, 2, min_tables=4) == 4
    import pytest as _pytest

    with _pytest.raises(ValueError):
        lsh_tables_for_recall(1.0, 8)
    with _pytest.raises(ValueError):
        lsh_tables_for_recall(0.9, 8, plane_agree_p=0.0)


def test_mips_derived_config_artifact_meets_slo():
    """ARTIFACT-CONSISTENCY CHECK (committed evidence for the derived
    (B, T) rule, BASELINE.md §9a): the 800k validation run must show
    the fully-derived config meeting its recall SLO with a speedup
    over exact — the live derivation logic is covered by
    test_lsh_tables_for_recall_rule; regenerate via
    tools/mips_derived_config.py (which itself fails below the SLO)."""
    import json
    import pathlib

    art = (
        pathlib.Path(__file__).resolve().parent.parent
        / "bench"
        / "mips_rule_applied_r10.json"
    )
    d = json.loads(art.read_text())
    assert d["meets_slo"] and d["recall_at_10"] >= d["target_recall"]
    assert d["derived_tables"] >= 8 and d["speedup"] > 1.5


def test_portable_planes_match_recurrence_and_duckdb():
    """The plane matrix both engines derive must be BIT-identical:
    numpy vectorized (the Spark UDF closure) vs a scalar replay of the
    documented recurrence vs DuckDB running the plane CTEs of
    plans/vector_sql that the oracles embed (round-10 VERDICT item 8 —
    the 45 KB literal block is replaced by this shared integer-hash
    derivation)."""
    import duckdb
    import numpy as np

    from flight_events_flink_job_spark.operators.similarity import (
        PLANE_ADD2,
        PLANE_MOD1,
        PLANE_MOD2,
        PLANE_MUL1,
        PLANE_MUL2,
        portable_planes,
    )
    from flight_events_flink_job_spark.plans import vector_sql as vs

    num, dim = 32, 65
    mat = portable_planes(num, dim)
    assert mat.shape == (num, dim)
    # scalar replay (incl. the quadratic mixing stage — affine-only
    # recurrences keep an LCG lattice that unbalances LSH buckets)
    for p, i in [(0, 0), (3, 17), (31, 64)]:
        idx = p * dim + i + 1
        h2 = ((idx * PLANE_MUL1) % PLANE_MOD1 * PLANE_MUL2 + PLANE_ADD2) % PLANE_MOD2
        h4 = ((h2 * h2 % PLANE_MOD2) * PLANE_MUL1 % PLANE_MOD2 + h2) % PLANE_MOD2
        assert mat[p, i] == h4 / PLANE_MOD2 * 2.0 - 1.0
    # DuckDB running the plane CTEs every plane oracle embeds, whole
    # and cut to its first planes as the derived-(B, T) oracles do
    for limit, rows in ((None, num), ("(SELECT 5)", 5)):
        sql = vs.query(
            vs.planes(num, dim, limit), "SELECT pid, p FROM planes ORDER BY pid"
        )
        duck = np.array([r[1] for r in duckdb.sql(sql).fetchall()])
        assert (duck == mat[:rows]).all()
    # basic isotropy sanity: entries span [-1, 1) with near-zero mean
    assert -1.0 <= mat.min() and mat.max() < 1.0
    assert abs(mat.mean()) < 0.05


@pytest.mark.parametrize("plane_source", ["seeded", "portable"])
@pytest.mark.parametrize("dim", [64, 65])
def test_hyperplane_buckets_spark_func_and_numpy_agree(spark, dim, plane_source):
    """The one sign-LSH bucket UDF every LSH tier shares (cosine at dim
    64, MIPS at the augmented dim 65): on one small batch the Spark
    result equals the UDF's ``.func`` on the same pandas batch, that
    equals a plain-numpy reference built from the plane matrix with the
    same left-to-right per-dimension summation, and every table-t code
    lies in [t << P, (t+1) << P). For portable planes the bucket-code
    CTEs the LSH oracles embed (plans/vector_sql) give the same codes
    in DuckDB."""
    import numpy as np
    import pandas as pd
    from pyspark.sql import functions as F

    from flight_events_flink_job_spark.operators.similarity import (
        _bucket_udf,
        hyperplane_buckets,
        portable_planes,
    )

    num_tables, num_planes, seed = 8, 4, 77
    rng = np.random.default_rng(5)
    vecs = rng.standard_normal((40, dim))
    vecs[0] = 0.0  # every plane dot is 0: all sign bits set
    batch = pd.Series([v.tolist() for v in vecs])

    spark_rows = (
        spark.createDataFrame(
            [(i, v) for i, v in enumerate(batch)], "id LONG, v ARRAY<DOUBLE>"
        )
        .select(
            "id",
            hyperplane_buckets(
                F.col("v"),
                num_tables,
                num_planes,
                dim,
                seed,
                plane_source=plane_source,
            ).alias("codes"),
        )
        .orderBy("id")
        .collect()
    )
    got = [list(r.codes) for r in spark_rows]
    udf = _bucket_udf(num_tables, num_planes, dim, seed, plane_source)
    assert got == [list(c) for c in udf.func(batch)]

    if plane_source == "portable":
        planes = portable_planes(num_tables * num_planes, dim)
    else:
        planes = np.random.default_rng(seed).standard_normal(
            (num_tables * num_planes, dim)
        )
    ref = []
    for v in vecs:
        codes = []
        for t in range(num_tables):
            code = 0
            for j in range(num_planes):
                acc = 0.0
                for i in range(dim):
                    acc += v[i] * planes[t * num_planes + j, i]
                code = 2 * code + (1 if acc >= 0 else 0)
            codes.append((t << num_planes) + code)
        ref.append(codes)
    assert got == ref
    all_set = (1 << num_planes) - 1
    assert got[0] == [(t << num_planes) + all_set for t in range(num_tables)]
    if plane_source == "portable":
        import duckdb

        from flight_events_flink_job_spark.plans import vector_sql as vs

        con = duckdb.connect()
        con.execute("CREATE TABLE vecs (vec_id BIGINT, v DOUBLE[])")
        con.executemany(
            "INSERT INTO vecs VALUES (?, ?)", list(enumerate(batch))
        )
        sql = vs.query(
            [
                *vs.planes(num_tables * num_planes, dim),
                *vs.bucket_codes("codes", "vecs", "v", num_planes),
            ],
            "SELECT vec_id, list(bucket ORDER BY bucket) FROM codes "
            "GROUP BY vec_id ORDER BY vec_id",
        )
        assert [list(r[1]) for r in con.execute(sql).fetchall()] == got
    for codes in got:
        assert len(codes) == num_tables
        for t, c in enumerate(codes):
            assert t << num_planes <= c < (t + 1) << num_planes


def test_estimate_plane_agree_p_geometry(spark):
    """Derived plane-agreement probability (round-10 VERDICT item 3):
    a corpus whose true neighbors are IDENTICAL directions must
    estimate p ~= 1 (theta ~= 0 after augmentation of equal-norm
    vectors), and a corpus of near-orthogonal directions must estimate
    a markedly lower p — the estimator orders corpora by neighbor
    tightness, which is what the T-derivation consumes."""
    from pyspark.sql import functions as F

    from flight_events_flink_job_spark.operators.similarity import (
        estimate_plane_agree_p,
        lsh_tables_for_recall,
    )

    def corpus(rows):
        return spark.createDataFrame(
            [(i, [float(x) for x in v]) for i, v in enumerate(rows)],
            "vec_id long, embedding array<double>",
        )

    # 20 copies of the same direction (plus tiny id-dependent jitter so
    # ranks are unique): neighbors at angle ~0
    tight = corpus(
        [[1.0 + 1e-6 * i] + [0.0] * 19 for i in range(20)]
    )
    p_tight = estimate_plane_agree_p(tight, k=3, num_queries=4)
    # 20 DISTINCT one-hot basis vectors: every neighbor orthogonal
    # (theta = pi/2 -> p = 0.5, clamped to the 0.51 floor)
    loose = corpus(
        [[1.0 if j == i else 0.0 for j in range(20)] for i in range(20)]
    )
    p_loose = estimate_plane_agree_p(loose, k=3, num_queries=4)
    assert p_tight > 0.95
    assert p_loose < p_tight - 0.2
    # tighter corpora need no more tables at the same recall floor
    assert lsh_tables_for_recall(0.95, 4, p_tight) <= lsh_tables_for_recall(
        0.95, 4, p_loose
    )


def test_lsh_tables_from_pairs_rule():
    """Pair-distribution T rule: equals the closed form on a constant
    sample, exceeds it on a spread sample at the same mean (the Jensen
    gap that made the mean-p plug-in miss the 800k SLO), monotone in
    recall target and plane count, and bounded by the clamps."""
    import pytest as _pytest

    from flight_events_flink_job_spark.operators.similarity import (
        lsh_tables_for_recall,
        lsh_tables_for_recall_from_pairs,
    )

    # constant sample == closed-form rule
    for p, b in [(0.75, 4), (0.78, 8), (0.9, 8)]:
        assert lsh_tables_for_recall_from_pairs(
            [p] * 100, 0.85, b
        ) == lsh_tables_for_recall(0.85, b, plane_agree_p=p)
    # spread sample with the same MEAN needs MORE tables
    spread = [0.68] * 50 + [0.88] * 50  # mean 0.78
    assert lsh_tables_for_recall_from_pairs(
        spread, 0.85, 8
    ) > lsh_tables_for_recall(0.85, 8, plane_agree_p=0.78)
    # monotone in the recall target and in B
    t = [
        lsh_tables_for_recall_from_pairs(spread, r, 8)
        for r in (0.5, 0.85, 0.95)
    ]
    assert t == sorted(t)
    assert lsh_tables_for_recall_from_pairs(
        spread, 0.85, 10
    ) >= lsh_tables_for_recall_from_pairs(spread, 0.85, 8)
    # clamps + error surface
    assert lsh_tables_for_recall_from_pairs([0.52] * 10, 0.999, 16) == 64
    with _pytest.raises(ValueError):
        lsh_tables_for_recall_from_pairs([], 0.85, 8)
    with _pytest.raises(ValueError):
        lsh_tables_for_recall_from_pairs([0.8], 1.0, 8)


def test_mips_derived_p_artifact_meets_slo():
    """ARTIFACT-CONSISTENCY CHECK (round-10 VERDICT items 3 and 8,
    BASELINE.md §9a): the 800k validation with the corpus-derived
    pair-level T rule must show (a) recall >= SLO for BOTH plane
    sources, (b) T strictly below the 0.75-default value, and (c) the
    portable-recurrence planes in the seeded draw's cost regime (the
    affine-only v1 recurrence cost 50.9 s — a 21x candidate explosion
    from LCG lattice structure — vs seeded 17.5 s; the quadratic-mix
    v2 must stay within 2x). Live rules are covered by
    test_lsh_tables_from_pairs_rule and the portable-plane pin;
    regenerate via tools/mips_derived_p.py (which itself fails below
    the SLO)."""
    import json
    import pathlib

    art = (
        pathlib.Path(__file__).resolve().parent.parent
        / "bench"
        / "mips_rule_applied_r11.json"
    )
    d = json.loads(art.read_text())
    assert d["meets_slo"]
    assert d["recall_at_10"] >= d["target_recall"]
    assert d["recall_at_10_portable"] >= d["target_recall"]
    assert d["derived_tables"] < d["tables_default_p"]
    assert d["lsh_sec_portable"] < 2 * d["lsh_sec"]
