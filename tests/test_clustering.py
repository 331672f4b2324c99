"""Lloyd k-means (operators/clustering.py): partition totality,
monotone inertia, deterministic assignment, plan shape."""

from __future__ import annotations

from pyspark.sql import functions as F

from flight_events_flink_job_spark.operators.clustering import (
    kmeans_clusters,
    semdedup,
)
from flight_events_flink_job_spark.sources.fixtures import load_table


def _embs(spark, sf_dir):
    return load_table(spark, sf_dir, "embeddings")


def test_kmeans_partitions_all_vectors(spark, sf_dir):
    embs = _embs(spark, sf_dir)
    n = embs.count()
    out = kmeans_clusters(embs).collect()
    assert sum(r.n_vectors for r in out) == n
    assert len(out) <= 8
    assert all(0 <= r.cluster_id < 8 for r in out)
    assert all(r.inertia >= 0.0 for r in out)


def test_kmeans_inertia_never_increases_with_iterations(spark, sf_dir):
    """Lloyd's algorithm is monotone: total inertia after the
    (assign, update, assign) sequence cannot exceed the initial
    assignment's inertia."""
    embs = _embs(spark, sf_dir)

    def total(iters: int) -> float:
        rows = kmeans_clusters(embs, iterations=iters).collect()
        return sum(r.inertia for r in rows)

    assert total(2) <= total(1) + 1e-6


def test_kmeans_deterministic_across_runs(spark, sf_dir):
    embs = _embs(spark, sf_dir)
    a = sorted(map(tuple, kmeans_clusters(embs).collect()))
    b = sorted(map(tuple, kmeans_clusters(embs.repartition(7)).collect()))
    assert a == b


def test_kmeans_recovers_planted_clusters(spark):
    """Two well-separated planted blobs with centroid seeds inside each
    blob must be recovered exactly (vectors 0,7 are the stride-init
    seeds for k=2)."""
    dim = 4
    rows = []
    for i in range(14):
        # even stride-ids land in blob A, odds in blob B, by construction:
        # vec_id 0..6 near (+10), 7..13 near (-10)
        base = 10.0 if i < 7 else -10.0
        rows.append((i, [base + 0.01 * i] * dim, 0))
    embs = spark.createDataFrame(
        rows, "vec_id LONG, embedding ARRAY<FLOAT>, label INT"
    )
    out = {r.cluster_id: r.n_vectors for r in
           kmeans_clusters(embs, k=2, iterations=2).collect()}
    assert out == {0: 7, 1: 7}


def test_semdedup_accounting_and_determinism(spark, sf_dir):
    """Cluster sizes must match kmeans, kept+dropped must total, and
    the verdict must not depend on input partitioning."""
    embs = _embs(spark, sf_dir)
    km = {r.cluster_id: r.n_vectors for r in kmeans_clusters(embs).collect()}
    out = semdedup(embs).collect()
    assert {r.cluster_id: r.n_vectors for r in out} == km
    assert all(r.n_kept + r.n_dropped == r.n_vectors for r in out)
    assert sum(r.n_dropped for r in out) > 0  # non-vacuous at 0.4
    again = semdedup(embs.repartition(5)).collect()
    assert sorted(map(tuple, out)) == sorted(map(tuple, again))


def test_semdedup_drops_planted_duplicate(spark):
    """An exact duplicate pair in one blob must lose exactly one member
    (the one nearer the centroid), never both."""
    dim = 4
    rows = []
    for i in range(14):
        base = 10.0 if i < 7 else -10.0
        rows.append((i, [base + 0.01 * i] * dim, 0))
    # vec 14 duplicates vec 2 exactly (cos = 1.0, same blob A)
    rows.append((14, [10.0 + 0.01 * 2] * dim, 0))
    embs = spark.createDataFrame(
        rows, "vec_id LONG, embedding ARRAY<FLOAT>, label INT"
    )
    out = semdedup(embs, k=2, iterations=2, threshold=0.999999).collect()
    assert sum(r.n_dropped for r in out) >= 1
    # every cluster keeps at least one member
    assert all(r.n_kept >= 1 for r in out)


def test_kmeans_plan_has_no_cartesian_product(spark, sf_dir):
    plan = (
        kmeans_clusters(_embs(spark, sf_dir))
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    # broadcast of the k-row centroid table is the intended join; a
    # CartesianProduct would mean the hint was lost
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan


def test_pq_encode_codes_and_error(spark, sf_dir):
    """PQ codes: m entries per vector, codes in [0,k), q_error equals
    the sum of per-subspace assignment distances; deterministic under
    repartitioning."""
    from flight_events_flink_job_spark.operators.clustering import (
        kmeans_assign,
        pq_encode,
    )
    from flight_events_flink_job_spark.sources.fixtures import load_table
    from pyspark.sql import functions as F

    embs = load_table(spark, sf_dir, "embeddings")
    out = {r.vec_id: r for r in pq_encode(embs, m=4, k=8).collect()}
    assert len(out) == embs.count()
    codes = {v: [int(c) for c in r.code_key.split("-")] for v, r in out.items()}
    for cs in codes.values():
        assert len(cs) == 4
        assert all(0 <= c < 8 for c in cs)
    # subspace 0 codes must equal a direct Lloyd run over the first slice
    sub0 = embs.select("vec_id", F.slice("embedding", 1, 16).alias("embedding"))
    direct = {r.vec_id: r.cid for r in kmeans_assign(sub0, k=8).collect()}
    assert all(cs[0] == direct[v] for v, cs in codes.items())
    again = {
        r.vec_id: (r.code_key, r.q_error)
        for r in pq_encode(embs.repartition(11), m=4, k=8).collect()
    }
    assert again == {v: (r.code_key, r.q_error) for v, r in out.items()}


def test_pq_topk_approximates_exact_l2(spark, sf_dir):
    """ADC top-10 must overlap substantially with exact squared-L2
    top-10 (quantization is lossy but not random), and the ADC distance
    of a vector must equal the sum of its per-subspace code distances
    by construction (checked via the q_error identity for rank-1
    self-free neighbors)."""
    from flight_events_flink_job_spark.operators.clustering import pq_topk
    from flight_events_flink_job_spark.sources.fixtures import load_table
    from pyspark.sql import functions as F

    embs = load_table(spark, sf_dir, "embeddings")
    got = pq_topk(embs, num_queries=8, k=10).collect()
    by_q = {}
    for r in got:
        by_q.setdefault(r.q_id, []).append(r.n_id)
    assert set(by_q) == set(range(8))
    assert all(len(v) == 10 for v in by_q.values())

    # exact top-10 by squared L2 (driver-side reference on the fixture)
    import numpy as np

    rows = embs.collect()
    V = {r.vec_id: np.array(r.embedding, dtype=np.float64) for r in rows}
    overlaps = []
    for q in range(8):
        d = {
            v: float(((V[q] - V[v]) ** 2).sum())
            for v in V
            if v != q
        }
        exact = [v for v, _ in sorted(d.items(), key=lambda kv: (kv[1], kv[0]))[:10]]
        overlaps.append(len(set(exact) & set(by_q[q])))
    # Isotropic random vectors are PQ's worst case (no cluster
    # structure to exploit; 4 subspaces x 8 codes = coarse cells):
    # average overlap measures ~1.6 of 10 here, vs ~0.2 by chance
    # (10*10/N). Gate at 3x chance (0.6), not a thin absolute margin a
    # fixture regeneration could flake; the DETERMINISTIC check below
    # carries the exactness burden.
    assert sum(overlaps) / len(overlaps) >= 0.6

    # Exact identity, immune to fixture luck: every returned adc_d2
    # must equal the sum of the query's per-subspace distance-table
    # entries for that neighbor's codes — recomputed driver-side from
    # the same fused Lloyd chain's codebook with the same
    # left-to-right fold.
    from flight_events_flink_job_spark.operators.clustering import _lloyd

    assigned, cent = _lloyd(embs, k=8, iterations=2, stride=7, m=4, dim=64)
    codes = {
        (r.vec_id, r.subspace): r.cid for r in assigned.collect()
    }
    codebook = {(r.subspace, r.cid): list(r.cv) for r in cent.collect()}

    def fold_d2(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc += (x - y) * (x - y)
        return acc

    width = 16
    for r in got:
        q = V[r.q_id]
        expect = sum(
            fold_d2(
                q[s * width : (s + 1) * width],
                codebook[(s, codes[(r.n_id, s)])],
            )
            for s in range(4)
        )
        assert abs(r.adc_d2 - round(expect, 4)) < 1e-3, (r.q_id, r.n_id)


def test_stride_init_rejects_sparse_vec_ids(spark, sf_dir):
    """The stride init presumes vec_id dense over [0, stride*k); a
    table with holes must fail at train time (ValueError), not train a
    degenerate codebook silently."""
    import pytest

    from flight_events_flink_job_spark.operators.clustering import (
        lloyd_chain,
        pq_encode,
    )

    embs = _embs(spark, sf_dir)
    sparse = embs.filter(F.col("vec_id") % 7 != 0)  # remove every seed
    with pytest.raises(ValueError, match="stride init"):
        lloyd_chain(sparse, k=8, stride=7)
    with pytest.raises(ValueError, match="stride init"):
        pq_encode(sparse, m=4, k=8)


def test_ivf_pq_topk_gates_candidates_to_probed_cells(spark, sf_dir):
    """The composed IVF-PQ search must (a) return only neighbors whose
    IVF cell is among the query's nprobe probes — the routing gate that
    makes the index serveable at scale — and (b) rank them by exactly
    the ADC distances pq_topk computes (same codes, same tables), i.e.
    equal the pq_topk result RESTRICTED to the gated candidate set."""
    from flight_events_flink_job_spark.operators.clustering import (
        ivf_pq_topk,
        pq_topk,
    )
    from flight_events_flink_job_spark.operators.similarity import (
        _prepared,
        _ranked_centroids,
        ivf_centroids,
    )
    from pyspark.sql import functions as F

    embs = _embs(spark, sf_dir)
    out = ivf_pq_topk(embs, k=5, num_queries=4, nprobe=2)
    rows = out.collect()
    assert rows, "composed index returned nothing"
    cents = ivf_centroids(embs)
    cells = {
        r["vec_id"]: r["cell"]
        for r in _prepared(embs, "n")
        .select(
            F.col("n_id").alias("vec_id"),
            F.element_at(_ranked_centroids(F.col("n_vec"), cents, 1), 1).alias(
                "cell"
            ),
        )
        .collect()
    }
    probes = {
        r["q_id"]: set(r["p"])
        for r in _prepared(embs.filter(F.col("vec_id") < 4), "q")
        .select(
            "q_id", _ranked_centroids(F.col("q_vec"), cents, 2).alias("p")
        )
        .collect()
    }
    for r in rows:
        assert cells[r.n_id] in probes[r.q_id], (r.q_id, r.n_id)
        assert 1 <= r.rank <= 5
    # ADC agreement: full-scan pq_topk with a huge k, filtered to the
    # gate, re-ranked, must reproduce the composed result exactly.
    full = {
        (r.q_id, r.n_id): r.adc_d2
        for r in pq_topk(embs, num_queries=4, k=10**6).collect()
    }
    import itertools

    expect = {}
    for q in probes:
        gated = sorted(
            (
                (d2, n)
                for (qq, n), d2 in full.items()
                if qq == q and cells[n] in probes[q]
            ),
        )
        for rank, (d2, n) in enumerate(itertools.islice(gated, 5), 1):
            expect[(q, n)] = (d2, rank)
    got = {(r.q_id, r.n_id): (r.adc_d2, r.rank) for r in rows}
    assert got == expect


def test_semdedup_scaled_partitions_corpus_and_caps_bind_correctly(spark, sf_dir):
    """semdedup_scaled must partition every vector exactly once, and
    with the occupancy cap inactive (max_bucket >= any cluster) its
    verdicts must equal the uncapped pair semantics — i.e. raising the
    cap further changes nothing; lowering it to 1 can only reduce
    drops (fewer candidate droppers), never add them."""
    from flight_events_flink_job_spark.operators.clustering import (
        semdedup_scaled,
    )

    embs = _embs(spark, sf_dir)
    n = embs.count()
    out = semdedup_scaled(embs).collect()
    assert sum(r.n_vectors for r in out) == n
    assert all(r.n_kept + r.n_dropped == r.n_vectors for r in out)
    assert all(r.n_kept >= 1 for r in out)
    base = {r.cluster_id: (r.n_vectors, r.n_dropped) for r in out}
    wide = {
        r.cluster_id: (r.n_vectors, r.n_dropped)
        for r in semdedup_scaled(embs, max_bucket=10**6).collect()
    }
    assert base == wide  # cap inactive at fixture occupancy
    tight = {
        r.cluster_id: r.n_dropped
        for r in semdedup_scaled(embs, max_bucket=1).collect()
    }
    assert all(tight[c] <= d for c, (_, d) in base.items())


def test_semdedup_scaled_occupancy_tracks_target_on_clustered_corpus(spark, tmp_path):
    """Stride-sampled centroids are density-adaptive: on the
    dominant-blob clustered fixture the max cluster occupancy must stay
    within a small multiple of the target, not absorb the blob."""
    from flight_events_flink_job_spark.operators.clustering import (
        semdedup_scaled,
    )
    from flight_events_flink_job_spark.sources.scalegen import (
        gen_scale_tables,
    )

    gen_scale_tables(
        spark, str(tmp_path), 0.1, tables=["embeddings"], emb_mode="clustered"
    )
    embs = spark.read.parquet(f"{tmp_path}/embeddings.parquet")
    occ = [r.n_vectors for r in semdedup_scaled(embs, target_occupancy=64).collect()]
    assert sum(occ) == embs.count()
    # blob-proportional centroid density keeps the head bounded: the
    # biggest cluster stays within ~4x target, nowhere near blob size
    assert max(occ) <= 4 * 64, max(occ)


# ---------------------------------------------------------------------------
# Round 8: hierarchical coarse quantizer + residual PQ + cap guard
# ---------------------------------------------------------------------------

def test_hier_model_two_levels_and_occupancy(spark, sf_dir):
    """ivf_model_hier must produce a genuine two-level model on the
    fixture (multiple shards, cells distributed across them), total
    cell count ~ N/target (per-shard ceil slack only), and the hier
    assignment must hold cluster occupancy near target — the property
    the flat tier loses past its 4096-centroid cap."""
    from flight_events_flink_job_spark.operators.clustering import (
        semdedup_scaled,
    )
    from flight_events_flink_job_spark.operators.similarity import (
        ivf_model_hier,
    )

    embs = _embs(spark, sf_dir)
    n = embs.count()
    model = ivf_model_hier(embs, target_occupancy=16)
    l1, l2 = model
    assert len(l1) > 1, "expected a genuine two-level model"
    cells = [c for lst in l2.values() for c in lst]
    assert len({cid for cid, _ in cells}) == len(cells)
    # total cells = sum over shards of ceil(size_s / 16):
    # N/16 <= cells <= N/16 + |shards|
    assert n / 16 <= len(cells) <= n / 16 + len(l1) + 1
    occ = [
        r.n_vectors
        for r in semdedup_scaled(embs, hier_model=model).collect()
    ]
    assert sum(occ) == n
    assert max(occ) <= 4 * 16, max(occ)


def test_hier_model_cap_widening_bounds_collects(spark, sf_dir):
    """With max_cells forced tiny, the effective occupancy target must
    widen (exact Python arithmetic the oracle mirrors in SQL) so the
    level-2 collect stays bounded at max_cells + |shards| slack."""
    from flight_events_flink_job_spark.operators.similarity import (
        ivf_model_hier,
    )

    embs = _embs(spark, sf_dir)
    n = embs.count()
    l1, l2 = ivf_model_hier(embs, target_occupancy=4, max_cells=16)
    cells = [c for lst in l2.values() for c in lst]
    assert len(cells) <= 16 + len(l1) + 1
    # eff_target widened from 4 to ceil(n/16)
    eff = max(4, -(-n // 16))
    assert eff > 4
    sizes = {s: len(lst) for s, lst in l2.items()}
    assert all(v >= 1 for v in sizes.values())


def test_hier_topk_finds_planted_neighbors(spark):
    """On a 3-blob planted corpus the two-level router must send
    queries to their own blob's cells: every returned neighbor shares
    the query's blob and recall@5 vs the exact search stays high."""
    import numpy as np

    from flight_events_flink_job_spark.operators.similarity import (
        cosine_topk,
        cosine_topk_ivf_hier,
        ivf_model_hier,
    )

    rng = np.random.default_rng(7)
    dim, per = 64, 40
    centers = np.zeros((3, dim))
    for b in range(3):
        centers[b, b] = 10.0
    rows = []
    for i in range(3 * per):
        b = i // per
        v = centers[b] + rng.normal(0, 0.05, dim)
        rows.append((i, [float(x) for x in v], b))
    embs = spark.createDataFrame(
        rows, "vec_id LONG, embedding ARRAY<FLOAT>, label INT"
    )
    model = ivf_model_hier(embs, target_occupancy=8)
    out = cosine_topk_ivf_hier(embs, k=5, num_queries=4, model=model)
    got = [(r.q_id, r.n_id) for r in out.collect()]
    assert got, "hier search returned nothing"
    for q, nbr in got:
        assert q // per == nbr // per, f"cross-blob neighbor {q}->{nbr}"
    exact = {
        (r.q_id, r.n_id)
        for r in cosine_topk(embs, k=5, num_queries=4).collect()
    }
    recall = len(set(got) & exact) / len(exact)
    assert recall >= 0.6, recall


def test_hier_memberless_shard_routes_empty_not_keyerror(spark):
    """Round-8 ADVICE: the nprobe==1 fast path must apply the same
    memberless-shard guard as the multi-probe path. With an external
    model whose second shard has no cells, vectors routing there must
    quietly contribute nothing (empty probe list) instead of raising
    KeyError inside the Arrow UDF."""
    from flight_events_flink_job_spark.operators.similarity import (
        cosine_topk_ivf_hier,
    )

    dim = 8
    a = [10.0] + [0.0] * (dim - 1)   # shard 0 centroid direction
    b = [0.0, 10.0] + [0.0] * (dim - 2)  # shard 5 centroid direction
    l1 = [(0, a), (5, b)]
    l2 = {0: [(0, a)]}  # shard 5 is memberless: no cells at all
    rows = [
        (0, [float(x) for x in a], 0),
        (1, [9.5, 0.5] + [0.0] * (dim - 2), 0),   # near shard 0
        (2, [0.5, 9.5] + [0.0] * (dim - 2), 1),   # routes to shard 5
        (3, [0.0, 9.0, 1.0] + [0.0] * (dim - 3), 1),  # routes to shard 5
    ]
    embs = spark.createDataFrame(
        rows, "vec_id LONG, embedding ARRAY<FLOAT>, label INT"
    )
    out = cosine_topk_ivf_hier(
        embs, k=3, num_queries=4, nprobe=1, model=(l1, l2)
    ).collect()  # must not raise
    # Rows routed to the memberless shard have no cell, so neither
    # corpus nor query side produces candidates for them; whatever
    # remains must come from shard 0's single cell only.
    assert all(r.q_id in (0, 1) and r.n_id in (0, 1) for r in out), out


def test_semdedup_scaled_strict_cap_raises_and_warn_path_completes(spark):
    """Past max_bucket the verdicts are the capped approximation —
    round-7 VERDICT #1 demands that be loud: strict_cap=True raises
    from the Arrow pass; the default path warns (executor log) but
    still returns the full partition accounting."""
    import pytest as _pytest

    rows = [
        (i, [1.0 + 0.001 * i, 0.0, 0.0, 0.0], 0) for i in range(10)
    ]
    embs = spark.createDataFrame(
        rows, "vec_id LONG, embedding ARRAY<FLOAT>, label INT"
    )
    one_centroid = [(0, [1.0, 0.0, 0.0, 0.0])]
    with _pytest.raises(Exception, match="max_bucket"):
        from flight_events_flink_job_spark.operators.clustering import (
            semdedup_scaled,
        )

        semdedup_scaled(
            embs, max_bucket=2, strict_cap=True, centroids=one_centroid
        ).collect()
    from flight_events_flink_job_spark.operators.clustering import (
        semdedup_scaled,
    )

    out = semdedup_scaled(embs, max_bucket=2, centroids=one_centroid).collect()
    assert sum(r.n_vectors for r in out) == 10


def test_residual_pq_gate_and_recall_on_planted_blobs(spark):
    """Residual PQ (IVFADC §IV) must keep the identical routing gate
    as raw-vector PQ (same probes, same candidates) and, on a corpus
    whose global structure dominates the raw codebook (far-apart
    blobs, small local noise), rank candidates at least as faithfully:
    recall@5 vs the exact gated L2 order must be >= the raw mode's."""
    import numpy as np

    from flight_events_flink_job_spark.operators.clustering import (
        ivf_pq_topk,
    )
    from flight_events_flink_job_spark.functions.vectors import to_double
    from flight_events_flink_job_spark.operators.similarity import (
        ivf_centroids,
    )

    rng = np.random.default_rng(11)
    dim, per = 64, 40
    centers = rng.normal(0, 3.0, (3, dim))
    rows = []
    for i in range(3 * per):
        b = i // per
        v = centers[b] + rng.normal(0, 0.1, dim)
        rows.append((i, [float(x) for x in v], b))
    embs = spark.createDataFrame(
        rows, "vec_id LONG, embedding ARRAY<FLOAT>, label INT"
    )
    cents = ivf_centroids(embs, stride=30)
    kw = dict(k=5, num_queries=4, nprobe=2, centroids=cents)
    raw = ivf_pq_topk(embs, **kw).collect()
    res = ivf_pq_topk(embs, residuals=True, **kw).collect()
    assert {r.q_id for r in raw} == {r.q_id for r in res}
    for coll in (raw, res):
        ranks = {}
        for r in coll:
            ranks.setdefault(r.q_id, []).append(r.rank)
        assert all(sorted(v) == list(range(1, len(v) + 1)) for v in ranks.values())
    # exact gated order: true L2 over the same candidate universe is
    # blob-local (queries 0..3 live in blob 0), so exact top-5 = the
    # 5 same-blob vectors nearest in raw space
    ev = {
        r["vec_id"]: np.array(r["v"])
        for r in embs.select(
            "vec_id", to_double(F.col("embedding")).alias("v")
        ).collect()
    }

    def recall(coll):
        hits = total = 0
        by_q = {}
        for r in coll:
            by_q.setdefault(r.q_id, set()).add(r.n_id)
        for q, got in by_q.items():
            d = sorted(
                (float(((ev[n] - ev[q]) ** 2).sum()), n)
                for n in ev
                if n != q and n // per == q // per
            )
            want = {n for _, n in d[:5]}
            hits += len(got & want)
            total += len(want)
        return hits / total

    assert recall(res) >= recall(raw), (recall(res), recall(raw))


def test_ivfpq_index_build_once_serve_many(spark, sf_dir):
    """Round-11 VERDICT item 1 (the index/query split): ivf_pq_index
    must return PERSISTED, materialized artifacts; ivf_pq_query over
    them must equal the fused ivf_pq_topk result exactly (both modes);
    and a second query set must serve from the SAME artifacts — no
    rebuild. unpersist() must release every cached frame."""
    from flight_events_flink_job_spark.operators.clustering import (
        ivf_pq_index,
        ivf_pq_query,
        ivf_pq_topk,
    )

    embs = _embs(spark, sf_dir)
    for residuals in (False, True):
        idx = ivf_pq_index(embs, residuals=residuals)
        # artifacts persisted + already materialized by the build
        for df in (idx.cells, idx.codes, idx.codebook):
            assert df.storageLevel.useMemory or df.storageLevel.useDisk
        fused = sorted(
            map(
                tuple,
                ivf_pq_topk(
                    embs, k=5, num_queries=4, residuals=residuals
                ).collect(),
            )
        )
        split = sorted(
            map(
                tuple,
                ivf_pq_query(
                    idx, embs.filter(F.col("vec_id") < 4), k=5
                ).collect(),
            )
        )
        assert split == fused and len(split) > 0
        # a different query set reuses the same persisted artifacts
        more = ivf_pq_query(
            idx, embs.filter(F.col("vec_id").between(4, 7)), k=5
        ).collect()
        assert {r.q_id for r in more} == {4, 5, 6, 7}
        idx.unpersist()
        for df in (idx.cells, idx.codes, idx.codebook):
            assert not (df.storageLevel.useMemory or df.storageLevel.useDisk)


def test_ivfpq_registry_cache_is_per_fixture_token(spark, sf_dir):
    """The registry's index cache must hand back the SAME index object
    for repeat calls on one corpus (serve path), keep distinct
    variants of one corpus concurrently, and key on the fixture
    snapshot token so an in-place regeneration rebuilds."""
    from flight_events_flink_job_spark.plans import registry_ext as rx
    from flight_events_flink_job_spark.sources.fixtures import (
        _ARTIFACTS,
        fixture_token,
    )

    i1 = rx._ivfpq_index_cached(spark, sf_dir, "residual")
    i2 = rx._ivfpq_index_cached(spark, sf_dir, "residual")
    assert i1 is i2, "repeat call must serve the cached index"
    raw = rx._ivfpq_index_cached(spark, sf_dir, "raw")
    assert raw is not i1
    # both variants of the live corpus coexist in the cache
    indexes = [k for k in _ARTIFACTS if k[0] == "ivfpq_index"]
    live = [k for k in indexes if k[2] == sf_dir]
    assert len(live) >= 2
    # key carries the fixture token (position 3): a moved token is a miss
    key = next(k for k in indexes if k[4] == ("residual",))
    assert key[3] == fixture_token(sf_dir, "embeddings")


def test_ivfpq_index_split_artifact():
    """ARTIFACT-CONSISTENCY CHECK (round-11 VERDICT item 1): with the
    index built once per corpus and queries served from persisted
    codes, ivf_pq_topk_residual's steady-state quiet-host median must
    sit under HALF of the round-11 adjudicated 5.74 s per-call-rebuild
    reading (BASELINE §10b). Live equivalence is the driver oracle
    green (the split moves WHERE the build runs, not what it
    computes); regenerate via tools/time_query.py ivf_pq_topk_residual
    --reps 6 --sf-dir /root/testdata/sf0.1."""
    import json
    import pathlib

    art = (
        pathlib.Path(__file__).resolve().parent.parent
        / "bench"
        / "ivfpq_index_split_r12.json"
    )
    d = json.loads(art.read_text())
    assert d["query"] == "ivf_pq_topk_residual" and d["reps"] >= 5
    assert d["median_sec"] < 0.5 * 5.74


def test_ivfpq_scale_artifact_build_once_serve_flat():
    """ARTIFACT-CONSISTENCY CHECK (bench/ivfpq_scale_r12.json): the
    index/query split must hold past driver scale — at 200k/400k/800k
    vectors the one-time build dominates a single serve by >= 10x at
    every point (104x at 800k), serve medians stay flat in corpus
    size, and each serve returns the full 16x10 result. Regenerate via
    tools/ivfpq_scale_r12.py (cached fixtures under /tmp/scalefix_r6;
    a warmup build precedes the timed points — the first run of the
    tool showed build 137 s at 200k vs 78 s at 800k purely from
    session-cold JVM/codegen costs landing on the first point)."""
    import json
    import pathlib

    art = (
        pathlib.Path(__file__).resolve().parent.parent
        / "bench"
        / "ivfpq_scale_r12.json"
    )
    rows = [json.loads(l) for l in art.read_text().splitlines() if l.strip()]
    assert len(rows) >= 3
    assert max(r["n_vectors"] for r in rows) >= 800_000
    for r in rows:
        assert r["rows_served"] == 160
        assert r["build_over_serve"] >= 10, r
    # serve does not grow with the corpus (the codes-only property):
    by_n = sorted(rows, key=lambda r: r["n_vectors"])
    assert by_n[-1]["serve_median_sec"] <= 2 * by_n[0]["serve_median_sec"]


def test_ivfpq_index_disk_roundtrip(spark, sf_dir, tmp_path):
    """write_ivf_pq_index / read_ivf_pq_index: the on-disk form of the
    round-12 split. A reloaded index must serve bit-identically to the
    index it was written from, in every routing/encoding mode (flat
    raw, flat residual, hierarchical), without re-running train or
    encode work — the literal cross-session 'write codes once'."""
    from flight_events_flink_job_spark.operators.clustering import (
        ivf_pq_index,
        ivf_pq_query,
        read_ivf_pq_index,
        write_ivf_pq_index,
    )
    from flight_events_flink_job_spark.operators.similarity import (
        ivf_model_hier,
    )

    embs = _embs(spark, sf_dir)
    q = embs.filter(F.col("vec_id") < 8)
    cases = [
        ("flat_raw", dict(residuals=False)),
        ("flat_res", dict(residuals=True)),
        ("hier", dict(hier_model=ivf_model_hier(embs, target_occupancy=16))),
    ]
    for name, kw in cases:
        idx = ivf_pq_index(embs, **kw)
        want = sorted(map(tuple, ivf_pq_query(idx, q).collect()))
        path = str(tmp_path / name)
        write_ivf_pq_index(idx, path)
        idx.unpersist()
        loaded = read_ivf_pq_index(spark, path)
        got = sorted(map(tuple, ivf_pq_query(loaded, q).collect()))
        assert got == want and len(got) > 0, name
        # artifacts come back persisted + materialized — serving needs
        # no rebuild
        for df in (loaded.cells, loaded.codes, loaded.codebook):
            assert df.storageLevel.useMemory or df.storageLevel.useDisk
        loaded.unpersist()


def test_sq_l2_matches_vector_sql_l2(spark, sf_dir):
    """The one squared-L2 fold of the Spark vector-index operators
    (functions/vectors.sq_l2) and its DuckDB twin (plans/vector_sql.l2,
    which every Lloyd/ADC/IVF oracle embeds) must return bit-identical
    doubles on fixture vectors, the zero vector included."""
    import duckdb

    from flight_events_flink_job_spark.functions.vectors import sq_l2
    from flight_events_flink_job_spark.plans import vector_sql as vs

    vecs = [
        (r.vec_id, [float(x) for x in r.embedding])
        for r in _embs(spark, sf_dir).filter(F.col("vec_id") < 12).collect()
    ]
    vecs.append((-1, [0.0] * 64))
    pairs = [(a, b, va, vb) for a, va in vecs for b, vb in vecs]
    schema = "a_id BIGINT, b_id BIGINT, a ARRAY<DOUBLE>, b ARRAY<DOUBLE>"
    got = {
        (r.a_id, r.b_id): r.d
        for r in spark.createDataFrame(pairs, schema)
        .select("a_id", "b_id", sq_l2(F.col("a"), F.col("b")).alias("d"))
        .collect()
    }
    con = duckdb.connect()
    con.execute(f"CREATE TABLE p ({schema.replace('ARRAY<DOUBLE>', 'DOUBLE[]')})")
    con.executemany("INSERT INTO p VALUES (?, ?, ?, ?)", pairs)
    want = {
        (a, b): d
        for a, b, d in con.execute(
            f"SELECT a_id, b_id, {vs.l2('a', 'b', 64)} FROM p"
        ).fetchall()
    }
    assert len(got) == len(pairs) and got == want
    assert got[(-1, -1)] == 0.0 and got[(0, 0)] == 0.0


def test_semdedup_exact_past_256_members(spark):
    """``semdedup`` has no member cap: on a single 300-member cluster
    (past semdedup_scaled's default max_bucket of 256) the per-cluster
    verdict must not warn, and its drop count must equal a driver-side
    replay of the precedence rule over every pair (y drops x iff y.d2 >
    x.d2, ties lower vec_id, and cosine >= threshold with left-to-right
    dot/norm sums, a zero vector scoring 0.0)."""
    import math
    import warnings

    import numpy as np

    from flight_events_flink_job_spark.operators.clustering import (
        _cluster_verdict,
        kmeans_assign,
    )

    rng = np.random.default_rng(7)
    base = rng.normal(size=(300, 8)) + 1.0
    base[150:200] = base[:50] + 0.05 * rng.normal(size=(50, 8))  # near-dups
    base[299] = 0.0
    embs = spark.createDataFrame(
        [(i, [float(x) for x in row], 0) for i, row in enumerate(base)],
        "vec_id LONG, embedding ARRAY<FLOAT>, label INT",
    )
    thr = 0.95
    (row,) = semdedup(embs, k=1, threshold=thr).collect()
    assert row.n_vectors == 300

    members = [
        (r.vec_id, list(r.v), r.d2)
        for r in kmeans_assign(embs, k=1).collect()
    ]

    def cos(a, b):
        d = na = nb = 0.0
        for x, y in zip(a, b):
            d += x * y
            na += x * x
            nb += y * y
        denom = math.sqrt(na) * math.sqrt(nb)
        return 0.0 if denom == 0.0 else d / denom

    dropped = sum(
        any(
            (yd > xd or (yd == xd and yi < xi)) and cos(xv, yv) >= thr
            for yi, yv, yd in members
        )
        for xi, xv, xd in members
    )
    assert 0 < dropped < 300
    assert (row.n_dropped, row.n_kept) == (dropped, 300 - dropped)

    import pandas as pd

    pdf = pd.DataFrame(
        {
            "cid": [0] * len(members),
            "vec_id": [m[0] for m in members],
            "v": [np.array(m[1]) for m in members],
            "d2": [m[2] for m in members],
        }
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error")
        out = _cluster_verdict(pdf, thr)
    assert out.to_dict("records") == [
        {
            "cluster_id": 0,
            "n_vectors": 300,
            "n_dropped": dropped,
            "n_kept": 300 - dropped,
        }
    ]
