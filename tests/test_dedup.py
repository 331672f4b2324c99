"""Dedup operator semantics + plan-shape guarantees."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flight_events_flink_job_spark.operators.dedup import (
    dedup_exact,
    dedup_near_minhash,
    dedup_ngram_jaccard,
    embedding_neardup_cosine,
    minhash_signatures,
    simhash_fingerprints,
    simhash_near_pairs,
)

DOCS = [
    # 0 and 1: same token set, different order/repeats -> exact-dup group
    (0, "spark scan filter join spark", "en", "s0", 27),
    (1, "join filter scan spark", "en", "s1", 22),
    # 2: near-dup of 3 (one word changed in 12 -> high trigram jaccard)
    (2, "a b c d e f g h i j k l", "en", "s2", 23),
    (3, "a b c d e f g h i j k m", "en", "s3", 23),
    # 4: unrelated
    (4, "totally different content here now", "en", "s4", 34),
]


@pytest.fixture(scope="module")
def docs(spark):
    return spark.createDataFrame(
        DOCS, ["doc_id", "text", "lang", "source", "n_chars"]
    )


def test_dedup_exact_collapses_token_set_duplicates(docs):
    rows = {r["doc_id"]: r["n_members"] for r in dedup_exact(docs).collect()}
    assert rows == {0: 2, 2: 1, 3: 1, 4: 1}  # keeps min doc_id of {0,1}


def test_minhash_finds_planted_near_dup(docs):
    pairs = {(r.doc_a, r.doc_b) for r in dedup_near_minhash(docs, 0.5).collect()}
    assert (2, 3) in pairs
    assert (0, 4) not in pairs and (2, 4) not in pairs


def test_minhash_signature_is_stable_and_sized(docs):
    sigs = minhash_signatures(docs).collect()
    assert all(len(r.sig) == 64 for r in sigs)
    again = {r.doc_id: r.sig for r in minhash_signatures(docs).collect()}
    assert all(r.sig == again[r.doc_id] for r in sigs)  # deterministic


def test_ngram_jaccard_equals_bruteforce(docs):
    """Prefix-filter candidates are COMPLETE: result == all-pairs truth."""
    from flight_events_flink_job_spark.functions.textual import jaccard, word_shingles

    sh = docs.select("doc_id", word_shingles(F.col("text")).alias("s")).filter(
        F.size("s") > 0
    )
    a = sh.selectExpr("doc_id doc_a", "s sa")
    b = sh.selectExpr("doc_id doc_b", "s sb")
    brute = {
        (r.doc_a, r.doc_b, r.j)
        for r in a.crossJoin(b)
        .where(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b", F.round(jaccard(F.col("sa"), F.col("sb")), 4).alias("j"))
        .where(F.col("j") >= 0.5)
        .collect()
    }
    for tier in ("linear", "exact"):
        fast = {
            (r.doc_a, r.doc_b, r.jaccard)
            for r in dedup_ngram_jaccard(docs, 0.5, candidates=tier).collect()
        }
        assert fast == brute and len(brute) > 0, tier


def test_simhash_hamming_zero_for_identical_token_sets(docs):
    fp = {r.doc_id: r.simhash for r in simhash_fingerprints(docs).collect()}
    assert fp[0] == fp[1]  # same token set -> identical fingerprint
    pairs = {(r.doc_a, r.doc_b): r.hamming for r in simhash_near_pairs(docs, 8).collect()}
    assert pairs.get((0, 1)) == 0


def test_no_cartesian_product_in_dedup_plans(docs, spark):
    embs = spark.createDataFrame(
        [(i, [float(i), 1.0, -1.0, 0.5], 0) for i in range(4)],
        "vec_id LONG, embedding ARRAY<FLOAT>, label INT",
    )
    from flight_events_flink_job_spark.operators.dedup import repeated_passages

    for df in (
        dedup_near_minhash(docs),
        dedup_ngram_jaccard(docs),
        simhash_near_pairs(docs),
        embedding_neardup_cosine(embs, num_tables=2, num_planes=2, dim=4),
        repeated_passages(docs),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "CartesianProduct" not in plan


def test_embedding_lsh_neardup_finds_identical_vectors(spark):
    import random

    rnd = random.Random(7)
    rows = [
        (i, [float(rnd.gauss(0, 1)) for _ in range(8)], 0) for i in range(20)
    ]
    # Planted exact duplicates: identical vectors share every bucket in
    # every table, so LSH recall on them is 1 at any parameterization.
    rows += [(100 + i, rows[i][1], 0) for i in range(5)]
    embs = spark.createDataFrame(
        rows, "vec_id LONG, embedding ARRAY<FLOAT>, label INT"
    )
    pairs = {
        (r.vec_a, r.vec_b): r.cosine
        for r in embedding_neardup_cosine(
            embs, threshold=0.99, num_tables=4, num_planes=3, dim=8
        ).collect()
    }
    for i in range(5):
        assert pairs.get((i, 100 + i)) == 1.0


def test_embedding_lsh_occupancy_cap_bounds_candidates(spark):
    # All-identical corpus: every vector lands in one bucket per table;
    # occupancy above the cap drops the bucket (degenerate hash region),
    # so NO pairs are emitted — the hard O(N * max_bucket) candidate
    # bound in action.
    rows = [(i, [1.0] * 8, 0) for i in range(50)]
    embs = spark.createDataFrame(
        rows, "vec_id LONG, embedding ARRAY<FLOAT>, label INT"
    )
    capped = embedding_neardup_cosine(
        embs, threshold=0.5, num_tables=2, num_planes=2, dim=8, max_bucket=10
    )
    assert capped.count() == 0
    uncapped = embedding_neardup_cosine(
        embs, threshold=0.5, num_tables=2, num_planes=2, dim=8, max_bucket=64
    )
    assert uncapped.count() == 50 * 49 // 2


def test_dedup_fixture_near_dups(spark, sf_dir):
    """The driver corpus plants trigram near-dups; both exact and
    LSH-candidate paths must find the same pairs."""
    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    mh = set(map(tuple, dedup_near_minhash(docs, 0.8).collect()))
    ng = set(map(tuple, dedup_ngram_jaccard(docs, 0.8).collect()))
    assert mh == ng


def test_connected_components_chain_and_islands(spark):
    """Min-label propagation must cross multi-hop chains (needs >1
    iteration) and keep disjoint islands separate."""
    from flight_events_flink_job_spark.operators.dedup import connected_components

    edges = spark.createDataFrame(
        [(2, 3), (3, 4), (4, 9), (1, 7), (5, 6)], "doc_a long, doc_b long"
    )
    got = {
        r.node: r.component for r in connected_components(edges).collect()
    }
    assert got == {2: 2, 3: 2, 4: 2, 9: 2, 1: 1, 7: 1, 5: 5, 6: 5}


def test_dedup_keep_best_argmax_policy(spark):
    from flight_events_flink_job_spark.operators.dedup import dedup_keep_best

    rows = [
        (0, "cat sat mat", "en", "s", 11),
        (1, "mat cat sat cat", "en", "s", 15),  # same token set, longer
        (2, "mat sat cat", "en", "s", 11),      # same set, ties doc 0
        (3, "unique words here", "en", "s", 17),
    ]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"])
    out = {r.doc_id: r for r in dedup_keep_best(df).collect()}
    # Group {0,1,2}: doc 1 wins on n_chars; group {3} singleton.
    assert set(out) == {1, 3}
    assert out[1].n_members == 3 and out[3].n_members == 1


def test_dedup_keep_best_is_single_hash_aggregate(docs, spark):
    from flight_events_flink_job_spark.operators.dedup import dedup_keep_best

    plan = dedup_keep_best(docs)._jdf.queryExecution().executedPlan().toString()
    # argmax via max_by: a hash aggregate, never a window sort.
    assert "Window" not in plan


def test_simhash_schemes_produce_identical_pairs(docs):
    """Classic (r+1)-block and combination blocking are both complete
    for radius 3, so the post-filter pair set must be identical — the
    auto scheme switch can never change results."""
    classic = sorted(
        map(tuple, simhash_near_pairs(docs, 3, scheme="classic").collect())
    )
    combo = sorted(
        map(tuple, simhash_near_pairs(docs, 3, scheme="combo").collect())
    )
    assert classic == combo
    assert len(classic) > 0


def test_repeated_passages_finds_planted_verbatim_span(spark):
    """Two docs sharing a verbatim 10-token passage (3 distinct 8-gram
    windows) pair up with shared_windows=3; a boilerplate window in
    every doc is df-capped out; unrelated docs never pair."""
    from flight_events_flink_job_spark.operators.dedup import repeated_passages

    span = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10"
    boiler = "b1 b2 b3 b4 b5 b6 b7 b8"
    rows = [
        (0, f"intro0 {span} tail0", "en", "s0", 1),
        (1, f"intro1 x {span}", "en", "s1", 1),
        (2, "c1 c2 c3 c4 c5 c6 c7 c8 c9", "en", "s2", 1),
        # docs 3-6 all share only the boilerplate window (df 4 > cap 3)
        (3, boiler, "en", "s3", 1),
        (4, f"{boiler} t4", "en", "s4", 1),
        (5, f"{boiler} t5", "en", "s5", 1),
        (6, f"{boiler} t6", "en", "s6", 1),
    ]
    docs = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    got = {
        (r.doc_a, r.doc_b): r.shared_windows
        for r in repeated_passages(docs, n=8, max_df=3, min_shared=2).collect()
    }
    assert got == {(0, 1): 3}


def test_repeated_passages_min_shared_filters_single_window_overlap(spark):
    """One shared 8-gram window (< min_shared=2) is not a passage."""
    from flight_events_flink_job_spark.operators.dedup import repeated_passages

    win = "w1 w2 w3 w4 w5 w6 w7 w8"
    docs = spark.createDataFrame(
        [(0, f"a0 {win}", "en", "s", 1), (1, f"{win} z9", "en", "s", 1)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    assert repeated_passages(docs, n=8).count() == 0
    # with the bar lowered the single-window pair appears
    one = repeated_passages(docs, n=8, min_shared=1).collect()
    assert [(r.doc_a, r.doc_b, r.shared_windows) for r in one] == [(0, 1, 1)]


def test_neardup_dedup_corpus_keeps_representatives_only(docs):
    """End-to-end keep-one: the trigram near-dup pair (2,3) collapses
    to its min doc_id with n_members 2; everything else survives as a
    singleton (exact-dup docs 0/1 share a token SET but not trigram
    overlap at threshold 0.7 on 4-5 token texts)."""
    from flight_events_flink_job_spark.operators.dedup import (
        neardup_dedup_corpus,
    )

    got = {r.doc_id: r for r in neardup_dedup_corpus(docs).collect()}
    assert 3 not in got            # absorbed into cluster rep 2
    assert got[2].n_members == 2   # survivor carries absorbed count
    for d in (0, 1, 4):
        assert got[d].n_members == 1
    # attributes re-attached intact
    assert got[4].source == "s4" and got[4].n_chars == 34


def test_source_overlap_minhash_identical_and_disjoint_sources(spark):
    """Two sources with identical shingle sets must agree on every
    signature slot (est = exact = 1); disjoint-vocabulary sources must
    have exact 0 and (barring hash collisions, which the fixed seeds
    make deterministic) est 0."""
    from flight_events_flink_job_spark.operators.dedup import (
        source_overlap_minhash,
    )

    rows = [
        (1, "alpha beta gamma delta epsilon zeta", "en", "sA", 1),
        (2, "alpha beta gamma delta epsilon zeta", "en", "sB", 1),
        (3, "one two three four five six seven", "en", "sC", 1),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {
        (r.src_a, r.src_b): (r.n_agree, r.est_jaccard, r.exact_jaccard)
        for r in source_overlap_minhash(docs).collect()
    }
    assert out[("sA", "sB")] == (32, 1.0, 1.0)
    assert out[("sA", "sC")][2] == 0.0
    assert out[("sA", "sC")][1] == out[("sA", "sC")][0] / 32.0
    assert len(out) == 3


def test_source_overlap_minhash_estimator_tracks_exact(spark, sf_dir):
    """On the fixture corpus every pair emits, slots stay in [0, K],
    and the MinHash estimate tracks the exact Jaccard within a loose
    multiple of the K=32 standard error (deterministic draw — this is
    a regression pin, not a statistical test)."""
    from flight_events_flink_job_spark.operators.dedup import (
        source_overlap_minhash,
    )
    from flight_events_flink_job_spark.sources.fixtures import load_table

    docs = load_table(spark, sf_dir, "documents")
    n_src = docs.select("source").distinct().count()
    rows = source_overlap_minhash(docs).collect()
    assert len(rows) == n_src * (n_src - 1) // 2
    assert all(0 <= r.n_agree <= 32 for r in rows)
    mean_abs_err = sum(abs(r.est_jaccard - r.exact_jaccard) for r in rows) / len(rows)
    assert mean_abs_err <= 0.15, mean_abs_err


def test_dedup_edit_distance_semantics(spark):
    """Hand-built corpus: one-word substitution -> small distance pair;
    unrelated doc -> excluded; banded threshold excludes a heavily
    edited twin even though it shares a shingle."""
    from flight_events_flink_job_spark.operators.dedup import dedup_edit_distance

    base = "alpha beta gamma delta epsilon zeta eta theta"
    rows = [
        (1, base, "en", "s", 1),
        (2, base.replace("delta", "omega"), "en", "s", 1),  # 1 word edit
        (3, "one two three four five six seven eight", "en", "s", 1),
        # shares the leading shingle but the tail is rewritten far past
        # the threshold
        (4, "alpha beta gamma " + "x" * 60, "en", "s", 1),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    out = {(r.doc_a, r.doc_b): r for r in dedup_edit_distance(docs, max_distance=10).collect()}
    assert set(out) == {(1, 2)}
    r = out[(1, 2)]
    assert r.edit_distance == 4  # delta -> omega aligns the shared e: 4 edits
    assert 0.0 < r.similarity < 1.0


def test_linear_candidate_union_reproduces_exact_pairs(spark, sf_dir):
    """The 100 TB pair source (LSH ∪ df-capped prefix filter, VERDICT
    r5 item 1) must reproduce the theorem-complete verified pair set on
    the driver corpus: each leg is individually linear but incomplete
    in a different corner, and the union's misses require an LSH
    non-collision AND all-boilerplate prefix overlap simultaneously."""
    from flight_events_flink_job_spark.operators.dedup import (
        linear_candidate_pairs,
        shingle_sets,
        verify_jaccard,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    exact = set(
        map(
            tuple,
            dedup_ngram_jaccard(docs, 0.7, candidates="exact")
            .select("doc_a", "doc_b")
            .collect(),
        )
    )
    linear = set(
        map(
            tuple,
            verify_jaccard(
                linear_candidate_pairs(docs, 0.7), shingle_sets(docs), 0.7
            )
            .select("doc_a", "doc_b")
            .collect(),
        )
    )
    assert linear == exact and len(exact) > 0


def test_neardup_components_pair_sources_agree(spark, sf_dir):
    """neardup_components default (linear union) and audit (exact
    prefix filter) pair sources must label the corpus identically."""
    from flight_events_flink_job_spark.operators.dedup import neardup_components

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    lin = {
        (r.doc_id, r.component, r.n_members)
        for r in neardup_components(docs).collect()
    }
    exact = {
        (r.doc_id, r.component, r.n_members)
        for r in neardup_components(docs, pair_source="exact").collect()
    }
    assert lin == exact


def test_prefix_filter_df_cap_only_drops_boilerplate_only_pairs(spark):
    """df_cap keeps any pair that shares at least one sub-cap prefix
    shingle; a pair whose EVERY shared prefix token is boilerplate is
    the only casualty — exactly the LSH-strong corner."""
    from flight_events_flink_job_spark.operators.dedup import (
        exploded_shingles,
        prefix_filter_pairs,
    )

    # 2 and 3 share the rare tail; 10..29 all share ONLY the common
    # boilerplate head (df 22 > cap 4).
    rows = [(2, "x y z q r s t u v w", "en", "s", 1), (3, "x y z q r s t u v k", "en", "s", 1)]
    rows += [(10 + i, f"x y z a{i} b{i} c{i} d{i} e{i} f{i} g{i}", "en", "s", 1) for i in range(20)]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    capped = {
        (r.doc_a, r.doc_b)
        for r in prefix_filter_pairs(exploded_shingles(docs), 0.5, 4).collect()
    }
    assert (2, 3) in capped
    # boilerplate-only combinations are gone: nothing links the a{i} docs
    assert all(a == 2 and b == 3 for a, b in capped)


def test_scalegen_events_matches_driver_schema_with_skew(spark, sf_dir, tmp_path):
    """The scale-curve events table must be driver-fixture-shaped
    (same dtypes) and carry the deliberate heavy-user head (10 users
    own ~20% of events) the curves are honest against."""
    from flight_events_flink_job_spark.sources.scalegen import gen_scale_tables

    out = str(tmp_path / "scale")
    gen_scale_tables(spark, out, 0.005, tables=["events"])
    gen = spark.read.parquet(f"{out}/events.parquet")
    fixture = spark.read.parquet(f"{sf_dir}/events.parquet")
    assert dict(gen.dtypes) == dict(fixture.dtypes)
    n = gen.count()
    heavy = (
        gen.filter(F.col("user_id") < 10).count()
    )
    # head = 20% dedicated + uniform spillover (10/n_users of the 80%);
    # at sf0.005 n_users=75 -> expected ~0.31
    assert 0.15 * n <= heavy <= 0.45 * n


def test_lsh_bands_derive_from_threshold():
    """Round-6 ADVICE item 1: fixed r=4/b=16 at t<0.7 silently loses
    boundary pairs (~35% per-pair miss at J=0.5). The derived band
    count must (a) reproduce the proven b=16 exactly at the registered
    t=0.7, (b) never weaken above it, (c) grow as the threshold falls
    so the miss stays <= 1.25%, and (d) refuse thresholds where the
    budget can't reach the target."""
    import math

    from flight_events_flink_job_spark.operators.dedup import (
        lsh_bands_for_threshold,
    )

    assert lsh_bands_for_threshold(0.7) == 16
    assert lsh_bands_for_threshold(0.8) == 16
    assert lsh_bands_for_threshold(0.9) == 16
    for t in (0.5, 0.55, 0.6, 0.65):
        b = lsh_bands_for_threshold(t)
        assert b is not None and b > 16
        miss = (1.0 - t**4) ** b
        assert miss <= 0.0125, (t, b, miss)
    assert lsh_bands_for_threshold(0.45) is None
    assert lsh_bands_for_threshold(0.3) is None


def test_lsh_bands_degenerate_thresholds():
    """Round-7 ADVICE item 1: t <= 0 used to ZeroDivisionError inside
    the band formula (log(1 - t^r) = log(1) = 0) and negative t was
    silently accepted. Contract now: t <= 0 -> None (auto callers
    route to the exact tier, same as any too-low threshold); t > 1
    raises (no similarity exceeds 1, the caller has a bug); t = 1.0
    stays at the floor."""
    import pytest as _pytest

    from flight_events_flink_job_spark.operators.dedup import (
        lsh_bands_for_threshold,
    )

    assert lsh_bands_for_threshold(0.0) is None
    assert lsh_bands_for_threshold(-0.5) is None
    assert lsh_bands_for_threshold(1.0) == 16
    with _pytest.raises(ValueError, match="threshold"):
        lsh_bands_for_threshold(1.5)


def test_low_threshold_auto_falls_back_to_exact(spark):
    """candidates='auto' at a low threshold must take the
    theorem-complete tier, and an explicit 'linear' there must refuse
    rather than silently under-recall."""
    import pytest as _pytest

    from flight_events_flink_job_spark.operators.dedup import (
        linear_candidate_pairs,
        neardup_components,
    )

    rows = [
        (0, "a b c d e f g h", "en", "s", 1),
        (1, "a b c d e z y x", "en", "s", 1),
        (2, "p q r s t u v w", "en", "s", 1),
    ]
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    # t=0.3: auto == exact (the complete tier) — the J~0.33 pair from
    # docs 0/1 must be found, which derived-band LSH cannot promise.
    auto = set(
        map(tuple, dedup_ngram_jaccard(docs, 0.3).select("doc_a", "doc_b").collect())
    )
    exact = set(
        map(
            tuple,
            dedup_ngram_jaccard(docs, 0.3, candidates="exact")
            .select("doc_a", "doc_b")
            .collect(),
        )
    )
    assert auto == exact and (0, 1) in auto
    with _pytest.raises(ValueError, match="exact"):
        linear_candidate_pairs(docs, 0.3)
    # the CC labeling rides the same auto rule without raising
    assert neardup_components(docs, 0.3).count() == 3


def test_linear_tier_derived_bands_at_mid_threshold(spark):
    """At t=0.5 (where the old fixed b=16 missed ~35% of boundary
    pairs) the derived-band linear tier must reproduce the exact
    verified pair set on a fixture built of boundary-J pairs."""
    from flight_events_flink_job_spark.operators.dedup import (
        linear_candidate_pairs,
        shingle_sets,
        verify_jaccard,
    )

    rows = []
    for i in range(30):
        # pair (2i, 2i+1): 11-shingle docs sharing 8 shingles ->
        # J = 8/14 ~ 0.57, just above the 0.5 threshold boundary
        base = [f"w{i}_{j}" for j in range(13)]
        alt = base[:10] + [f"v{i}_{j}" for j in range(3)]
        rows.append((2 * i, " ".join(base), "en", "s", 1))
        rows.append((2 * i + 1, " ".join(alt), "en", "s", 1))
    docs = spark.createDataFrame(
        rows, "doc_id long, text string, lang string, source string, n_chars long"
    )
    sh = shingle_sets(docs)
    exact = set(
        map(
            tuple,
            dedup_ngram_jaccard(docs, 0.5, candidates="exact")
            .select("doc_a", "doc_b")
            .collect(),
        )
    )
    lin = set(
        map(
            tuple,
            verify_jaccard(linear_candidate_pairs(docs, 0.5), sh, 0.5)
            .select("doc_a", "doc_b")
            .collect(),
        )
    )
    assert len(exact) > 0 and lin == exact


def test_incremental_neardup_admits_and_rejects_correctly(spark):
    """Semantics pin for the incremental near-dedup: an incoming doc
    near-identical to an INDEX doc is rejected; a within-batch pair
    rejects only the higher id; a fresh doc and a too-short-to-shingle
    doc are admitted; index docs never appear in the output."""
    from flight_events_flink_job_spark.operators.dedup import (
        incremental_neardup,
        linear_candidate_pairs,
        shingle_sets,
    )

    base = "alpha beta gamma delta epsilon zeta eta theta iota kappa"
    existing = spark.createDataFrame(
        [
            (0, base, "en", "idx", 60),
            (1, "one two three four five six seven eight", "en", "idx", 40),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    incoming = spark.createDataFrame(
        [
            # near-identical to index doc 0 (one token changed)
            (100, base.replace("kappa", "lambda"), "en", "new", 60),
            # within-batch near-pair: 101 (lower) kept, 102 rejected
            (101, "red orange yellow green blue indigo violet pink", "en", "new", 48),
            (102, "red orange yellow green blue indigo violet black", "en", "new", 48),
            # fresh content
            (103, "completely different words about flight events here", "en", "new", 52),
            # too short to shingle (< 3 tokens): always admitted
            (104, "hi there", "en", "new", 8),
        ],
        "doc_id long, text string, lang string, source string, n_chars long",
    )
    got = {
        r.doc_id for r in incremental_neardup(existing, incoming).collect()
    }
    assert got == {101, 103, 104}, got
    # exact audit tier agrees
    got_exact = {
        r.doc_id
        for r in incremental_neardup(
            existing, incoming, candidates="exact"
        ).collect()
    }
    assert got_exact == got
    # round-11 ADVICE item 2: a prelude bakes in its builder's
    # candidate tier — a conflicting explicit request must fail loud,
    # not silently hand back the prelude's pairs
    docs = existing.select("doc_id", "text").unionByName(
        incoming.select("doc_id", "text")
    )
    prelude = (
        linear_candidate_pairs(docs, 0.7, 3),
        shingle_sets(docs, 3),
    )
    with pytest.raises(ValueError, match="mutually exclusive"):
        incremental_neardup(
            existing, incoming, candidates="exact", prelude=prelude
        )
    # the default tier selector with a prelude stays valid
    got_pre = {
        r.doc_id
        for r in incremental_neardup(
            existing, incoming, prelude=prelude
        ).collect()
    }
    assert got_pre == got


# ---------------------------------------------------------------------------
# Round-9 additions: exact-substring strip, estimator calibration,
# cluster histogram.
# ---------------------------------------------------------------------------

def test_exact_substring_strip_removes_shared_span_and_merges(spark):
    """Two docs share a verbatim 10-token run (three overlapping 8-token
    windows) — covered positions must merge into ONE maximal span of 10
    tokens in each doc, the cleaned text keeps everything else in
    order, and an unrelated doc passes through untouched."""
    from flight_events_flink_job_spark.operators.dedup import (
        exact_substring_strip,
    )

    shared = "q r s t u v w x y z"  # 10 tokens
    rows = [
        (0, f"a b c {shared} d e f", "en", "s0", 0),
        (1, f"m n {shared} o p", "en", "s1", 0),
        (2, "totally unrelated words that never repeat anywhere at all",
         "en", "s2", 0),
    ]
    docs = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    out = {r.doc_id: r for r in exact_substring_strip(docs).collect()}
    assert out[0].n_spans == 1 and out[0].dup_tokens == 10
    assert out[0].clean_text == "a b c d e f"
    assert out[1].n_spans == 1 and out[1].dup_tokens == 10
    assert out[1].clean_text == "m n o p"
    assert out[2].n_spans == 0 and out[2].dup_tokens == 0
    assert out[2].clean_text == rows[2][1]


def test_exact_substring_strip_within_doc_repeat_not_stripped(spark):
    """A window repeated only WITHIN one doc is not a cross-document
    duplicate (df counts distinct docs) — nothing is stripped."""
    from flight_events_flink_job_spark.operators.dedup import (
        exact_substring_strip,
    )

    rep = "a b c d e f g h"
    rows = [
        (0, f"{rep} x {rep}", "en", "s0", 0),
        (1, "other words entirely unrelated to the first document here",
         "en", "s1", 0),
    ]
    docs = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    out = {r.doc_id: r for r in exact_substring_strip(docs).collect()}
    assert out[0].n_spans == 0 and out[0].clean_text == rows[0][1]


def test_minhash_calibration_identical_pair_estimates_one(spark):
    """Adjacent identical docs must agree on every signature slot
    (est_jaccard 1.0) and score exact Jaccard 1.0; a disjoint adjacent
    pair must land at 0 on both estimator and exact tiers."""
    from flight_events_flink_job_spark.operators.dedup import (
        minhash_calibration,
    )

    rows = [
        (0, "alpha beta gamma delta epsilon zeta", "en", "s0", 0),
        (1, "alpha beta gamma delta epsilon zeta", "en", "s1", 0),
        (2, "one two three four five six seven", "en", "s2", 0),
    ]
    docs = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    out = {(r.doc_a, r.doc_b): r for r in minhash_calibration(docs).collect()}
    dup = out[(0, 1)]
    assert dup.n_agree == 64 and dup.est_jaccard == 1.0
    assert dup.exact_jaccard == 1.0
    dis = out[(1, 2)]
    assert dis.n_agree < 64 and dis.exact_jaccard == 0.0


def test_neardup_cluster_histogram_partitions_corpus(spark, sf_dir):
    """Histogram rows must partition the corpus exactly: sum(n_docs)
    equals the document count and n_docs = cluster_size * n_clusters
    per row; sizes agree with neardup_components."""
    from flight_events_flink_job_spark.operators.dedup import (
        neardup_cluster_histogram,
        neardup_components,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    hist = neardup_cluster_histogram(docs).collect()
    assert all(r.n_docs == r.cluster_size * r.n_clusters for r in hist)
    assert sum(r.n_docs for r in hist) == docs.count()
    comp_sizes = (
        neardup_components(docs)
        .groupBy("component")
        .count()
        .groupBy("count")
        .count()
        .collect()
    )
    assert {(r["count"], r["count(1)"] if "count(1)" in r.asDict() else r[1])
            for r in comp_sizes} == {
        (r.cluster_size, r.n_clusters) for r in hist
    }


def test_incremental_neardup_keyed_matches_generic_and_reads_buckets(
    spark, tmp_path
):
    """The keyed (bucketed-index) incremental near-dedup must admit
    exactly what the recompute-everything operator admits, and both
    index scans must arrive bucketed (no exchange re-shuffling ingested
    history) — the 100 TB plan property the r9 soak pins per increment
    (bench/incremental_neardup_soak_r9.json)."""
    from flight_events_flink_job_spark.operators.dedup import (
        banded_signatures,
        incremental_neardup,
        incremental_neardup_keyed,
        minhash_signatures,
        shingle_sets,
    )

    base = "w1 w2 w3 w4 w5 w6 w7 w8 w9 w10 w11 w12"
    rows = [
        (0, base, "en", "s0", 0),
        (1, "u1 u2 u3 u4 u5 u6 u7 u8 u9 u10 u11 u12", "en", "s0", 0),
        # incoming: 10 is a near-dup of ingested 0, 11 is fresh,
        # 12 duplicates 11 within the batch (greedy-by-id keeps 11)
        (10, base.replace("w12", "x12"), "en", "s1", 0),
        (11, "v1 v2 v3 v4 v5 v6 v7 v8 v9 v10 v11 v12", "en", "s1", 0),
        (12, "v1 v2 v3 v4 v5 v6 v7 v8 v9 v10 v11 x12", "en", "s1", 0),
    ]
    docs = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    existing = docs.filter("doc_id < 10")
    incoming = docs.filter("doc_id >= 10")
    for t in ("t_nd_bands", "t_nd_sets"):
        spark.sql(f"DROP TABLE IF EXISTS {t}")
    (
        banded_signatures(minhash_signatures(existing))
        .write.format("parquet")
        .option("path", str(tmp_path / "bands"))
        .bucketBy(32, "band", "band_hash")
        .sortBy("band", "band_hash")
        .saveAsTable("t_nd_bands")
    )
    (
        shingle_sets(existing)
        .write.format("parquet")
        .option("path", str(tmp_path / "sets"))
        .bucketBy(32, "doc_id")
        .sortBy("doc_id")
        .saveAsTable("t_nd_sets")
    )
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        keyed = incremental_neardup_keyed(
            spark.table("t_nd_bands"), spark.table("t_nd_sets"), incoming
        )
        got = {r.doc_id for r in keyed.collect()}
        want = {
            r.doc_id for r in incremental_neardup(existing, incoming).collect()
        }
        assert got == want == {11}
        plan = keyed._jdf.queryExecution().executedPlan().toString()
        assert plan.split("== Initial Plan ==")[0].count(
            "SelectedBucketsCount"
        ) >= 2, plan
    finally:
        spark.conf.unset("spark.sql.autoBroadcastJoinThreshold")
        for t in ("t_nd_bands", "t_nd_sets"):
            spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_exact_substring_strip_hash_key_mode_equivalent(spark, sf_dir):
    """``hash_key=True`` (xxhash64 gram key — the 100 TB shuffle-width
    mode, round-9 VERDICT item 6) must produce EXACTLY the string-key
    output on fixture data: the key only routes the duplicate-window
    distinct/df/join, it never reaches the result, and 64-bit
    collisions are ~impossible at fixture gram counts."""
    from flight_events_flink_job_spark.operators.dedup import (
        exact_substring_strip,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = sorted(map(tuple, exact_substring_strip(docs).collect()))
    b = sorted(map(tuple, exact_substring_strip(docs, hash_key=True).collect()))
    assert a == b and len(a) > 0


def test_neardup_consumers_accept_shared_components(spark, sf_dir):
    """The three neardup consumers must produce identical results when
    handed a precomputed (persisted) components frame — the shared-
    prelude contract the registry relies on (round-9 VERDICT item 3)."""
    from flight_events_flink_job_spark.operators.dedup import (
        neardup_cluster_histogram,
        neardup_components,
        neardup_dedup_corpus,
    )

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    comp = neardup_components(docs).persist()
    try:
        corpus_shared = sorted(
            map(tuple, neardup_dedup_corpus(docs, components=comp).collect())
        )
        corpus_own = sorted(map(tuple, neardup_dedup_corpus(docs).collect()))
        assert corpus_shared == corpus_own and len(corpus_own) > 0
        hist_shared = sorted(
            map(
                tuple,
                neardup_cluster_histogram(docs, components=comp).collect(),
            )
        )
        hist_own = sorted(
            map(tuple, neardup_cluster_histogram(docs).collect())
        )
        assert hist_shared == hist_own and len(hist_own) > 0
    finally:
        comp.unpersist()


def test_incremental_neardup_prelude_cache_artifact():
    """ARTIFACT-CONSISTENCY CHECK (round-10 VERDICT item 6): with the
    candidate-pair + shingle prelude persisted once per corpus
    (plans/registry_ext._inc_neardup_prelude), the registry query's
    steady-state median must sit under HALF of its round-10 5.77 s
    bench row. Live equivalence is the driver oracle green (the
    prelude changes where the subtrees are evaluated, not what they
    compute); regenerate via tools/time_query.py incremental_neardup
    --reps 5."""
    import json
    import pathlib

    art = (
        pathlib.Path(__file__).resolve().parent.parent
        / "bench"
        / "incremental_neardup_cached_r11.json"
    )
    d = json.loads(art.read_text())
    assert d["query"] == "incremental_neardup" and d["reps"] >= 5
    assert d["median_sec"] < 0.5 * 5.77


def test_fixture_token_invalidates_on_regen(tmp_path):
    """Round-10 ADVICE item 3: the persisted-frame caches key on a
    fixture snapshot token, so an IN-PLACE parquet regeneration (same
    path, new bytes/mtime) must produce a different cache key — the
    automatic invalidation clearCache() cannot provide for
    module-level handles."""
    import shutil
    import time as _time

    from flight_events_flink_job_spark.sources.fixtures import fixture_token

    src = "/root/testdata/sf0.001/documents.parquet"
    dst_dir = tmp_path / "sf"
    dst_dir.mkdir()
    dst = dst_dir / "documents.parquet"
    shutil.copyfile(src, dst)
    t1 = fixture_token(str(dst_dir))
    assert t1 != (None, None)
    # same-size rewrite with a bumped mtime (the nastiest regen case:
    # byte length unchanged)
    _time.sleep(0.01)
    data = dst.read_bytes()
    dst.write_bytes(data)
    t2 = fixture_token(str(dst_dir))
    assert t2 != t1, "same-size in-place regen must move the token"
    # missing table degrades to a sentinel, never throws
    assert fixture_token(str(tmp_path / "nope")) == (None, None)
