"""Similarity search over the ``embeddings`` table (ARRAY<FLOAT> dim=64).

Extension surface beyond the reference (SURVEY.md §2.6) — the reference
has no vector operations at all. Every top-k operator has one shape:
build a SCORED CANDIDATE frame (q_id, n_id, score), then rank it once
with :func:`_top_k` (per-query ``row_number`` over (score desc, n_id),
``rank <= k``, 4dp-rounded score). The tiers differ only in how they
pick candidates:

- exact — :func:`cosine_topk`, :func:`mips_topk`,
  :func:`hard_negatives`, :func:`hash_embed_search`: the bounded query
  side is broadcast, so the plan is a BroadcastNestedLoopJoin over a
  single scan of the corpus: O(|Q| * N) work with NO shuffle of the
  corpus and no CartesianProduct exchange. The correct *exact* plan at
  100 TB when |Q| is small (the "embed a prompt, find neighbors" shape).
- LSH — :func:`cosine_topk_lsh`, :func:`mips_topk_lsh`: random-hyperplane
  buckets (:func:`hyperplane_buckets`) on both sides, candidates only
  from matching buckets, exact re-rank within; one pipeline,
  :func:`_lsh_topk`, serves both measures (MIPS is a norm augmentation,
  :func:`_augmented`, in front of it). Corpus-side work drops to the
  matching buckets; recall is tunable via tables x hyperplanes (pytest
  measures it).
- IVF — :func:`cosine_topk_ivf`, :func:`cosine_topk_ivf_hier`: corpus
  vectors sit in their nearest centroid's posting list, queries probe
  their ``nprobe`` nearest lists, exact re-rank within; one pipeline,
  :func:`_ivf_topk`, serves both quantizers through one coarse router,
  :func:`_coarse_router`.

All vector math is double-precision (functions/vectors.py); cosine is
bit-identical to DuckDB's ``list_cosine_similarity`` on DOUBLE[], making
the exact variants fully oracle-hashable.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..functions.vectors import cosine_arrow, dot, dot_arrow, to_double
from .util import checkpoint_small, spread


def _prepared(embeddings: DataFrame, prefix: str) -> DataFrame:
    # Corpus-side vector math is an interpreted higher-order fold; make
    # sure a small single-split corpus still uses every core (no-op on
    # real many-split scans).
    return spread(embeddings).select(
        F.col("vec_id").alias(f"{prefix}_id"),
        to_double(F.col("embedding")).alias(f"{prefix}_vec"),
    )


def _query_side(
    prep_n: DataFrame, queries: DataFrame | None, num_queries: int
) -> DataFrame:
    """(q_id, q_vec): ``queries`` prepared, or by default the first
    ``num_queries`` vectors of the prepared corpus (n_id < num_queries).
    Row-wise prep commutes with the id filter, so reading the default
    query side off the shared corpus frame gives the same values as
    preparing the filtered table separately."""
    if queries is not None:
        return _prepared(queries, "q")
    return prep_n.filter(F.col("n_id") < num_queries).select(
        F.col("n_id").alias("q_id"), F.col("n_vec").alias("q_vec")
    )


def _top_k(
    scored: DataFrame,
    score: str,
    k: int,
    out: str,
    cols: tuple = ("q_id", "n_id"),
) -> DataFrame:
    """The rank tail every top-k operator shares: per ``q_id``, keep the
    ``k`` rows with the highest ``score`` column (ties broken by n_id
    for determinism; a k-bounded WindowGroupLimit in the plan), emit
    ``cols``, the score rounded to 4dp as ``out`` (so the DuckDB twins
    keep identical boundary pairs) and the bigint ``rank``."""
    w = Window.partitionBy("q_id").orderBy(F.col(score).desc(), F.col("n_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            *cols,
            F.round(F.col(score), 4).alias(out),
            F.col("rank").cast("bigint").alias("rank"),
        )
    )


def cosine_topk(
    embeddings: DataFrame,
    queries: DataFrame | None = None,
    k: int = 10,
    num_queries: int = 16,
    prepared: DataFrame | None = None,
) -> DataFrame:
    """Exact cosine top-k neighbors per query vector.

    ``queries`` defaults to the first ``num_queries`` corpus vectors
    (vec_id < num_queries). Self-matches are excluded. Ties broken by
    neighbor id for determinism. Output: (q_id, n_id, cosine, rank).

    ``prepared``: reuse a precomputed ``_prepared(embeddings, "n")``
    frame (r13 — ann_recall_eval shares ONE prepared corpus between
    the exact and LSH tiers instead of each re-running the
    scan+sanitize+to_double chain).
    """
    c = prepared if prepared is not None else _prepared(embeddings, "n")
    q = _query_side(c, queries, num_queries)
    scored = (
        c.join(F.broadcast(q))
        .where(F.col("q_id") != F.col("n_id"))
        .select(
            "q_id",
            "n_id",
            cosine_arrow(F.col("q_vec"), F.col("n_vec")).alias("_cos"),
        )
    )
    return _top_k(scored, "_cos", k, "cosine")


def cosine_radius(
    embeddings: DataFrame,
    queries: DataFrame | None = None,
    threshold: float = 0.25,
    num_queries: int = 16,
) -> DataFrame:
    """Exact cosine range query — the radius-search sibling of
    :func:`cosine_topk`: ALL (query, corpus) pairs with cosine >=
    ``threshold``, not a fixed k. The shape retrieval pipelines use for
    "everything semantically close to this probe" (recall-bounded
    retrieval, near-dup audits of a candidate set) where a top-k cutoff
    would silently drop qualifying neighbors.

    Same 100 TB plan as the exact top-k: queries broadcast, ONE scan of
    the corpus, no shuffle — but no window either: the threshold filter
    is applied directly to the scored stream, so the output needs no
    per-query ranking state at all. The gate compares the 4dp-ROUNDED
    cosine so the Spark plan and the DuckDB twin keep identical
    boundary pairs; a zero vector scores NaN in IEEE math and is mapped
    to DuckDB's ``list_cosine_similarity`` convention (-1.0) before the
    gate, so degenerate vectors never pass.
    """
    if queries is None:
        queries = embeddings.filter(F.col("vec_id") < num_queries)
    q = _prepared(queries, "q")
    c = _prepared(embeddings, "n")
    cos = F.nanvl(
        cosine_arrow(F.col("q_vec"), F.col("n_vec")), F.lit(-1.0)
    )
    return (
        c.join(F.broadcast(q))
        .where(F.col("q_id") != F.col("n_id"))
        .select("q_id", "n_id", F.round(cos, 4).alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def hyperplane_buckets(
    vec_col,
    num_tables: int = 16,
    num_planes: int = 4,
    dim: int = 64,
    seed: int = 42,
    plane_source: str = "seeded",
):
    """ARRAY of ``num_tables`` LSH bucket codes from random hyperplanes.

    Hyperplanes are a fixed-seed numpy draw closed over by an
    Arrow-vectorized pandas_udf — or, with ``plane_source="portable"``,
    the integer-recurrence matrix of :func:`portable_planes`, which the
    SQL oracles rebuild in a ~0.5 KB CTE instead of embedding 87 KB of
    float literals (round-11 VERDICT item 4; bucket balance and recall
    audited Gaussian-equivalent at dim 64 on both fixtures,
    bench/plane_audit_r12.json). The dense dot-against-64-literal-planes
    pattern is exactly where a vectorized Python UDF beats Catalyst:
    higher-order folds are CodegenFallback (interpreted), and unrolled
    literal chains of this width blow Janino's method-size limit (both
    measured 10-100x slower). No RNG at execute time — the plan stays
    deterministic across runs and executors. Bucket code t = sign bits
    of <v, H[t*P+j]> for j < P, offset by table index so tables never
    collide.

    Plane dots accumulate dimension-BY-dimension (one numpy elementwise
    op per dim across the whole batch x all planes) — the exact
    sequential summation order of DuckDB's ``list_dot_product``, so the
    sign bits the oracles replay are bit-identical by CONSTRUCTION on
    any host. The previous BLAS matmul (V @ H.T) left the summation
    order to the kernel: a near-zero plane dot could flip a bit under a
    different BLAS/CPU and silently break the value-exact driver check
    (round-9 ADVICE item 1). Same big-O either way; the accumulation
    costs one extra pass over a (batch x planes) temporary.

    One UDF for every sign-LSH tier: :func:`cosine_topk_lsh` buckets the
    d-dim vectors, :func:`mips_topk_lsh` the norm-augmented d+1-dim ones
    (``dim + 1``, seed 77), and :func:`dedup.embedding_neardup_cosine`
    the raw corpus vectors.
    """
    return _bucket_udf(num_tables, num_planes, dim, seed, plane_source)(vec_col)


def _bucket_udf(
    num_tables: int, num_planes: int, dim: int, seed: int, plane_source: str
):
    """The Arrow pandas UDF behind :func:`hyperplane_buckets` (its
    ``.func`` runs the same code on a local pandas batch)."""
    if plane_source == "portable":
        planes = portable_planes(num_tables * num_planes, dim)
    else:
        rng = np.random.default_rng(seed)
        planes = rng.standard_normal((num_tables * num_planes, dim))
    weights = 1 << np.arange(num_planes - 1, -1, -1)
    offsets = np.arange(num_tables) << num_planes

    @pandas_udf("array<bigint>")
    def buckets(v: pd.Series) -> pd.Series:
        mat = np.vstack(v.to_numpy())
        # dim-by-dim accumulation: oracle-exact sign bits (see docstring)
        acc = np.zeros((len(mat), planes.shape[0]))
        for i in range(mat.shape[1]):
            acc += mat[:, i : i + 1] * planes[:, i]
        bits = (acc >= 0).astype(np.int64)
        bits = bits.reshape(len(mat), num_tables, num_planes)
        codes = (bits * weights).sum(axis=2) + offsets
        return pd.Series(codes.tolist())

    return buckets


def _lsh_topk(
    prep_n: DataFrame,
    q_prep: DataFrame,
    bucketed,
    score,
    k: int,
    out: str,
) -> DataFrame:
    """The LSH candidate pipeline both LSH tiers share: explode each
    side's bucket codes, broadcast-join the query buckets onto the
    corpus buckets, drop self-matches, dedup the candidate pairs, re-join
    the vectors, score them with ``score(q_vec, n_vec)`` and rank once
    (:func:`_top_k`).

    ``bucketed(side, prefix)`` returns ``(frame, codes)``: the side frame
    (possibly with derived columns, e.g. MIPS's ``_aug``) and the
    ARRAY<BIGINT> bucket-code column over it.

    ``prep_n`` feeds several consumers here — the corpus bucket stage,
    the re-rank join and (by default) the query side — and each would
    otherwise re-run the scan + sanitize + to_double chain, so callers
    hand it in through :func:`checkpoint_small` (r12: one eager
    localCheckpoint, the cache-the-prepared-corpus move for a
    multi-pass index build, guide §5; r13: size-gated, so corpus-scale
    frames fall back to lazy sharing instead of executor-local
    materialization).
    """

    def exploded(side: DataFrame, prefix: str) -> DataFrame:
        frame, codes = bucketed(side, prefix)
        return frame.select(f"{prefix}_id", F.explode(codes).alias("bucket"))

    # Candidate dedup on IDS ONLY (24 B/row), vectors re-attached
    # after: carrying the two 512 B vectors through the dedup shuffle
    # multiplied its volume ~40x and OOM'd a 128 GB heap on the
    # degenerate-bucket regime (clustered 800k vectors, 64 queries, 32
    # tables — found by tools/mips_recall.py round 9). The corpus
    # re-join is a plain equi-join on n_id; the query side re-attaches
    # from the same broadcast.
    qb = exploded(q_prep, "q")
    cands = (
        exploded(prep_n, "n")
        .join(F.broadcast(qb), "bucket")
        .where(F.col("q_id") != F.col("n_id"))
        .select("q_id", "n_id")
        .dropDuplicates(["q_id", "n_id"])
    )
    scored = (
        cands.join(prep_n, "n_id")
        .join(F.broadcast(q_prep), "q_id")
        .withColumn("_score", score(F.col("q_vec"), F.col("n_vec")))
    )
    return _top_k(scored, "_score", k, out)


def cosine_topk_lsh(
    embeddings: DataFrame,
    queries: DataFrame | None = None,
    k: int = 10,
    num_queries: int = 16,
    num_tables: int = 16,
    num_planes: int = 4,
    plane_source: str = "seeded",
    prepared: DataFrame | None = None,
) -> DataFrame:
    """Approximate cosine top-k: candidates share >=1 hyperplane-LSH
    bucket with the query, exact re-rank within candidates.

    Same output contract as :func:`cosine_topk` minus the guarantee of
    perfect recall (rows-only driver check; pytest measures recall
    against the exact operator). At scale the bucket join replaces the
    full corpus scan per query with the matching buckets only.
    ``prepared``: see :func:`cosine_topk`.
    """
    prep_n = (
        prepared
        if prepared is not None
        else checkpoint_small(_prepared(embeddings, "n"))
    )
    q_prep = _query_side(prep_n, queries, num_queries)

    def bucketed(side: DataFrame, prefix: str):
        return side, hyperplane_buckets(
            F.col(f"{prefix}_vec"),
            num_tables,
            num_planes,
            plane_source=plane_source,
        )

    return _lsh_topk(prep_n, q_prep, bucketed, cosine_arrow, k, "cosine")


def ann_recall_eval(
    embeddings: DataFrame,
    k: int = 10,
    num_queries: int = 16,
    plane_source: str = "seeded",
) -> DataFrame:
    """Per-query recall@k of the hyperplane-LSH tier against the exact
    brute-force tier — the standing evaluation every ANN deployment
    runs before trusting an approximate index (and re-runs as the
    corpus drifts). Joins the two result sets on (q_id, n_id):
    recall = |approx ∩ exact| / k' where k' = |exact| (k, except for
    tiny corpora).

    Both sides are the REGISTERED operators (:func:`cosine_topk`,
    :func:`cosine_topk_lsh`), so this measures the production plans,
    not a reimplementation; the join keys are two k-row-per-query
    tables (bounded: num_queries * k rows each), so the comparison
    itself costs nothing next to the searches. recall is an exact
    binary fraction (small-int division), hence hash-portable without
    rounding tricks.

    Output: (q_id, n_exact, n_hit, recall), one row per query vector.
    """
    # r13: ONE prepared corpus (gated checkpoint) serves both tiers —
    # previously the exact tier re-ran the scan+sanitize+to_double
    # chain twice (queries + corpus) and the LSH tier checkpointed its
    # own copy (guide §5).
    prep = checkpoint_small(_prepared(embeddings, "n"))
    exact = cosine_topk(
        embeddings, k=k, num_queries=num_queries, prepared=prep
    ).select("q_id", "n_id")
    approx = cosine_topk_lsh(
        embeddings,
        k=k,
        num_queries=num_queries,
        plane_source=plane_source,
        prepared=prep,
    ).select("q_id", F.col("n_id").alias("a_id"))
    hit = F.when(F.col("a_id").isNotNull(), 1).otherwise(0)
    return (
        exact.join(
            approx,
            (exact.q_id == approx.q_id) & (F.col("n_id") == F.col("a_id")),
            "left",
        )
        .drop(approx.q_id)
        .groupBy("q_id")
        .agg(
            F.count("*").alias("n_exact"),
            F.sum(hit).alias("n_hit"),
        )
        .select(
            "q_id",
            "n_exact",
            "n_hit",
            (F.col("n_hit") / F.col("n_exact")).alias("recall"),
        )
    )


def mips_topk(
    embeddings: DataFrame,
    queries: DataFrame | None = None,
    k: int = 10,
    num_queries: int = 16,
) -> DataFrame:
    """Exact maximum-inner-product top-k neighbors per query vector —
    the retrieval semantics of recommender / dual-encoder scoring
    (un-normalized dot, NOT cosine: a long vector can out-score a
    better-aligned short one, which is the point of MIPS).

    Same 100 TB plan as :func:`cosine_topk`: queries broadcast, ONE
    scan of the corpus (BroadcastNestedLoopJoin), no shuffle of the
    corpus; per-query ranking state is a bounded top-k heap. The score
    is the Arrow dim-by-dim sequential fold (functions/vectors.
    dot_arrow), bit-identical to DuckDB's ``list_dot_product``, so the
    exact variant is fully oracle-hashable. Output:
    (q_id, n_id, dotp, rank); ties broken by neighbor id.
    """
    if queries is None:
        queries = embeddings.filter(F.col("vec_id") < num_queries)
    q = _prepared(queries, "q")
    c = _prepared(embeddings, "n")
    scored = (
        c.join(F.broadcast(q))
        .where(F.col("q_id") != F.col("n_id"))
        .select(
            "q_id",
            "n_id",
            dot_arrow(F.col("q_vec"), F.col("n_vec")).alias("_dp"),
        )
    )
    return _top_k(scored, "_dp", k, "dotp")


def _augmented(df: DataFrame, prefix: str, max_norm) -> DataFrame:
    """Norm-augmentation of Bachrach et al. 2014 (the MIPS -> cosine
    reduction): scale every vector by the corpus max L2 norm, append
    sqrt(max(0, 1 - ||u||^2)) so all CORPUS vectors land on the unit
    sphere in d+1 dims; queries get a 0 appended instead (their
    augmented coordinate contributes nothing to any dot product, so
    angular order in d+1 dims == inner-product order in d dims).

    Every step is a Catalyst expression over DOUBLE (transform /
    sequential fold / sqrt), each IEEE-rounding exactly like the DuckDB
    list comprehension + list_dot_product replay — the augmented
    coordinates, and therefore the LSH sign bits downstream, are
    bit-identical across engines.
    """
    scaled = F.transform(
        F.col(f"{prefix}_vec"), lambda x: x / max_norm
    ).alias("_u")
    df = df.withColumn("_u", scaled)
    if prefix == "q":
        aug = F.concat(F.col("_u"), F.array(F.lit(0.0)))
    else:
        aug = F.concat(
            F.col("_u"),
            F.array(
                F.sqrt(
                    F.greatest(
                        F.lit(0.0),
                        F.lit(1.0) - dot(F.col("_u"), F.col("_u")),
                    )
                )
            ),
        )
    return df.withColumn(f"{prefix}_aug", aug).drop("_u")


def lsh_planes_for_corpus(
    n_rows: int,
    target_bucket: int = 128,
    min_planes: int = 4,
    max_planes: int = 16,
) -> int:
    """Planes per table so the EXPECTED sign-LSH bucket population is
    ~``target_bucket``: B = ceil(log2(n_rows / target_bucket)),
    clamped. The corpus-scaling rule the round-9 planes sweep measured
    (bench/mips_planes_sweep_r9.json): at fixed B the candidate
    fraction a query admits is ~constant (1-(1-2^-B)^T), so bucket
    population — and with it the LSH tier's whole cost advantage —
    tracks the corpus unless B grows with log2(N). At 200k rows this
    derives B=11 (vs the measured sweet spot 8-10 at recall 0.85-0.67;
    pick target_bucket by the recall SLO), at the 2k-row driver
    fixture it derives exactly the registered B=4. The sibling of
    :func:`dedup.lsh_bands_for_threshold` — derive the config from the
    data, never hard-code the fixture-scale constant.
    """
    import math

    if n_rows <= target_bucket:
        return min_planes
    b = math.ceil(math.log2(n_rows / target_bucket))
    return max(min_planes, min(max_planes, b))


def lsh_tables_for_recall(
    target_recall: float,
    num_planes: int,
    plane_agree_p: float = 0.75,
    min_tables: int = 4,
    max_tables: int = 64,
) -> int:
    """Tables T so a relevant neighbor is captured by >= 1 table with
    probability ~``target_recall`` — the T-sibling of
    :func:`lsh_planes_for_corpus` (round-9 VERDICT item 4: B was
    derived from the corpus, T=16 stayed a hard-coded fixture
    constant; §8d addendum 2 measured that past the recall-first
    point MORE TABLES, not more planes, is the recall lever).

    Capture model: a neighbor at angle θ agrees with one random
    hyperplane's sign with probability p = 1 - θ/π
    (``plane_agree_p``; the default 0.75 is the 45° neighborhood —
    cosine ~0.7, the working "near-duplicate / same-topic" band the
    registered thresholds target). It collides with one B-plane table
    with probability p^B, so recall(T) = 1 - (1 - p^B)^T and

        T = ceil( ln(1 - R) / ln(1 - p^B) ),  clamped to
        [min_tables, max_tables].

    The same formula with p = 1/2 (a RANDOM vector) is the §8d
    candidate-fraction model 1-(1-2^-B)^T — one function covers both
    readings; recall uses the neighbor's p, cost uses 1/2. Monotone in
    both R and B (pytest-pinned): tighter recall or finer buckets both
    demand more tables. Validated live at 800k vectors in
    bench/mips_rule_applied_r10.json: the derived (B, T) meets the
    floor the rule promises.
    """
    import math

    if not 0.0 < target_recall < 1.0:
        raise ValueError(f"target_recall must be in (0, 1), got {target_recall}")
    if not 0.0 < plane_agree_p < 1.0:
        raise ValueError(f"plane_agree_p must be in (0, 1), got {plane_agree_p}")
    hit = plane_agree_p**num_planes
    t = math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - hit))
    return max(min_tables, min(max_tables, t))


# Portable-plane recurrence constants (round-10 VERDICT item 8): two
# stacked multiplicative-congruential stages with distinct prime
# moduli — Knuth's 32-bit multiplier then an affine step mod the
# Mersenne prime 2^31-1 — so both engines can derive every plane entry
# from its flat index with five integer ops and one double divide.
# All intermediates stay under 2^63 (idx < ~2^17, 2654435761 < 2^32),
# so DuckDB BIGINT arithmetic never overflows. The same discipline as
# dedup.py's poly-hash minhash re-hashes: derive shared pseudo-random
# structure from portable integer arithmetic, never ship 45 KB of
# numpy literals into the oracle SQL.
PLANE_MUL1, PLANE_MOD1 = 2654435761, 4294967291
PLANE_MUL2, PLANE_ADD2, PLANE_MOD2 = 40503, 12345, 2147483647


def portable_planes(num: int, dim: int) -> "np.ndarray":
    """(num, dim) hyperplane matrix derived from the portable integer
    recurrence: entry (p, i) has flat index idx = p*dim + i and value

        h1 = ((idx+1) * 2654435761) % 4294967291
        h2 = (h1 * 40503 + 12345) % 2147483647
        h4 = ((h2*h2 % 2147483647) * 2654435761 % 2147483647 + h2)
             % 2147483647
        val = h4 / 2147483647 * 2 - 1          (uniform in [-1, 1))

    The SQUARING stage is load-bearing: a purely affine chain over a
    sequential index keeps a near-constant stride between consecutive
    entries (an LCG lattice), which correlates plane coordinates and
    UNBALANCES the sign-LSH buckets — measured at 100k unit vectors
    (13 tables x 8 planes), affine-only planes admitted ~130k expected
    candidates/query vs ~6.2k for a Gaussian draw; with the quadratic
    mix the recurrence lands at ~6.1k, Gaussian-equivalent, and the
    800k live run (bench/mips_rule_applied_r11.json) confirms recall
    AND cost in the seeded draw's regime. All intermediates stay under
    2^63 (h2 < 2^31 so h2^2 < 2^62; h3 * 2654435761 < 5.8e18), so
    DuckDB BIGINT arithmetic never overflows.

    Uniform (not Gaussian) entries lose rotation invariance, but a
    sign-LSH plane only needs directions that are roughly isotropic
    and mutually unaligned. The point of the recurrence is the ORACLE:
    DuckDB rebuilds the identical matrix from the same few integer ops
    (a ~1 KB SQL CTE instead of embedded plane literals), so parity
    stays value-exact and regeneration-proof — the same discipline as
    dedup.py's poly-hash minhash re-hashes."""
    idx = np.arange(1, num * dim + 1, dtype=np.int64)
    h1 = (idx * PLANE_MUL1) % PLANE_MOD1
    h2 = (h1 * PLANE_MUL2 + PLANE_ADD2) % PLANE_MOD2
    h4 = ((h2 * h2 % PLANE_MOD2) * PLANE_MUL1 % PLANE_MOD2 + h2) % PLANE_MOD2
    return (h4 / PLANE_MOD2 * 2.0 - 1.0).reshape(num, dim)


def estimate_plane_agree_p(
    embeddings: DataFrame,
    k: int = 10,
    num_queries: int = 16,
) -> float:
    """Estimate ``plane_agree_p`` from the corpus instead of assuming
    the 0.75 / 45° default (round-10 VERDICT item 3): sample true
    top-k MIPS neighbor pairs (exact brute-force over ``num_queries``
    queries — the same bounded evaluation ann_recall_eval runs) and
    average the per-pair probability that ONE random hyperplane puts
    query and neighbor on the same side, p = 1 - θ/π.

    θ is measured between the NORM-AUGMENTED vectors — the space the
    sign-LSH actually buckets (aug_q = (q/mx, 0), aug_c = (c/mx,
    sqrt(1-|c/mx|²)); cos θ = dot(q,c) / (mx·|q|) since |aug_c| = 1) —
    so the estimate feeds :func:`lsh_tables_for_recall`'s capture
    model with the geometry it assumes. Bounded driver collect: ONE
    scalar (the mean p over ≤ num_queries·k pairs), the sanctioned
    model-parameter class. Real corpora cluster tighter than 45°
    (~0.78 measured at 800k synthetic vectors), so the derived T
    lands below the default-p value at the same recall floor —
    table savings the 0.75 constant leaves on the table.

    NOTE: plugging the MEAN p into the closed-form rule overestimates
    recall when the pair p's spread (capture probability is convex in
    p near the operating point, so low-p pairs dominate the misses —
    measured at 800k: mean-p T=13 delivered 0.823 against the 0.85
    SLO). :func:`lsh_tables_for_recall_from_pairs` on the
    :func:`plane_agree_p_sample` distribution is the honest form; this
    scalar stays for diagnostics and rough sizing."""
    row = (
        _pair_agree_frame(embeddings, k, num_queries)
        .agg(F.avg("p"))
        .collect()[0][0]
    )
    if row is None:
        raise ValueError("estimate_plane_agree_p: no neighbor pairs")
    # clamp away from the degenerate ends so lsh_tables_for_recall's
    # log stays finite even on pathological corpora
    return min(0.99, max(0.51, float(row)))


def _pair_agree_frame(
    embeddings: DataFrame, k: int, num_queries: int
) -> DataFrame:
    """One column ``p``: per true-top-k-pair plane-agreement
    probability 1 - θ/π in the augmented space (see
    :func:`estimate_plane_agree_p` for the geometry)."""
    import math

    norm_row = (
        _prepared(embeddings, "n")
        .select(F.sqrt(dot(F.col("n_vec"), F.col("n_vec"))).alias("nn"))
        .agg(F.max("nn"))
        .collect()[0][0]
    )
    if norm_row is None:
        raise ValueError("estimate_plane_agree_p: empty corpus")
    mx = float(norm_row) or 1.0
    pairs = mips_topk(embeddings, k=k, num_queries=num_queries)
    qn = _prepared(embeddings, "q").select(
        "q_id", F.sqrt(dot(F.col("q_vec"), F.col("q_vec"))).alias("q_norm")
    )
    return pairs.join(qn, "q_id").select(
        (
            F.lit(1.0)
            - F.acos(
                F.least(
                    F.lit(1.0),
                    F.greatest(
                        F.lit(-1.0),
                        F.col("dotp") / (F.lit(mx) * F.col("q_norm")),
                    ),
                )
            )
            / F.lit(math.pi)
        ).alias("p")
    )


def plane_agree_p_sample(
    embeddings: DataFrame, k: int = 10, num_queries: int = 16
) -> list[float]:
    """The per-pair plane-agreement probabilities behind
    :func:`estimate_plane_agree_p`, as a bounded driver-side sample
    (≤ num_queries·k floats — same sanctioned model-parameter collect
    class as the IVF centroid train). Feed to
    :func:`lsh_tables_for_recall_from_pairs`: deriving T from the
    DISTRIBUTION instead of the mean corrects the Jensen-gap
    over-promise the mean plug-in makes (measured at 800k: mean-p
    derived T=13 → recall 0.823 < the 0.85 SLO; pair-level T=15 →
    0.86-0.90 across plane sources, bench/mips_rule_applied_r11)."""
    rows = _pair_agree_frame(embeddings, k, num_queries).collect()
    if not rows:
        raise ValueError("plane_agree_p_sample: no neighbor pairs")
    return [min(0.99, max(0.01, float(r["p"]))) for r in rows]


def lsh_tables_for_recall_from_pairs(
    pair_ps: list[float],
    target_recall: float,
    num_planes: int,
    min_tables: int = 4,
    max_tables: int = 64,
) -> int:
    """Pair-distribution form of :func:`lsh_tables_for_recall`: the
    smallest T whose MODEL-MEAN recall over the sampled pairs,
    mean_i(1 - (1 - p_i^B)^T), reaches ``target_recall``. Because
    capture probability is convex in p around the operating point, the
    mean-p closed form overstates recall whenever the p_i spread;
    averaging the per-pair capture curve instead makes the promise
    hold pair-for-pair in expectation — the form a recall SLO actually
    speaks about. Monotone in target_recall and num_planes exactly as
    the scalar rule (pytest-pinned)."""
    if not pair_ps:
        raise ValueError("lsh_tables_for_recall_from_pairs: empty sample")
    if not 0.0 < target_recall < 1.0:
        raise ValueError(
            f"target_recall must be in (0, 1), got {target_recall}"
        )
    hit = np.asarray(pair_ps, dtype=float) ** num_planes
    for t in range(min_tables, max_tables + 1):
        if float(np.mean(1.0 - (1.0 - hit) ** t)) >= target_recall:
            return t
    return max_tables


def mips_topk_lsh(
    embeddings: DataFrame,
    queries: DataFrame | None = None,
    k: int = 10,
    num_queries: int = 16,
    num_tables: int = 16,
    num_planes: int = 4,
    dim: int = 64,
    seed: int = 77,
    plane_source: str = "seeded",
) -> DataFrame:
    """Approximate MIPS top-k via the norm-augmentation reduction +
    random-hyperplane LSH — the scale path of :func:`mips_topk`.

    ``plane_source="seeded"`` draws Gaussian planes from the fixed
    numpy seed (the original form, whose oracle must embed every plane
    as a literal); ``"portable"`` derives them from the integer
    recurrence (:func:`portable_planes`), which the SQL oracle rebuilds
    in a ~1 KB CTE — same plan, same recall regime (measured at 800k
    vectors, tools/mips_derived_config.py), regeneration-proof parity.

    Inner product is NOT metric (it violates the triangle inequality),
    so vanilla LSH cannot bucket it directly; the classic fix
    (Bachrach et al., RecSys 2014; Shrivastava & Li, NeurIPS 2014) maps
    corpus vectors onto the unit sphere in d+1 dims (:func:`_augmented`)
    where maximum inner product becomes minimum angle, which
    sign-random-projection LSH handles. Candidates come only from
    matching (table, code) buckets — the corpus is never crossed with
    the queries — and the exact dot re-rank uses the ORIGINAL
    d-dim vectors.

    The sign bits come from :func:`hyperplane_buckets` over the
    augmented d+1-dim vectors, whose plane dots accumulate
    dimension-BY-dimension — the exact sequential order of DuckDB's
    ``list_dot_product`` (round-9 ADVICE item 1). That makes the bucket
    assignment, hence the WHOLE approximate result, replayable
    value-exactly by the SQL oracle (the similarity_topk_lsh precedent,
    plus the augmentation).
    """
    # r12/r13: the gated checkpoint also serves the max-norm aggregate
    # below, a fourth consumer next to the three in _lsh_topk.
    prep_n = checkpoint_small(_prepared(embeddings, "n"))
    q_prep = _query_side(prep_n, queries, num_queries)

    # Bounded driver collect: ONE scalar (the corpus max norm) — the
    # same sanctioned model-parameter class as the IVF centroid train.
    raw_norm = (
        prep_n
        .select(F.sqrt(dot(F.col("n_vec"), F.col("n_vec"))).alias("nn"))
        .agg(F.max("nn"))
        .collect()[0][0]
    )
    if raw_norm is None:
        raise ValueError(
            "mips_topk_lsh: empty corpus — no max norm to augment with"
        )
    # All-zero corpus: any scale works (every dot is 0); 1.0 keeps the
    # augmentation finite instead of dividing by zero into NaN buckets
    # (round-9 ADVICE item 2).
    max_norm = float(raw_norm) or 1.0

    def bucketed(side: DataFrame, prefix: str):
        return _augmented(side, prefix, F.lit(max_norm)), hyperplane_buckets(
            F.col(f"{prefix}_aug"),
            num_tables,
            num_planes,
            dim + 1,
            seed,
            plane_source=plane_source,
        )

    return _lsh_topk(prep_n, q_prep, bucketed, dot_arrow, k, "dotp")


# ---------------------------------------------------------------------------
# IVF (inverted-file) approximate nearest neighbors
# ---------------------------------------------------------------------------

def ivf_centroids(
    embeddings: DataFrame, stride: int = 61, max_centroids: int = 4096
) -> list:
    """Deterministic centroid sample: every ``stride``-th vector by id,
    with ``|C|`` HARD-CAPPED at ``max_centroids``.

    This is the "train" step of IVF. Like spark.ml KMeans, the trained
    centroid set is a bounded, driver-held model parameter — the one
    sanctioned collect in this module. The cap makes the collect
    O(max_centroids) regardless of N (round-2 VERDICT: the uncapped
    N/stride collect was a driver-OOM at 100 TB): the effective stride
    is widened to ceil(max_id / max_centroids) when the nominal stride
    would exceed the cap, which keeps the sample deterministic (a pure
    function of vec_id) and therefore replayable by the SQL oracle. A
    k-means refinement on this sample would slot in here without
    touching the plan topology below.
    """
    max_id = embeddings.agg(F.max("vec_id")).collect()[0][0] or 0
    stride = max(stride, -(-int(max_id + 1) // max_centroids))
    rows = (
        embeddings.filter(F.col("vec_id") % stride == 0)
        .select("vec_id", to_double(F.col("embedding")).alias("v"))
        .orderBy("vec_id")
        .collect()
    )
    assert len(rows) <= max_centroids + 1
    return [(int(r["vec_id"]), list(r["v"])) for r in rows]


def _nearest_ids(
    mat: np.ndarray,
    cids: np.ndarray,
    cmat: np.ndarray,
    c_norms: np.ndarray,
    nprobe: int,
    m: int,
) -> np.ndarray:
    """(batch, min(nprobe, |C|)) ids of the nearest centroids per row by
    (squared L2, cid) — the exact ranking core shared by the flat
    (:func:`_ranked_centroids`) and hierarchical
    (:func:`_ranked_cells_hier`) quantizers. The math is verbatim the
    round-7 parity-proven implementation: BLAS matmul prunes |C| -> m
    candidates in <=512-wide chunks, then the sequential dim-by-dim
    fold (bit-exact with DuckDB ``list_reduce``) decides the final
    order, ties by centroid id via stable lexsort."""
    if len(cids) <= m:
        cand = np.broadcast_to(
            np.arange(len(cids)), (len(mat), len(cids))
        )
    else:
        # BLAS matmul prunes |C| -> m candidates (the full per-dim
        # fold over all centroids moved O(b*|C|) temporaries 64x
        # through memory - measured 5x the whole-query time).
        # argpartition is invariant to adding a per-row constant, so
        # the |v|^2 term is dropped and the score built IN PLACE on
        # the matmul output (the naive broadcast form allocated two
        # extra b x |C| temporaries per batch — measured 3x the
        # matmul itself at 3k centroids). The CENTROID axis is
        # additionally processed in <=512-wide chunks with a
        # running top-m merge: at the 4096-centroid cap a full
        # b x |C| score matrix is ~400 MB per Arrow batch and 32
        # concurrent workers thrashed allocation (sf20 read
        # 79 s +- 36 s MAD); chunking holds the transient at
        # ~50 MB. Exactness is untouched — the global top-m by
        # score must be in some chunk's top-m, and the exact fold
        # on the merged candidates still decides the final order.
        chunk = 512
        best_ids = None
        best_g = None
        for lo in range(0, len(cids), chunk):
            cm = cmat[lo : lo + chunk]
            g = mat @ cm.T
            g *= -2.0
            g += c_norms[None, lo : lo + chunk]
            take = min(m, g.shape[1])
            idx = (
                np.argpartition(g, take - 1, axis=1)[:, :take]
                if g.shape[1] > take
                else np.broadcast_to(
                    np.arange(g.shape[1]), (len(mat), g.shape[1])
                )
            )
            gsel = np.take_along_axis(g, idx, axis=1)
            isel = idx + lo
            if best_ids is None:
                best_ids, best_g = isel, gsel
            else:
                best_ids = np.concatenate([best_ids, isel], axis=1)
                best_g = np.concatenate([best_g, gsel], axis=1)
                keep = np.argpartition(best_g, m - 1, axis=1)[:, :m]
                best_ids = np.take_along_axis(best_ids, keep, axis=1)
                best_g = np.take_along_axis(best_g, keep, axis=1)
        cand = best_ids
    # exact distances, bit-identical to the oracle's sequential
    # fold, on candidates only: d2 accumulates dim-by-dim in order
    cc = cmat[cand]
    d2 = np.zeros(cand.shape)
    for i in range(mat.shape[1]):
        d = mat[:, None, i] - cc[:, :, i]
        d2 += d * d
    cand_ids = cids[cand]
    order = np.lexsort((cand_ids, d2), axis=1)[:, :nprobe]
    return np.take_along_axis(cand_ids, order, axis=1)


def _ranked_centroids(vec_col, centroids, nprobe: int):
    """ARRAY<BIGINT> of the ``nprobe`` nearest centroid ids by
    (squared L2 distance, cid), Arrow-vectorized.

    Bit-exact with the DuckDB oracle's sequential fold: the distance
    accumulates dimension-by-dimension left-to-right (the numpy loop
    in :func:`_nearest_ids` runs ``d2 += (v_i - c_i)^2`` over dims in
    order; every numpy elementwise op rounds per IEEE with no fusion),
    which is the exact operation sequence of ``list_reduce``'s running
    sum. Ties break by centroid id: cids are sorted ascending and the
    argsort is stable.
    """
    cids = np.array([c for c, _ in centroids], dtype=np.int64)
    assert (np.diff(cids) > 0).all()
    cmat = np.array([v for _, v in centroids])
    c_norms = (cmat * cmat).sum(axis=1)
    # Candidate margin: the exact fold runs only on the top-m centroids
    # by matmul distance. Approx-vs-exact d2 differ by last-ulp rounding
    # (~1e-12 relative), so the true top-nprobe can escape the top-m only
    # if > m-nprobe centroids tie within that noise — not a real risk at
    # m = max(16, 4*nprobe).
    m = max(16, 4 * nprobe)

    @pandas_udf("array<bigint>")
    def ranked(v: pd.Series) -> pd.Series:
        mat = np.vstack(v.to_numpy())
        ids = _nearest_ids(mat, cids, cmat, c_norms, nprobe, m)
        return pd.Series(ids.tolist())

    return ranked(vec_col)


def _coarse_router(routing: tuple) -> tuple[list, Callable]:
    """``(cells, ranker)`` for a driver-held coarse model: ``routing``
    is ``("flat", [(cid, vec), ...])`` (:func:`ivf_centroids`) or
    ``("hier", (l1, l2))`` (:func:`ivf_model_hier`); ``cells`` is the
    flat ``[(cell, vec), ...]`` list of every routable cell (sorted by
    cell id) and ``ranker(col, n)`` the ARRAY<BIGINT> of ``col``'s ``n``
    nearest cells (:func:`_ranked_centroids` /
    :func:`_ranked_cells_hier`). Every IVF-family consumer routes
    through here (the IVF top-k tiers, the IVF-PQ index build and
    reload, ``semdedup_scaled``)."""
    kind, model = routing
    if kind == "hier":
        cells = sorted(cell for lst in model[1].values() for cell in lst)

        def ranker(col, n):
            return _ranked_cells_hier(col, model, n)
    else:
        cells = model

        def ranker(col, n):
            return _ranked_centroids(col, model, n)

    return cells, ranker


def _cell_of(ranker, vec_col):
    """A vector's coarse cell: the head of its 1-probe list.
    try_element_at: a vector routed to a memberless shard (external hier
    models only) has an EMPTY probe list, so its cell is NULL and it
    joins nothing; flat probe lists are never empty."""
    return F.try_element_at(ranker(vec_col, 1), F.lit(1))


def _cell_table(spark, cells: list) -> DataFrame:
    """(cell BIGINT, cv ARRAY<DOUBLE>): the routable cells as a tiny
    broadcast-sized frame (residual subtraction, d2-to-centroid)."""
    return spark.createDataFrame(
        [(int(c), list(map(float, v))) for c, v in cells],
        "cell BIGINT, cv ARRAY<DOUBLE>",
    )


def _ivf_topk(
    prep: DataFrame, routing: tuple, k: int, num_queries: int, nprobe: int
) -> DataFrame:
    """The posting-list pipeline both IVF tiers share (the analogue of
    :func:`_lsh_topk`): corpus vectors sit in their nearest cell's
    posting list (a NARROW expression — no shuffle), each query probes
    its ``nprobe`` nearest cells, candidates come from an equi-join on
    the cell id, exact cosine re-rank within, one :func:`_top_k` tail.

    ONE prepared corpus expression (``prep``) serves the corpus
    assignment and the query side (:func:`_query_side`), and — when the
    hier tier trains in-call — the train passes. Shared LAZILY on
    purpose: an eager checkpoint here was interleave-A/B'd WORSE (1.26
    -> 1.62 s at sf0.1 on the hier tier) — with only two post-train
    consumers and no collect in the serve path, the extra
    materialization job costs more than the duplicated
    scan+sanitize+to_double chain it saves (unlike mips_topk_lsh, whose
    FOUR consumers include a max-norm collect).
    """
    _, ranker = _coarse_router(routing)
    e = prep.withColumn("cid", _cell_of(ranker, F.col("n_vec")))
    q = (
        _query_side(prep, None, num_queries)
        .withColumn("probes", ranker(F.col("q_vec"), nprobe))
        .select("q_id", "q_vec", F.explode("probes").alias("cid"))
    )
    scored = (
        e.join(F.broadcast(q), "cid")
        .where(F.col("q_id") != F.col("n_id"))
        .withColumn("_cos", cosine_arrow(F.col("q_vec"), F.col("n_vec")))
    )
    return _top_k(scored, "_cos", k, "cosine")


def cosine_topk_ivf(
    embeddings: DataFrame,
    k: int = 10,
    num_queries: int = 16,
    stride: int = 61,
    nprobe: int = 4,
    centroids: list | None = None,
) -> DataFrame:
    """IVF approximate top-k on the flat coarse quantizer
    (:func:`ivf_centroids`), served by :func:`_ivf_topk`.

    At 100 TB: assignment adds O(|C|) flops per row inside the scan,
    the candidate join touches ~nprobe/|C| of the corpus per query, and
    the only shuffles are the (small) candidate set by q_id. Unlike the
    hyperplane-LSH variant the whole operator is deterministic, so the
    driver check is value-exact (the DuckDB oracle replays the same
    assignment/probing).
    """
    cents = centroids if centroids is not None else ivf_centroids(embeddings, stride)
    return _ivf_topk(
        _prepared(embeddings, "n"), ("flat", cents), k, num_queries, nprobe
    )


# ---------------------------------------------------------------------------
# Hierarchical (two-level) coarse quantizer — the occupancy-constant
# scale path past the flat 4096-centroid cap (round-7 VERDICT item 2)
# ---------------------------------------------------------------------------

def ivf_model_hier(
    embeddings: DataFrame,
    target_occupancy: int = 64,
    max_l1: int = 4096,
    max_cells: int = 65536,
    prepared: DataFrame | None = None,
) -> tuple[list, dict]:
    """Train the two-level coarse quantizer: ``(l1, l2)`` where ``l1``
    is the level-1 shard centroid list ``[(sid, vec), ...]`` and ``l2``
    maps each shard id to its level-2 cell centroids
    ``{sid: [(cell_id, vec), ...]}``.

    Why two levels: the flat :func:`ivf_centroids` hard-caps |C| at
    4096 to bound its driver collect, so past ~262k vectors per shard
    (at occupancy 64) cell occupancy grows as N/4096 and every
    IVF-family consumer silently degrades — `semdedup_scaled`'s
    verdicts become the max_bucket approximation, posting lists stop
    shrinking. Hierarchy restores the occupancy-constant property:
    cell count = N/target up to ``max_cells`` while BOTH driver
    collects stay individually bounded (level-1 <= max_l1+1 rows,
    level-2 <= max_cells + max_l1 + 1 rows — each cell centroid is 64
    doubles, so the full model at the 65536-cell cap is ~34 MB,
    broadcast-sized). The occupancy-constant regime now extends to
    max_cells * target = ~4.2M vectors PER SHARD of a corpus at the
    defaults — and sharding the corpus (the 100 TB deployment shape)
    multiplies that by the shard count.

    Train step (deterministic, oracle-replayable end to end):

    - level-1: stride-sample ``k1 = min(max_l1,
      ceil(sqrt(total_cells)))`` shard centroids by vec_id (stride =
      ceil(n/k1)) — sqrt-sizing balances the two matmul fan-outs;
    - shard assignment: one Arrow-matmul pass of the corpus against
      the k1-row level-1 table (:func:`_nearest_ids`, exact fold on
      the pruned candidates, ties by sid);
    - level-2: within each shard, members rank by vec_id and every
      ``eff_target``-th member is a cell centroid (cell id = that
      member's vec_id, globally unique). Stride-in-rank sampling is
      density-adaptive at BOTH levels: a shard with 10x the members
      gets 10x the cells, which is what holds occupancy ~target on
      clustered corpora (measured, bench/occupancy_r7.json for the
      flat tier).

    The model is returned as plain Python (the module's sanctioned
    bounded collects) so query-many callers train once.

    Train cost: ONE corpus shuffle (the per-shard vec_id rank window)
    plus one Arrow-matmul assignment pass — a one-time index-build
    expense, measured sub-linear wall on the scale fixtures (1.9 →
    4.4 s over 200k → 800k vectors, alpha ~0.5;
    bench/hier_train_cost_r8.json). At 100 TB this is the standard
    IVF train step: run once per snapshot, amortized over every query
    the model serves.
    """
    import math

    # r13: every train pass (max-id scalar, level-1 stride sample,
    # shard assignment) reads the SAME prepared corpus; ``prepared``
    # lets callers that also serve from it (cosine_topk_ivf_hier)
    # hand in one gated checkpoint instead of re-running the
    # scan+sanitize+to_double chain per pass. Row-wise prep commutes
    # with the id filters, so l1 is value-identical to the old
    # raw-embeddings derivation.
    prep = prepared if prepared is not None else _prepared(embeddings, "n")
    max_id = prep.agg(F.max("n_id")).collect()[0][0] or 0
    n = int(max_id) + 1
    eff_target = max(target_occupancy, -(-n // max_cells))
    total_cells = min(-(-n // target_occupancy), max_cells)
    k1 = min(max_l1, math.ceil(math.sqrt(total_cells)))
    l1_stride = -(-n // k1)
    l1_rows = (
        prep.filter(F.col("n_id") % l1_stride == 0)
        .select(F.col("n_id").alias("vec_id"), F.col("n_vec").alias("v"))
        .orderBy("vec_id")
        .collect()
    )
    l1 = [(int(r["vec_id"]), list(r["v"])) for r in l1_rows]
    assert len(l1) <= max_l1 + 1
    shard = prep.select(
        F.col("n_id").alias("vec_id"),
        F.col("n_vec").alias("v"),
        F.element_at(_ranked_centroids(F.col("n_vec"), l1, 1), 1).alias("sid"),
    )
    w = Window.partitionBy("sid").orderBy("vec_id")
    cell_rows = (
        shard.withColumn("rn", F.row_number().over(w))
        .filter((F.col("rn") - 1) % eff_target == 0)
        .select("sid", "vec_id", "v")
        .orderBy("vec_id")
        .collect()
    )
    assert len(cell_rows) <= max_cells + max_l1 + 1
    l2: dict[int, list] = {}
    for r in cell_rows:
        l2.setdefault(int(r["sid"]), []).append(
            (int(r["vec_id"]), list(r["v"]))
        )
    return l1, l2


def _ranked_cells_hier(vec_col, model: tuple, nprobe: int):
    """ARRAY<BIGINT> of the ``nprobe`` nearest cell ids under the
    two-level quantizer, Arrow-vectorized: rank the ``nprobe`` nearest
    level-1 shards (exact fold via :func:`_nearest_ids`, ties by sid),
    then rank the union of those shards' cells by (d2, cell_id) and
    keep ``nprobe``. With nprobe=1 this is the corpus assignment
    (nearest shard -> nearest cell within); queries use nprobe probes
    at both levels. Every distance is the sequential dim-by-dim fold,
    so the DuckDB oracle replays the routing exactly.
    """
    l1, l2 = model
    sids = np.array([s for s, _ in l1], dtype=np.int64)
    assert (np.diff(sids) > 0).all()
    smat = np.array([v for _, v in l1])
    s_norms = (smat * smat).sum(axis=1)
    cells = {
        s: (
            np.array([c for c, _ in lst], dtype=np.int64),
            np.array([v for _, v in lst]),
            (np.array([v for _, v in lst]) ** 2).sum(axis=1),
        )
        for s, lst in l2.items()
    }
    p1 = min(nprobe, len(sids))
    m = max(16, 4 * p1)

    @pandas_udf("array<bigint>")
    def ranked(v: pd.Series) -> pd.Series:
        mat = np.vstack(v.to_numpy())
        b = len(mat)
        shard_rank = _nearest_ids(mat, sids, smat, s_norms, p1, m)
        if nprobe == 1:
            # corpus-assignment fast path (the hot path: every corpus
            # row, every micro-partition): exactly one probed shard per
            # row, so the winning cell comes straight from
            # _nearest_ids' matmul-pruned exact ranking — no candidate
            # merge, no per-row Python. The first clustered curve read
            # alphas 1.8/1.4 on the full-width interpreted fold this
            # path replaces (BASELINE.md §7b).
            # -1 sentinel = row routed to a memberless shard: same
            # semantics as the multi-probe branch below (a cell-less
            # shard contributes no candidates -> empty probe list).
            # Unreachable for the training corpus (every shard has >=1
            # member by construction), but the public
            # cosine_topk_ivf_hier accepts external models/vectors —
            # without this guard a row routing here raised KeyError
            # inside the Arrow UDF (round-8 ADVICE).
            out = np.full(b, -1, dtype=np.int64)
            for s in np.unique(shard_rank[:, 0]):
                rows = np.where(shard_rank[:, 0] == s)[0]
                if int(s) not in cells:
                    continue
                ids_s, cm_s, n_s = cells[int(s)]
                out[rows] = _nearest_ids(
                    mat[rows], ids_s, cm_s, n_s, 1, 16
                )[:, 0]
            return pd.Series([[int(c)] if c >= 0 else [] for c in out])
        cand_ids: list[list] = [[] for _ in range(b)]
        cand_d2: list[list] = [[] for _ in range(b)]
        for s in np.unique(shard_rank):
            if int(s) not in cells:
                # a shard can end up memberless when duplicate vectors
                # tie its centroid into a lower-sid shard — it then has
                # no cells, exactly like the oracle's member-derived
                # h_cells CTE, so probing it contributes nothing
                continue
            ids_s, cm_s, _n_s = cells[int(s)]
            rows = np.where((shard_rank == s).any(axis=1))[0]
            sub = mat[rows]
            # exact sequential fold, dim-by-dim in order (oracle-exact)
            d2 = np.zeros((len(rows), len(ids_s)))
            for i in range(sub.shape[1]):
                d = sub[:, None, i] - cm_s[None, :, i]
                d2 += d * d
            for j, r in enumerate(rows):
                cand_ids[r].append(ids_s)
                cand_d2[r].append(d2[j])
        out = []
        for r in range(b):
            if not cand_ids[r]:
                out.append([])
                continue
            ids_r = np.concatenate(cand_ids[r])
            d2_r = np.concatenate(cand_d2[r])
            order = np.lexsort((ids_r, d2_r))[:nprobe]
            out.append(ids_r[order].tolist())
        return pd.Series(out)

    return ranked(vec_col)


def cosine_topk_ivf_hier(
    embeddings: DataFrame,
    k: int = 10,
    num_queries: int = 16,
    nprobe: int = 4,
    target_occupancy: int = 64,
    model: tuple | None = None,
) -> DataFrame:
    """IVF approximate top-k on the HIERARCHICAL coarse quantizer —
    the same posting-list pipeline as :func:`cosine_topk_ivf`
    (:func:`_ivf_topk`) but with cell routing that keeps occupancy
    ~``target_occupancy`` past the flat tier's 4096-centroid cap (see
    :func:`ivf_model_hier`). Deterministic end to end: the DuckDB
    oracle replays both quantizer levels, so the driver check is
    value-exact.
    """
    prep = _prepared(embeddings, "n")
    mdl = (
        model
        if model is not None
        else ivf_model_hier(
            embeddings, target_occupancy=target_occupancy, prepared=prep
        )
    )
    return _ivf_topk(prep, ("hier", mdl), k, num_queries, nprobe)


def knn_label_vote(
    embeddings: DataFrame, k: int = 10, num_queries: int = 16
) -> DataFrame:
    """k-NN majority-vote label prediction for the query vectors — the
    label-propagation / auto-labeling step of a training-data pipeline,
    composed from the exact top-k search.

    Plan: :func:`cosine_topk` yields ``num_queries * k`` rows — bounded
    by the CALLER'S parameters, not by the corpus size, which is what
    legitimizes the broadcast hint (broadcasting anything
    corpus-proportional would OOM at scale; here the corpus only feeds
    the broadcast through a top-k reduction). The broadcast side rides
    onto ONE pass over the corpus to pick up neighbor labels — the
    corpus is never shuffled. The vote argmax is a rank-1 window over
    at most ``k`` rows per query, ties broken by label id so the
    prediction is deterministic. Callers with a large query set should
    drop to the unhinted join and let AQE choose.
    """
    topk = cosine_topk(embeddings, k=k, num_queries=num_queries)
    labeled = embeddings.select(
        F.col("vec_id").alias("n_id"), F.col("label").alias("pred_label")
    ).join(F.broadcast(topk.select("q_id", "n_id")), "n_id")
    votes = labeled.groupBy("q_id", "pred_label").agg(
        F.count("*").alias("n_votes")
    )
    w = Window.partitionBy("q_id").orderBy(
        F.col("n_votes").desc(), F.col("pred_label")
    )
    return (
        votes.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("q_id", "pred_label", "n_votes")
    )


def hash_embed_search(
    docs: DataFrame, dim: int = 16, num_queries: int = 8, k: int = 5
) -> DataFrame:
    """End-to-end text retrieval: tokenizer → hash embedding → exact
    cosine search, fused into one query — the minimal RAG loop with no
    model dependency.

    The embedding is a ``dim``-bucket token-count vector (bucket = first
    md5 hex nibble of the token), so every coordinate is a small
    integer: dot products and norms are EXACT in IEEE double regardless
    of summation order, which makes the whole pipeline — including the
    cosine — bit-identical to the SQL oracle with no rounding tricks.

    Plan: posexplode tokens (narrow) → (doc, bucket) hash agg →
    dense-vector assembly from the bucket map (JVM-side transform over
    a sequence literal) → broadcast the ``num_queries`` query vectors
    over one corpus pass (BroadcastNestedLoopJoin by design, same as
    cosine_topk) → per-query top-k rank.
    """
    tok = docs.select(
        "doc_id", F.explode(F.split(F.col("text"), " ")).alias("tok")
    )
    bucket = F.conv(F.substring(F.md5(F.col("tok")), 1, 1), 16, 10).cast("int")
    counts = (
        tok.select("doc_id", bucket.alias("bucket"))
        .groupBy("doc_id", "bucket")
        .agg(F.count("*").alias("cnt"))
    )
    vec = (
        counts.groupBy("doc_id")
        .agg(
            F.map_from_arrays(
                F.collect_list("bucket"), F.collect_list("cnt")
            ).alias("m")
        )
        .select(
            "doc_id",
            F.transform(
                F.sequence(F.lit(0), F.lit(dim - 1)),
                lambda i: F.coalesce(
                    F.element_at(F.col("m"), i.cast("int")), F.lit(0)
                ).cast("double"),
            ).alias("vec"),
        )
    )
    q = vec.filter(F.col("doc_id") < num_queries).select(
        F.col("doc_id").alias("q_id"), F.col("vec").alias("q_vec")
    )
    c = vec.select(F.col("doc_id").alias("n_id"), F.col("vec").alias("n_vec"))
    scored = (
        c.join(F.broadcast(q))
        .where(F.col("q_id") != F.col("n_id"))
        .select(
            "q_id",
            "n_id",
            cosine_arrow(F.col("q_vec"), F.col("n_vec")).alias("_cos"),
        )
    )
    return _top_k(scored, "_cos", k, "cosine")


def hard_negatives(
    embeddings: DataFrame, k: int = 5, num_queries: int = 16
) -> DataFrame:
    """(q_id, q_label, n_id, n_label, cosine, rank): hard-negative
    mining for metric learning / contrastive training — per query
    vector, the ``k`` corpus vectors MOST similar to it that carry a
    DIFFERENT label. These are the pairs a contrastive loss learns the
    most from (high similarity, wrong class); random negatives are
    mostly trivial. The standard mining pass a training-data pipeline
    runs between embedding refreshes (e.g. Contriever/DPR-style
    in-batch negative augmentation).

    Plan (100 TB): identical to :func:`cosine_topk` — the bounded query
    set broadcasts onto ONE scan of the corpus (a deliberate, allowlisted
    BroadcastNestedLoopJoin; no corpus shuffle, no CartesianProduct),
    the label-mismatch gate filters the scored stream map-side, and the
    per-query rank is a k-bounded WindowGroupLimit. Ties break on
    neighbor id for determinism; cosine is 4dp-rounded at the edge so
    the DuckDB twin keeps identical boundary pairs.
    """
    base = spread(embeddings).select(
        "vec_id", to_double(F.col("embedding")).alias("vec"), "label"
    )
    q = base.filter(F.col("vec_id") < num_queries).select(
        F.col("vec_id").alias("q_id"),
        F.col("vec").alias("q_vec"),
        F.col("label").alias("q_label"),
    )
    c = base.select(
        F.col("vec_id").alias("n_id"),
        F.col("vec").alias("n_vec"),
        F.col("label").alias("n_label"),
    )
    scored = (
        c.join(F.broadcast(q))
        .where(F.col("q_label") != F.col("n_label"))
        .select(
            "q_id",
            "q_label",
            "n_id",
            "n_label",
            cosine_arrow(F.col("q_vec"), F.col("n_vec")).alias("_cos"),
        )
    )
    return _top_k(
        scored, "_cos", k, "cosine", cols=("q_id", "q_label", "n_id", "n_label")
    )
