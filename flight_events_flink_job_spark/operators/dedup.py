"""Deduplication operators over the ``documents`` table.

The reference engine has no dedup surface (SURVEY.md §2.5 — its whole
operator set is the flight-event stream job, FlightEventAggregator.java);
these are the extension operators a 100 TB training-data pipeline needs
(SURVEY.md §2.6). Every variant is built bucket-first: candidate pairs
come from an equi-join on a bucket key (band hash, prefix token, sign
bucket), NEVER from an all-pairs cross join — the plan must contain no
CartesianProduct at any scale.

Scale notes (100 TB):
- Signatures/fingerprints are narrow per-row expressions (no shuffle).
- Candidate generation shuffles on the bucket key only; bucket sizes are
  bounded by LSH banding / prefix rarity, so the join stays sparse.
- Verification joins the (small) candidate-pair set back to per-doc
  state — two hash joins keyed by doc_id.
"""

from __future__ import annotations

import math

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.textual import POLY_MOD, poly_hash_arrow, token_set_key
from ..functions.vectors import cosine_arrow, to_double
from .util import checkpoint_small, pinned_partitions, plan_size, spread, spread_by

# ---------------------------------------------------------------------------
# Exact dedup
# ---------------------------------------------------------------------------

def dedup_exact(docs: DataFrame) -> DataFrame:
    """Exact dedup on the canonical bag-of-words key, keeping the lowest
    doc_id per group (deterministic representative).

    ``dropDuplicates(["text"])`` is the trivial byte-exact variant; this
    normalizes to sorted distinct tokens first so reordered/repeated-word
    copies collapse too. One shuffle (window partition by key); at scale
    this is the plain hash-partitioned first-row-per-key pattern.
    """
    w = Window.partitionBy("key")
    return (
        docs.withColumn("key", token_set_key(F.col("text")))
        .withColumn("rn", F.row_number().over(w.orderBy("doc_id")))
        .withColumn("n_members", F.count("*").over(w))
        .filter(F.col("rn") == 1)
        .select("doc_id", "lang", "source", "n_chars", "n_members")
    )


def dedup_keep_best(docs: DataFrame) -> DataFrame:
    """Exact dedup keeping the BEST member per group (longest document,
    ties to the lowest doc_id) — the canonical-selection policy a
    curation pipeline actually wants, vs :func:`dedup_exact`'s
    keep-first.

    Plan shape deliberately differs from dedup_exact: ``max_by`` with a
    composite (n_chars, -doc_id) ordering struct is a plain hash
    aggregate — partial argmax on the map side, one exchange at GROUP
    cardinality, no window sort. At 100 TB that beats the
    row_number-over-window formulation (which must co-locate AND sort
    every group) and is the shape to prefer whenever only the argmax row
    is needed.
    """
    keyed = docs.withColumn("key", token_set_key(F.col("text")))
    best = keyed.groupBy("key").agg(
        F.max_by(
            F.struct("doc_id", "lang", "source", "n_chars"),
            F.struct(F.col("n_chars").alias("q"), (-F.col("doc_id")).alias("tb")),
        ).alias("best"),
        F.count("*").alias("n_members"),
    )
    return best.select(
        F.col("best.doc_id").alias("doc_id"),
        F.col("best.lang").alias("lang"),
        F.col("best.source").alias("source"),
        F.col("best.n_chars").alias("n_chars"),
        "n_members",
    )


# ---------------------------------------------------------------------------
# MinHash + banded LSH near-dup
# ---------------------------------------------------------------------------

def exploded_shingles(docs: DataFrame, n: int = 3) -> DataFrame:
    """(doc_id, shingle) — DISTINCT word n-gram shingles, one per row.

    posexplode the token array (split evaluated once per doc), assemble
    n-grams with ``lead`` over (doc_id, pos), dedup per doc. Everything
    is native/codegen; the window + distinct share one hash exchange on
    doc_id. This is the preferred input form: the per-row array
    alternative (functions/textual.py word_shingles) evaluates its
    higher-order ``transform`` interpreted and re-evaluates ``split``
    per element — measured ~8s vs ~1s at sf0.1 for the same output.
    r12: the input spread is KEYED on doc_id (:func:`spread_by`) so the
    window consumes the pinned exchange directly — one shuffle instead
    of round-robin + an AQE-coalescible ENSURE_REQUIREMENTS exchange
    that serialized the whole shingle-assembly stage (1.0-1.3 s →
    0.5 s at sf0.1, and this primitive feeds every dedup-tier query).
    """
    toks = spread_by(docs, "doc_id").select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "tok")
    )
    return (
        _lead_ngrams(toks, n, "doc_id", name="shingle")
        .filter(F.col("_last").isNotNull())
        .select("doc_id", "shingle")
        .distinct()
    )


def _lead_ngrams(
    toks: DataFrame, n: int, *keep: str, name: str = "gram"
) -> DataFrame:
    """``keep`` columns of a position-exploded (doc_id, pos, tok) token
    frame, plus the word ``n``-gram starting at each position as
    ``name`` and its last token as ``_last`` — NULL on the final n-1
    positions of a document, where the gram is cut short. Both ride
    ONE window over (doc_id, pos); callers filter or mask on ``_last``."""
    w = Window.partitionBy("doc_id").orderBy("pos")
    parts = [F.col("tok")] + [F.lead("tok", k).over(w) for k in range(1, n)]
    return toks.select(
        *keep,
        F.concat_ws(" ", *parts).alias(name),
        F.lead("tok", n - 1).over(w).alias("_last"),
    )


def shingle_sets(
    docs: DataFrame, n: int = 3, exploded: DataFrame | None = None
) -> DataFrame:
    """(doc_id, shingles ARRAY<STRING>) with distinct word n-gram
    shingles (array order unspecified — consumers are set-algebraic).
    ``exploded``: reuse a precomputed :func:`exploded_shingles` frame
    (r12: multi-consumer operators checkpoint the shingle prelude once
    instead of re-deriving it per branch)."""
    if exploded is None:
        exploded = exploded_shingles(docs, n)
    return exploded.groupBy("doc_id").agg(
        F.collect_list("shingle").alias("shingles")
    )


def minhash_signatures(
    docs: DataFrame,
    num_hashes: int = 64,
    n: int = 3,
    exploded: DataFrame | None = None,
) -> DataFrame:
    """(doc_id, sig ARRAY<BIGINT>[num_hashes]) MinHash signatures.

    sig[i] = min over shingles of xxhash64(shingle, i) (Spark's
    deterministic 64-bit hash). Computed as explode + one HashAggregate
    with ``num_hashes`` min buffers: every expression is a plain
    builtin inside whole-stage codegen. The equivalent per-row
    array fold (aggregate+zip_with over the shingle array) avoids the
    explode/shuffle but runs interpreted (higher-order functions are
    CodegenFallback) — measured several times slower; the shuffle here
    is partial-min-aggregated before the exchange, so it moves one
    64-long row per doc per partition, not the exploded shingles.
    """
    if exploded is None:
        exploded = exploded_shingles(docs, n)
    exploded = exploded.withColumnRenamed("shingle", "s")
    mins = [
        F.min(F.xxhash64(F.col("s"), F.lit(i))).alias(f"h{i}")
        for i in range(num_hashes)
    ]
    return (
        exploded.groupBy("doc_id")
        .agg(*mins)
        .select("doc_id", F.array(*[f"h{i}" for i in range(num_hashes)]).alias("sig"))
    )


def banded_signatures(sigs: DataFrame, bands: int = 16) -> DataFrame:
    """(doc_id, band, band_hash): the banded expansion of MinHash
    signatures — one row per (doc, band), hash over the band's
    signature slice. The LSH self-join's shuffle key, exposed
    separately so an INCREMENTAL index can persist it bucketed on
    (band, band_hash) and join new snapshots against it
    co-partitioned (:func:`incremental_neardup_keyed`)."""
    # No materialization barrier needed: minhash_signatures ends in an
    # aggregate, so `sig` is a real attribute (never re-inlined) and the
    # plan is already hash-distributed by doc_id.
    rows = F.size(F.col("sig")) / bands
    band_hashes = F.transform(
        F.sequence(F.lit(0), F.lit(bands - 1)),
        lambda j: F.xxhash64(F.slice(F.col("sig"), (j * rows + 1).cast("int"), rows.cast("int"))),
    )
    return sigs.select(
        "doc_id", F.posexplode(band_hashes).alias("band", "band_hash")
    )


def lsh_candidate_pairs(
    sigs: DataFrame, bands: int = 16, dedup: bool = True
) -> DataFrame:
    """Banded LSH: signature split into ``bands`` bands, docs sharing any
    band hash become a candidate pair.

    Shuffle key = (band index, band hash): the classic sparse LSH
    self-join. With b=16, r=4 the capture probability at jaccard j is
    1-(1-j^4)^16 (≈0.9998 at j=0.8) — tune bands/rows per threshold.
    """
    banded = banded_signatures(sigs, bands)
    a, b = banded.alias("a"), banded.alias("b")
    out = (
        a.join(b, ["band", "band_hash"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b")
        )
    )
    # dedup=False: callers that union this stream with another generator
    # and dedup ONCE there skip this exchange (r12 — the set is
    # identical either way; distinct(union(raw)) == distinct(union(
    # distinct(raw)))).
    return out.distinct() if dedup else out


def verify_jaccard(pairs: DataFrame, shingles: DataFrame, threshold: float) -> DataFrame:
    """Exact-Jaccard verification of candidate pairs (two doc_id joins,
    scored by :func:`_jaccard`).

    MEASURED NEGATIVE (recorded): eagerly checkpointing
    the shingle-set frame for the two pair sides was interleave-A/B'd
    neutral-to-worse on all three consumers (ngram 2.83 vs 2.93 s,
    near_minhash 1.62 vs 1.69 s, incremental 1.69 vs 1.73 s at sf0.1)
    — AQE's runtime exchange reuse already dedupes the collect_list
    exchange, so the extra materialization job only serializes the
    remaining cheap final-aggregate work.
    """
    ss = shingles
    sa = ss.select(
        F.col("doc_id").alias("doc_a"), F.col("shingles").alias("sa")
    )
    sb = ss.select(
        F.col("doc_id").alias("doc_b"), F.col("shingles").alias("sb")
    )
    return (
        pairs.join(sa, "doc_a")
        .join(sb, "doc_b")
        .withColumn("jaccard", _jaccard(F.col("sa"), F.col("sb")))
        .filter(F.col("jaccard") >= threshold)
        .select("doc_a", "doc_b", "jaccard")
    )


def _jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard of two distinct-element shingle arrays, rounded to
    4dp: |A∩B| / (|A|+|B|−|A∩B|). r13: the union size comes from two
    size() lookups, so each pair builds ONE hash set — the same
    integers as materializing the union, hence bit-identical division.
    The DuckDB twin is ``registry_ext.jaccard_edges``."""
    inter = F.size(F.array_intersect(a, b))
    union = F.size(a) + F.size(b) - inter
    return F.round(inter.cast("double") / union.cast("double"), 4)


def dedup_near_minhash(
    docs: DataFrame,
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    n: int = 3,
) -> DataFrame:
    """Near-duplicate pairs by MinHash+LSH candidates, exact-verified.

    Output: (doc_a, doc_b, jaccard) for verified pairs with trigram-set
    Jaccard >= threshold. The oracle is the exact all-pairs computation
    (feasible at oracle scale); LSH parameters are sized so capture
    probability at the threshold is ~1, making the approximate plan
    exact on the fixture distribution (near-dups cluster at j>=0.85,
    background mass at j~0).
    """
    # r12: the signature path and the verify path each re-derived the
    # shingle prelude (scan + tokenize + window + distinct) — one
    # eager localCheckpoint computes it once and both branches read
    # the materialized rows (guide §5; same intra-query pattern as
    # connected_components). r13: gated on the optimizer's size
    # estimate (checkpoint_small) — at corpus scale the exploded
    # shingle stream is a multiple of input bytes and must fall back
    # to lazy sharing instead of executor-local materialization.
    exploded = checkpoint_small(exploded_shingles(docs, n))
    sh = shingle_sets(docs, n, exploded=exploded)
    cands = lsh_candidate_pairs(
        minhash_signatures(docs, num_hashes, n, exploded=exploded), bands
    )
    return verify_jaccard(cands, sh, threshold)


# ---------------------------------------------------------------------------
# Exact n-gram Jaccard join via prefix filtering (AllPairs-style)
# ---------------------------------------------------------------------------

def prefix_filter_pairs(
    exploded: DataFrame,
    threshold: float,
    df_cap: int | None = None,
    dedup: bool = True,
) -> DataFrame:
    """COMPLETE candidate pairs for Jaccard >= threshold via prefix
    filtering (Bayardo et al., WWW'07 "Scaling Up All Pairs Similarity
    Search") with the PPJoin length and positional filters (Xiao et
    al., WWW'08). Input: exploded (doc_id, shingle) distinct rows.

    Shingles are globally ordered by (document frequency, value); each
    doc exposes only its first ``|S| - ceil(t*|S|) + 1`` shingles (the
    prefix). Any pair with J >= t must share a prefix shingle, so the
    equi-join on prefix shingles loses nothing while joining only on the
    rarest tokens — this is what keeps the join sparse at scale. Two
    further exactness-preserving prunes run inside the probe stage
    (post-join predicates, before the pair-distinct exchange):

    - **length filter**: J >= t forces t*|Sa| <= |Sb| <= |Sa|/t, so
      wildly different-size docs never become a candidate even when a
      growing corpus makes their prefix tokens collide;
    - **positional filter**: a match of a's pos-i prefix token with
      b's pos-j token caps the achievable overlap at
      ``1 + min(|Sa|-i, |Sb|-j)``; J >= t needs overlap >=
      ceil(t/(1+t) * (|Sa|+|Sb|)), so late-position collisions are
      dropped. Both bounds are theorems, not heuristics — with
      ``df_cap=None`` the output is still provably complete.

    ``df_cap`` (optional) additionally drops prefix tokens whose
    document frequency exceeds the cap — the same boilerplate bound
    :func:`edit_candidate_pairs` uses. This bounds per-token join
    fan-out at df_cap^2 and makes the candidate stream linear in corpus
    size, at the cost of completeness ONLY for pairs whose every shared
    prefix shingle occurs in > df_cap documents (boilerplate-only
    overlap — exactly the pairs a dedup pipeline should not link on).
    Pass None (default) for the theorem-complete audit tier.
    """
    freq = exploded.groupBy("shingle").agg(F.count("*").alias("df"))
    prefix_len = (
        F.col("set_size")
        - F.ceil(F.lit(threshold) * F.col("set_size")).cast("int")
        + 1
    )
    ordered = (
        exploded.join(freq, "shingle")
        .withColumn("set_size", F.count("*").over(Window.partitionBy("doc_id")))
        .withColumn(
            "pos",
            F.row_number().over(
                Window.partitionBy("doc_id").orderBy("df", "shingle")
            ),
        )
        .filter(F.col("pos") <= prefix_len)
    )
    if df_cap is not None:
        ordered = ordered.filter(F.col("df") <= df_cap)
    ordered = ordered.select("doc_id", "shingle", "set_size", "pos")
    # r13 MEASURED NEGATIVE (recorded): pinning this self-join's
    # partitioning on `shingle` (the simhash/user_triangles lever) was
    # interleave-A/B'd at 3.0->5.3 s on dedup_ngram_jaccard and
    # reverted — unlike the pair EXPANSIONS, this join is input-heavy
    # (candidates are filtered down), so the broadcast build +
    # AQE-reused exchange of the r12 shape already beats a pinned SMJ.
    a, b = ordered.alias("a"), ordered.alias("b")
    sz_a, sz_b = F.col("a.set_size"), F.col("b.set_size")
    # overlap needed for J >= t; achievable overlap given the matched
    # prefix positions (both sides count the matched token plus
    # everything after it in df-order).
    needed = F.ceil(
        F.lit(threshold) / F.lit(1.0 + threshold) * (sz_a + sz_b)
    )
    achievable = F.lit(1) + F.least(
        sz_a - F.col("a.pos"), sz_b - F.col("b.pos")
    )
    out = (
        a.join(b, "shingle")
        .where(
            (F.col("a.doc_id") < F.col("b.doc_id"))
            & (sz_b >= F.ceil(F.lit(threshold) * sz_a))
            & (sz_a >= F.ceil(F.lit(threshold) * sz_b))
            & (achievable >= needed)
        )
        .select(F.col("a.doc_id").alias("doc_a"), F.col("b.doc_id").alias("doc_b"))
    )
    # dedup=False: see lsh_candidate_pairs — union-site dedups once.
    return out.distinct() if dedup else out


def lsh_bands_for_threshold(
    threshold: float,
    rows_per_band: int = 4,
    target_miss: float = 0.0125,
    min_bands: int = 16,
    max_bands: int = 96,
) -> int | None:
    """Bands needed so a TRUE pair at exactly J == threshold collides
    in >= 1 band with probability >= 1 - target_miss: the smallest b
    with (1 - t^r)^b <= target_miss, floored at ``min_bands`` (never
    weaker than the historical r=4/b=16 default, whose union
    completeness is proven on every measured fixture at t >= 0.7).
    Returns None when the requirement exceeds ``max_bands`` — at such
    low thresholds (t < ~0.5 with r=4) LSH recall is uneconomical and
    the caller should use the theorem-complete exact tier instead.
    At t=0.7 this derives exactly b=16 (the proven configuration);
    miss probability only FALLS for t > 0.7 and the floor keeps the
    band count there unchanged.

    Degenerate inputs (round-7 ADVICE item 1): thresholds outside
    (0, 1] are contract violations — a Jaccard similarity is a ratio
    in [0, 1], and t <= 0 would make ``p_band = 0`` (``log(1-p_band)``
    = 0, a ZeroDivisionError in the band formula). t <= 0 returns
    ``None`` like any other threshold too low for the band budget, so
    ``candidates='auto'`` callers route to the exact tier instead of
    crashing; t > 1 raises (no similarity exceeds 1 — the caller has a
    bug, not a low threshold).
    """
    if threshold > 1.0:
        raise ValueError(f"threshold must be in (0, 1], got {threshold}")
    if threshold <= 0.0:
        return None
    p_band = threshold ** rows_per_band
    if p_band >= 1.0:
        return min_bands
    need = math.ceil(math.log(target_miss) / math.log(1.0 - p_band))
    if need > max_bands:
        return None
    return max(min_bands, need)


def dedup_ngram_jaccard(
    docs: DataFrame,
    threshold: float = 0.7,
    n: int = 3,
    candidates: str = "auto",
) -> DataFrame:
    """All-pairs n-gram Jaccard join: candidate generation + exact
    verification. Same output contract as :func:`dedup_near_minhash`
    but with a deterministic exact-verify stage, hence oracle-exact at
    any threshold on every fixture.

    ``candidates`` picks the generation tier:

    - ``"auto"`` (default): ``"linear"`` when
      :func:`lsh_bands_for_threshold` can hit the <=1.25% per-pair
      boundary-miss target within the band budget (t >= ~0.5 with
      r=4), else ``"exact"`` — so low-threshold callers keep the old
      exact-tier completeness guarantee instead of silently losing
      boundary pairs (round-6 ADVICE item 1).
    - ``"linear"`` (the production/100 TB path):
      :func:`linear_candidate_pairs` — LSH ∪ df-capped prefix filter,
      with the LSH band count DERIVED from the threshold so the
      per-pair miss probability at J == t stays <= 1.25% at any
      accepted threshold (at the registered t=0.7 this derives the
      proven r=4/b=16). Every stage measured linear in corpus size
      (BASELINE.md §5); verified-true-pair counts equal the exact
      tier's at every measured scale point (sf0.1→2.0, the per-scale
      completeness proof recorded in the scale-curve JSON). Raises
      ``ValueError`` when the threshold is too low for the band
      budget.
    - ``"exact"`` (the audit tier): theorem-complete prefix filtering
      (Bayardo AllPairs + PPJoin length/positional prunes, all
      exactness-preserving). Its POST-filter candidate count is
      measured linear, but the raw equi-join match stream underneath
      still grows with prefix-token collisions, so wall time is
      super-linear at the sf1→2 leg (alpha ~1.27) — run it on samples
      to audit the linear tier, not on the full corpus.
    """
    return verify_jaccard(*pair_prelude(docs, threshold, n, candidates), threshold)


def pair_prelude(
    docs: DataFrame,
    threshold: float = 0.7,
    n: int = 3,
    candidates: str = "auto",
) -> tuple[DataFrame, DataFrame]:
    """``(candidate_pairs, shingle_sets)`` of the trigram near-dup
    family: the corpus-determined half of :func:`dedup_ngram_jaccard`,
    in exactly the form :func:`incremental_neardup` accepts as its
    ``prelude``. ``candidates`` picks the tier as documented there;
    ``"auto"`` is ``"linear"`` whenever :func:`lsh_bands_for_threshold`
    fits the band budget.

    The band budget is checked BEFORE any eager work (round-12 ADVICE
    item 3): an explicit ``"linear"`` at a too-low threshold raises
    without first paying a corpus-scale checkpoint job. r12: candidate
    generation (both LSH and prefix legs) and the shingle sets each
    re-derived the shingle prelude — one eager localCheckpoint shares
    it; r13: size-gated (checkpoint_small — see dedup_near_minhash).
    """
    if candidates == "auto":
        candidates = (
            "linear" if lsh_bands_for_threshold(threshold) is not None else "exact"
        )
    bands = None if candidates == "exact" else _budget_bands(threshold)
    exploded = checkpoint_small(exploded_shingles(docs, n))
    if bands is None:
        pairs = prefix_filter_pairs(exploded, threshold)
    else:
        pairs = linear_candidate_pairs(
            docs, threshold, n, bands=bands, exploded=exploded
        )
    return pairs, shingle_sets(docs, n, exploded=exploded)


def _budget_bands(threshold: float) -> int:
    """:func:`lsh_bands_for_threshold`, or the ValueError that sends a
    too-low threshold to the theorem-complete exact tier."""
    bands = lsh_bands_for_threshold(threshold)
    if bands is None:
        raise ValueError(
            f"threshold={threshold} needs more LSH bands than the "
            "budget allows for a <=1.25% boundary-miss — use the "
            "theorem-complete exact tier (dedup_ngram_jaccard "
            "candidates='exact') at thresholds this low"
        )
    return bands


def linear_candidate_pairs(
    docs: DataFrame,
    threshold: float = 0.7,
    n: int = 3,
    num_hashes: int | None = None,
    bands: int | None = None,
    df_cap: int = 64,
    exploded: DataFrame | None = None,
) -> DataFrame:
    """(doc_a, doc_b) candidate stream for the cluster-dedup pipeline:
    the UNION of two independent, individually-linear generators —
    banded MinHash-LSH collisions (:func:`lsh_candidate_pairs`) and
    df-capped prefix-filter matches (:func:`prefix_filter_pairs` with
    ``df_cap``).

    ``bands``/``num_hashes`` default to the THRESHOLD-DERIVED values
    of :func:`lsh_bands_for_threshold` (r=4 rows per band; b grows as
    the threshold falls so the boundary-pair miss stays <= 1.25%; at
    the registered t=0.7 this is exactly the proven r=4/b=16) and the
    function refuses thresholds where the budget can't reach that
    target — callers there must use the exact tier (round-6 ADVICE
    item 1: fixed b=16 at t=0.5 would miss ~35% of boundary pairs).

    Why the union: each generator alone is linear in corpus size but
    incomplete in a different corner. LSH misses a true pair with
    probability (1 - J^r)^b (~1.2% at exactly J=0.7 with r=4, b=16,
    vanishing above 0.8); the capped prefix filter misses only pairs
    whose EVERY shared prefix shingle is boilerplate (> df_cap docs) —
    which is precisely where LSH is strongest, because such pairs are
    near-identical boilerplate with high J. A miss therefore requires
    both an LSH non-collision AND all-boilerplate prefix overlap
    simultaneously; empirically the union's VERIFIED pair set equals
    the theorem-complete tier's on every driver fixture (sf0.01/sf0.1),
    the adversarial slice, and every measured scale point (sf0.1→2.0,
    5k→100k docs — counted per point by the scale harness,
    ``true_pairs_linear == true_pairs_exact``). At 100 TB both legs
    shuffle on sparse bucket keys (band hash / rare shingle) with
    per-bucket fan-out bounded by banding resp. df_cap^2 — the measured
    scale curves in BASELINE.md §4 put both at alpha <= ~1.
    """
    if bands is None:
        bands = _budget_bands(threshold)
    if num_hashes is None:
        num_hashes = 4 * bands
    if exploded is None:
        exploded = exploded_shingles(docs, n)
    # r12: both legs used to dedup their own raw match streams and the
    # union deduped AGAIN — three (doc_a, doc_b) exchanges for one set.
    # The raw streams union into ONE distinct (identical result set,
    # verified value-equal on the fixtures).
    lsh = lsh_candidate_pairs(
        minhash_signatures(docs, num_hashes, n, exploded=exploded),
        bands,
        dedup=False,
    )
    capped = prefix_filter_pairs(exploded, threshold, df_cap, dedup=False)
    return lsh.unionByName(capped).distinct()


def incremental_neardup(
    existing: DataFrame,
    incoming: DataFrame,
    threshold: float = 0.7,
    n: int = 3,
    candidates: str = "auto",
    prelude: tuple[DataFrame, DataFrame] | None = None,
) -> DataFrame:
    """Admit only incoming documents that are not NEAR-duplicates
    (word-``n``-gram Jaccard >= ``threshold``) of any already-ingested
    document nor of a lower-id document in the same batch — the
    near-dup sibling of :func:`pipeline.incremental_dedup` (each new
    crawl snapshot is fuzzily deduped against everything already
    ingested, never re-deduping the whole corpus from scratch).
    Precondition: the two doc_id spaces are disjoint (snapshots are).

    Admission rule (deterministic, pair-based — no transitive
    closure): incoming doc ``d`` is REJECTED iff some existing doc, or
    some incoming doc with LOWER doc_id, verifies at exact Jaccard >=
    threshold against it. Greedy-by-id mirrors the exact-key
    operator's min_by keeper and replays in plain SQL; a
    closure-based rule would need recursion and admit/reject whole
    chains atomically.

    Candidate generation REUSES the proven single-corpus machinery on
    the UNION of both sides: :func:`linear_candidate_pairs`
    (threshold-derived LSH bands ∪ df-capped prefix filter — the
    100 TB tier whose union completeness is proven per scale point,
    BASELINE.md §5/5d) or the theorem-complete
    :func:`prefix_filter_pairs` audit tier, selected by ``candidates``
    exactly as :func:`dedup_ngram_jaccard`. Pairs not touching an
    incoming doc are dropped BEFORE exact verification, so the index
    side pays candidate generation but never re-verifies its own
    history. At 100 TB the index side's shingle / signature / band
    tables are persisted bucketed on their join keys (the
    ``incremental_dedup_keyed`` pattern, tools/plans_r8.md), turning
    the recurring per-snapshot candidate cost into co-partitioned
    reads; this operator recomputes them per call — the
    correctness-identical form.

    Output: the admitted incoming rows (doc_id, lang, source,
    n_chars). Incoming docs too short to shingle (< n tokens) can
    match nothing and are always admitted.

    ``prelude``: optional pre-computed :func:`pair_prelude` output
    over the SAME union corpus — the expensive,
    corpus-determined subtrees a caller evaluating several queries per
    session persists once and reuses (round-10 VERDICT item 6; the
    registry does this via plans/registry_ext._inc_neardup_prelude,
    one ``sources.fixtures.session_artifact`` per corpus). The live
    per-call work — incoming-side flagging, exact verification joins,
    the admission anti-join — is unaffected. At a real deployment the
    equivalent artifact is the persisted bucketed index of
    :func:`incremental_neardup_keyed`.
    """
    docs = existing.select("doc_id", "text").unionByName(
        incoming.select("doc_id", "text")
    )
    if prelude is not None:
        if candidates != "auto":
            # the prelude BAKES IN its builder's candidate tier —
            # honoring a conflicting request silently would hand back
            # pairs from the wrong tier (round-11 ADVICE item 2)
            raise ValueError(
                "prelude and candidates are mutually exclusive: the "
                "prelude already fixes the candidate tier it was built "
                f"with (got candidates={candidates!r})"
            )
    pairs, sets = prelude or pair_prelude(docs, threshold, n, candidates)
    inc_a = incoming.select(
        F.col("doc_id").alias("doc_a"), F.lit(True).alias("a_inc")
    )
    inc_b = incoming.select(
        F.col("doc_id").alias("doc_b"), F.lit(True).alias("b_inc")
    )
    flagged = (
        pairs.join(inc_a, "doc_a", "left")
        .join(inc_b, "doc_b", "left")
        .withColumn("a_inc", F.coalesce("a_inc", F.lit(False)))
        .withColumn("b_inc", F.coalesce("b_inc", F.lit(False)))
        .filter(F.col("a_inc") | F.col("b_inc"))
    )
    verified = verify_jaccard(
        flagged.select("doc_a", "doc_b"), sets, threshold
    ).join(flagged, ["doc_a", "doc_b"])
    # rejection flows to the incoming side of a cross pair and to the
    # HIGHER id of a within-batch pair (pairs are doc_a < doc_b)
    rejected = (
        verified.select(
            F.when(F.col("a_inc") & ~F.col("b_inc"), F.col("doc_a"))
            .when(F.col("b_inc") & ~F.col("a_inc"), F.col("doc_b"))
            .otherwise(F.col("doc_b"))
            .alias("doc_id")
        )
        .distinct()
    )
    return incoming.join(rejected, "doc_id", "left_anti").select(
        "doc_id", "lang", "source", "n_chars"
    )


def incremental_neardup_keyed(
    index_bands: DataFrame,
    index_sets: DataFrame,
    incoming: DataFrame,
    threshold: float = 0.7,
    n: int = 3,
    bands: int | None = None,
    num_hashes: int | None = None,
) -> DataFrame:
    """:func:`incremental_neardup` against a PRE-BUILT signature index —
    the 100 TB deployment shape that docstring promises, made real
    (round-8 VERDICT item 6; the fuzzy sibling of
    ``pipeline.incremental_dedup_keyed``).

    The persisted index carries two tables, maintained append-only as
    snapshots are ingested:

    - ``index_bands``: ``(band, band_hash, doc_id)`` — the banded
      MinHash expansion (:func:`banded_signatures`), stored BUCKETED on
      ``(band, band_hash)``;
    - ``index_sets``: ``(doc_id, shingles)`` — distinct word-n-gram
      sets (:func:`shingle_sets`), stored BUCKETED on ``doc_id``.

    Plan properties at scale (asserted per increment by
    tools/incremental_neardup_soak.py): both index tables join AS-IS on
    their bucket keys, so the bucketed scans' HashPartitioning survives
    to the joins and Spark inserts NO Exchange on the index side — the
    recurring per-snapshot cost is O(|increment|) signature/shingle
    work plus co-partitioned reads of the ever-growing index, never a
    re-shuffle or re-hash of ingested history. MinHash signatures are
    per-document (min over the doc's own shingles), so index-side band
    hashes computed at ingest time are EXACTLY what the full recompute
    produces — incrementality costs nothing on the LSH tier.

    Cross-tier candidates are LSH-only: the prefix-filter leg of
    :func:`linear_candidate_pairs` orders docs by corpus-GLOBAL
    document frequency, which drifts as the corpus grows and therefore
    does not incrementalize; the threshold-derived band count
    (:func:`lsh_bands_for_threshold`) alone holds the boundary-pair
    miss <= 1.25% at J == threshold (vanishing above it), and the soak
    additionally asserts per-increment admission equality against the
    recompute-everything operator. WITHIN the increment the full
    linear union runs unchanged (the increment is small).

    Admission rule, output contract identical to
    :func:`incremental_neardup` (greedy-by-id; ids disjoint from and
    higher than the index's).
    """
    if bands is None:
        bands = lsh_bands_for_threshold(threshold)
        if bands is None:
            raise ValueError(
                f"threshold={threshold} too low for the LSH band budget "
                "— the keyed incremental tier has no exact fallback; "
                "use incremental_neardup(candidates='exact')"
            )
    if num_hashes is None:
        num_hashes = 4 * bands
    inc_bands = banded_signatures(
        minhash_signatures(incoming, num_hashes, n), bands
    )
    inc_sets = shingle_sets(incoming, n)
    cross = (
        inc_bands.withColumnRenamed("doc_id", "inc_id")
        .join(index_bands.withColumnRenamed("doc_id", "idx_id"),
              ["band", "band_hash"])
        .select("idx_id", "inc_id")
        .distinct()
    )
    cross_rejected = (
        cross.join(
            index_sets.select(
                F.col("doc_id").alias("idx_id"), F.col("shingles").alias("sa")
            ),
            "idx_id",
        )
        .join(
            inc_sets.select(
                F.col("doc_id").alias("inc_id"), F.col("shingles").alias("sb")
            ),
            "inc_id",
        )
        .withColumn("jaccard", _jaccard(F.col("sa"), F.col("sb")))
        .filter(F.col("jaccard") >= threshold)
        .select(F.col("inc_id").alias("doc_id"))
    )
    within_rejected = verify_jaccard(
        linear_candidate_pairs(incoming, threshold, n),
        inc_sets,
        threshold,
    ).select(F.col("doc_b").alias("doc_id"))
    rejected = cross_rejected.unionByName(within_rejected).distinct()
    return incoming.join(rejected, "doc_id", "left_anti").select(
        "doc_id", "lang", "source", "n_chars"
    )


def repeated_passages(
    docs: DataFrame, n: int = 8, max_df: int = 100, min_shared: int = 2
) -> DataFrame:
    """(doc_a, doc_b, shared_windows): document pairs that share
    VERBATIM n-token passages — the exact-substring contamination
    detector of Lee et al. 2022 ("Deduplicating Training Data Makes
    Language Models Better"), distinct from the similarity tiers
    (:func:`dedup_near_minhash` / :func:`dedup_ngram_jaccard`): those
    score whole-document overlap; this finds literal copied spans
    between otherwise-different documents (quote reuse, template
    boilerplate, train/eval contamination).

    ``shared_windows`` counts DISTINCT n-token windows the pair has in
    common; ``min_shared`` consecutive-window overlap ≥ 2 ≈ a verbatim
    span of ≥ n+1 tokens when contiguous. Windows occurring in more
    than ``max_df`` documents are dropped first — the standard
    boilerplate cap (ubiquitous headers/licenses would otherwise link
    everything to everything and say nothing about copying).

    Plan (one aggregation exchange on the window key, one on the
    pair): distinct windows via the codegen posexplode+lead path
    (:func:`exploded_shingles`), groupBy window → sorted doc list,
    df-cap filter, then map-side pair expansion (bounded at
    C(max_df, 2) per window — never an unbounded cross join, per the
    module invariant) and a pair-count aggregate. At 100 TB the only
    change is keying on ``md5(window)``/``xxhash64(window)`` instead
    of the window string to cut shuffle width — kept as the raw string
    here so the DuckDB oracle replays the key verbatim. The
    higher-order pair expansion runs interpreted but only over
    post-aggregation arrays of ≤ ``max_df`` elements.
    """
    wins = exploded_shingles(docs, n)
    grouped = (
        wins.groupBy("shingle")
        .agg(F.sort_array(F.collect_list("doc_id")).alias("ds"))
        .filter((F.size("ds") >= 2) & (F.size("ds") <= max_df))
    )
    pairs = grouped.select(
        F.explode(
            F.flatten(
                F.transform(
                    "ds",
                    lambda x, i: F.transform(
                        F.slice(F.col("ds"), i + F.lit(2), F.size("ds")),
                        lambda y: F.struct(
                            x.alias("doc_a"), y.alias("doc_b")
                        ),
                    ),
                )
            )
        ).alias("p")
    )
    return (
        pairs.select("p.doc_a", "p.doc_b")
        .groupBy("doc_a", "doc_b")
        .agg(F.count("*").alias("shared_windows"))
        .filter(F.col("shared_windows") >= min_shared)
    )


# ---------------------------------------------------------------------------
# SimHash near-dup
# ---------------------------------------------------------------------------

# Fingerprint width. 60 (not 64) because the per-token hash is the
# concatenation of two 30-bit portable polynomial hashes — chosen over
# xxhash64 so the ENTIRE fingerprint is replayable in DuckDB and the
# operator is oracle-checkable end-to-end (same portability move as
# text.doc_fingerprints). 60 = 4 pigeonhole blocks of 15 bits for the
# default Hamming radius 3.
SIMHASH_BITS = 60

# Two independent poly-hashes (base 31 mod 1e9+7; base 131 mod
# 998244353), both < 2^30, packed as h = p1 | (p2 << 30). Fold is
# left-to-right over codepoints, identical to functions/textual.poly_hash;
# both accumulators ride one struct so the codepoint array is built and
# scanned ONCE (measured ~15% over two separate folds).
_TOKEN_HASH = """
aggregate(
  transform(sequence(1, length(t)), i -> CAST(ascii(substring(t, i, 1)) AS BIGINT)),
  named_struct('a', 0L, 'b', 0L),
  (acc, c) -> named_struct('a', (acc.a * 31 + c) % 1000000007,
                           'b', (acc.b * 131 + c) % 998244353),
  acc -> acc.a | shiftleft(acc.b, 30)
)
"""

# NOTE: references `counters` exactly ONCE. A formulation that indexes
# `counters` inside the fold lambda (element_at(counters, j+1) per
# iteration) gets the counters alias inlined by Catalyst and recomputes
# the full O(tokens x 60) counters fold on EVERY one of the 60
# iterations — observed 64x slowdown (minutes -> seconds at sf0.1).
_SIMHASH = f"""
aggregate(
  zip_with(counters, sequence(0, {SIMHASH_BITS - 1}),
           (c, j) -> IF(c > 0, shiftleft(1L, j), 0L)),
  0L,
  (acc, b) -> acc | b
)
"""

_COUNTERS = f"""
aggregate(
  transform(array_distinct(split(text, ' ')), t -> {_TOKEN_HASH}),
  array_repeat(0L, {SIMHASH_BITS}),
  (acc, h) -> zip_with(
      acc,
      transform(sequence(0, {SIMHASH_BITS - 1}), j -> IF(((h >> j) & 1) = 1, 1L, -1L)),
      (a, b) -> a + b)
)
"""


def simhash_fingerprints(docs: DataFrame) -> DataFrame:
    """(doc_id, simhash BIGINT): 60-bit SimHash over the token set.

    Bit j of the fingerprint is the sign of the sum over tokens of
    ±1 according to bit j of the portable per-token hash — Charikar's
    scheme with unit weights, folded entirely in Catalyst expressions.
    The token hash is two stacked 30-bit poly-hashes (not xxhash64) so
    a DuckDB oracle can reproduce the fingerprint bit-for-bit.
    """
    return spread(docs).select(
        "doc_id",
        F.expr(_COUNTERS).alias("counters"),
    ).select("doc_id", F.expr(_SIMHASH).alias("simhash"))


# Combination-blocking config for the default radius: 6 blocks of 10
# bits, candidates keyed on every C(6,3)=20 three-block concatenation.
# Completeness (pigeonhole): <= 3 damaged bits touch <= 3 blocks, so
# some 3-subset of blocks is clean on both sides and that combo's
# 30-bit key matches. Why it exists: the classic (r+1)-block join's
# 15-bit block keys hit an accidental-collision floor of ~N^2 / 2^15
# pairs — MEASURED super-linear at the sf2.0 scale point (pre-filter
# pair stream 1.12M -> 4.19M for 2x docs; the combo keys measured
# 420k -> 807k, linear, BASELINE.md §4e) — while 30-bit combo keys
# push that floor out to N ~ 2^30 at the price of 20 rows per doc
# instead of 4. That price makes the combo scheme SLOWER below the
# crossover, which round 6 MEASURED head-to-head up to 1M docs
# (BASELINE.md §5a, §6f): classic/combo seconds at
# 25k/50k/100k/250k/500k/1M/2M docs = 1.95/3.80, 2.53/6.02,
# 6.01/10.83, 15.78/24.68, 17.06/24.95, 31.81/41.01, 68.02/79.45.
# Classic's raw collision stream does grow ~N²/2^15, but its
# per-match cost is so low that the 5x key overhead keeps combo
# behind through every measured point; the classic/combo ratio
# shrinks ~0.88-0.91x per corpus doubling (1.46x at 500k, 1.29x at
# 1M, 1.17x at 2M — the round-7 bracketing point), putting parity at
# ~4M docs, the auto threshold below. The gate is now BRACKETED by
# measurement on the classic-favored side through 2M rather than
# fitted from 1M (round-6 verdict item 4). (The r5 threshold of 500k
# extrapolated from the pre-filter stream counts alone and measured
# WRONG once both schemes were timed head-to-head at the boundary.)
# Both schemes are complete, so the result set is identical either
# way; above the threshold combo's 30-bit keys make the candidate
# stream linear out to N ~ 2^30.
SIMHASH_COMBO_BLOCKS = 6
SIMHASH_COMBO_PICK = 3
SIMHASH_COMBO_MIN_DOCS = 4_000_000
# Conservative bytes/doc divisor for the stats-based scheme gate below
# (fixture corpora measure ~120 B/doc compressed; production text runs
# larger, which only biases the gate TOWARD combo earlier — the safe
# direction, since both schemes are complete and combo is the one that
# stays linear).
SIMHASH_EST_DOC_BYTES = 100


def _approx_doc_count(docs: DataFrame) -> int:
    """Metadata-cheap corpus-size proxy for the combo-vs-classic gate
    (r13): the optimizer's size estimate over a conservative bytes/doc
    divisor, replacing the exact ``count()`` job the r12 code paid on
    EVERY call. Both blocking schemes are COMPLETE for the radius
    (identical result set), so a misestimate can only shift the perf
    crossover — bracketed shallow at ~4M docs (the classic/combo ratio
    moves ~0.9x per corpus doubling), so a 2x divisor error costs at
    most ~15% near the boundary and nothing elsewhere. Unknown stats
    (non-file-backed test frames) fall back to the exact count."""
    size = plan_size(docs)
    return docs.count() if size is None else size // SIMHASH_EST_DOC_BYTES


def simhash_near_pairs(
    docs: DataFrame, max_hamming: int = 3, scheme: str = "auto"
) -> DataFrame:
    """Near-dup pairs with SimHash Hamming distance <= max_hamming.

    COMPLETE via pigeonhole blocking, in one of two schemes:
    - ``combo`` (radius 3 only): combination blocking — 6 blocks x 10
      bits, equi-join on all 20 three-block combination keys; linear
      candidate stream to N ~ 2^30 (see SIMHASH_COMBO_BLOCKS above).
    - ``classic``: the ``max_hamming + 1`` single-block join (any pair
      within the radius agrees exactly on >= 1 block); cheaper per doc
      but with an N^2/2^block_bits collision floor.
    ``auto`` picks combo above SIMHASH_COMBO_MIN_DOCS documents, sized
    from the optimizer's statistics (:func:`_approx_doc_count`, r13 —
    no per-call count job; safe because the result set is
    scheme-independent). Either way candidates come from an equi-join —
    no cross join.
    """
    if scheme == "auto":
        use_combo = (
            max_hamming == 3
            and _approx_doc_count(docs) >= SIMHASH_COMBO_MIN_DOCS
        )
    elif scheme == "combo":
        if max_hamming != 3:
            raise ValueError("combo blocking is configured for radius 3")
        use_combo = True
    else:
        use_combo = False
    # Barrier: materialize the fingerprint once per doc (see
    # lsh_candidate_pairs) instead of letting the simhash fold inline
    # into all block-value expressions and the join keys.
    fp = simhash_fingerprints(docs).repartition(F.col("doc_id"))

    if use_combo:
        import itertools

        width = SIMHASH_BITS // SIMHASH_COMBO_BLOCKS
        mask = (1 << width) - 1

        def blockv(j: int):
            return F.shiftright(F.col("simhash"), j * width).bitwiseAND(
                F.lit(mask)
            )

        combos = list(
            itertools.combinations(
                range(SIMHASH_COMBO_BLOCKS), SIMHASH_COMBO_PICK
            )
        )
        entries = F.array(
            *[
                F.struct(
                    F.lit(ci).alias("block"),
                    (
                        blockv(i) * F.lit(1 << (2 * width))
                        + blockv(j) * F.lit(1 << width)
                        + blockv(k)
                    ).alias("block_val"),
                )
                for ci, (i, j, k) in enumerate(combos)
            ]
        )
        banded = fp.select(
            "doc_id", "simhash", F.explode(entries).alias("e")
        ).select(
            "doc_id",
            "simhash",
            F.col("e.block").alias("block"),
            F.col("e.block_val").alias("block_val"),
        )
    else:
        blocks = max_hamming + 1
        width = SIMHASH_BITS // blocks
        block_vals = F.array(
            *[
                F.shiftright(F.col("simhash"), j * width).bitwiseAND(
                    F.lit((1 << width) - 1)
                )
                for j in range(blocks)
            ]
        )
        banded = fp.select(
            "doc_id",
            "simhash",
            F.posexplode(block_vals).alias("block", "block_val"),
        )

    # r12: pin the self-join's partitioning on the block keys (same
    # rationale as user_triangles — the collision-floor pair expansion
    # is output-heavy while its INPUT is a few MB, so AQE's byte-based
    # coalescing would run it in ~1 task). Identical subtrees on both
    # sides mean the pinned exchange is computed once and reused.
    # r13: count arithmetic lives in util.pinned_partitions (shared
    # with user_triangles / prefix_filter_pairs; plan-asserted by
    # tests/test_r13_optimizations.py).
    banded = banded.repartition(
        pinned_partitions(banded.sparkSession), "block", "block_val"
    )
    a, b = banded.alias("a"), banded.alias("b")
    return (
        a.join(b, ["block", "block_val"])
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            F.bit_count(
                F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))
            ).alias("hamming"),
        )
        # Hamming gate BEFORE the pair-distinct: the raw match stream
        # carries the scheme's accidental-collision floor (classic:
        # ~N²/2^15 rows), and `.distinct()` is a full shuffle of it.
        # Filtering first means only true-radius pairs (linear) reach
        # the exchange — the filter is cheap codegen'd popcount work
        # computed map-side either way. (Round 6: the registered query
        # measured 2.7x the plain operator at 500k docs with the old
        # distinct-then-filter order.)
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


# ---------------------------------------------------------------------------
# Embedding-cosine near-dup (multi-table hyperplane LSH, bounded occupancy)
# ---------------------------------------------------------------------------

def adaptive_planes(n: int, target_occupancy: int = 32) -> int:
    """Planes-per-table count sized to the corpus: expected bucket
    occupancy N / 2^planes lands near ``target_occupancy`` regardless of
    N (clamped to [4, 16]). This is what makes the bucketed self-join
    scale: bits grow with log2(N), so per-bucket all-pairs work stays
    ~constant instead of O((N/const)^2)."""
    import math

    return min(16, max(4, math.ceil(math.log2(max(n, 64) / target_occupancy))))


def embedding_neardup_cosine(
    embeddings: DataFrame,
    threshold: float = 0.4,
    num_tables: int = 8,
    num_planes: int | None = None,
    max_bucket: int = 128,
    dim: int = 64,
    seed: int = 42,
    plane_source: str = "seeded",
) -> DataFrame:
    """Near-dup vector pairs via multi-table random-hyperplane LSH
    buckets, exact-cosine verified.

    Semantics (the oracle mirrors every step exactly, planes included):
    a pair is emitted iff the two vectors share >= 1 LSH bucket whose
    occupancy is <= ``max_bucket``, AND cosine >= ``threshold``.

    Scale design (the round-2 static 16-bucket version was O(N^2/16)):
    - ``num_planes`` defaults to :func:`adaptive_planes` (one count()
      at build time — the train-step analogue), so expected occupancy
      stays ~32 at any N;
    - ``max_bucket`` is the HARD bound: over-full buckets (degenerate
      hash regions where the projection is indiscriminative) are
      dropped entirely, capping candidate work at
      O(num_tables * N * max_bucket) pairs — linear in N — whatever the
      data distribution; recall for members of a dropped bucket comes
      from the other tables;
    - candidate pairs are narrow (two ids): vectors re-join by id for
      the verify step, so the bucket shuffle never carries payloads.

    Hyperplanes are the fixed-seed draw of
    :func:`..operators.similarity.hyperplane_buckets` — deterministic
    across runs/executors, reproducible in the DuckDB oracle as literal
    plane vectors.
    """
    from .similarity import hyperplane_buckets

    if num_planes is None:
        num_planes = adaptive_planes(embeddings.count())
    e = embeddings.select("vec_id", to_double(F.col("embedding")).alias("vec"))
    banded = e.select(
        "vec_id",
        F.explode(
            hyperplane_buckets(
                F.col("vec"),
                num_tables,
                num_planes,
                dim,
                seed,
                plane_source=plane_source,
            )
        ).alias("bucket"),
    )
    # r13 MEASURED NEGATIVE (recorded): pinning the bucket partitioning
    # before this window (the simhash/user_triangles lever) was
    # interleave-A/B'd WORSE (1.84 -> 2.44 s at sf0.1) and reverted —
    # occupancy-capped buckets keep the pair output SMALL, so this is
    # not the output-heavy regime the pin exists for, and the pinned
    # exchange only displaced the broadcast-side reuse AQE already
    # performs. The r12 bench's 2.1->4.5 s swing on this query was
    # adjudicated as host noise (no plan defect; see
    # tools/aging_r13_*.json for the same-session drift evidence).
    kept = banded.withColumn(
        "occupancy", F.count("*").over(Window.partitionBy("bucket"))
    ).filter(F.col("occupancy") <= max_bucket)
    a, b = kept.alias("a"), kept.alias("b")
    pairs = (
        a.join(b, "bucket")
        .where(F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("vec_a"), F.col("b.vec_id").alias("vec_b")
        )
        .distinct()
    )
    va = e.select(F.col("vec_id").alias("vec_a"), F.col("vec").alias("va"))
    vb = e.select(F.col("vec_id").alias("vec_b"), F.col("vec").alias("vb"))
    return (
        pairs.join(va, "vec_a")
        .join(vb, "vec_b")
        .select(
            "vec_a",
            "vec_b",
            F.round(cosine_arrow(F.col("va"), F.col("vb")), 4).alias("cosine"),
        )
        .filter(F.col("cosine") >= threshold)
    )


# ---------------------------------------------------------------------------
# Near-dup clustering: connected components over the pair graph
# ---------------------------------------------------------------------------

def connected_components(
    edges: DataFrame,
    src: str = "doc_a",
    dst: str = "doc_b",
    max_iter: int = 25,
    checkpoint_dir: str | None = None,
) -> DataFrame:
    """(node, component) for every node touching an edge, where
    component = min node id reachable in the undirected pair graph —
    the canonical-representative labeling that turns near-dup PAIRS
    into dedup CLUSTERS (keep one doc per component).

    Iterative min-label propagation WITH pointer jumping: each round
    every node takes min(own label, neighbors' labels, label OF its
    label). The label-of-label step halves pointer chains every round
    (path halving, as in Shiloach-Vishkin / the star-contraction
    family), so convergence is O(log diameter) rounds, not
    O(diameter) — a chain-shaped near-dup graph of 1M links needs ~20
    rounds instead of 1M (round-5 adversarial sweep caught the naive
    version exceeding its bound on a 250-link chain). Duplicate
    clusters are near-cliques, so 2-4 rounds in practice. Scale notes:
    each round is one hash join edges-to-labels, one aggregate, and
    one labels-to-labels jump join — all shuffle on node id, and AQE
    reuses the exchange partitioning round to round. Lineage is
    truncated per round (an iterative plan otherwise doubles in depth
    each round and overwhelms the planner long before data size
    matters). Driver involvement is one boolean (converged?) per round
    — no data is collected.

    Durability contract: with ``checkpoint_dir`` set, per-round state is
    checkpointed RELIABLY (``df.checkpoint`` to that fault-tolerant
    directory) and survives executor loss — use this on a real cluster.
    The default ``localCheckpoint`` keeps blocks on executors: faster,
    but an executor failure loses truncated lineage and fails the job
    (rerun from the edges), acceptable for short local iterations only.

    Raises RuntimeError if labels have not stabilized after
    ``max_iter`` rounds — an unconverged labeling silently returns
    WRONG components (long chains exceed the diameter bound), so it is
    surfaced as an error rather than a quiet result (round-2 ADVICE).
    """
    if checkpoint_dir is not None:
        edges.sparkSession.sparkContext.setCheckpointDir(checkpoint_dir)

    def _persist_round(df: DataFrame) -> DataFrame:
        if checkpoint_dir is not None:
            return df.checkpoint(eager=True)
        return df.localCheckpoint(eager=True)

    sym = edges.select(
        F.col(src).alias("node"), F.col(dst).alias("nbr")
    ).unionByName(edges.select(F.col(dst).alias("node"), F.col(src).alias("nbr")))
    sym = _persist_round(sym)
    labels = _persist_round(
        sym.select("node").distinct().withColumn("component", F.col("node"))
    )
    converged = False
    for _ in range(max_iter):
        nbr_labels = labels.select(
            F.col("node").alias("lnode"), F.col("component").alias("lcomponent")
        )
        nbr_min = (
            sym.join(nbr_labels, F.col("nbr") == F.col("lnode"))
            .groupBy("node")
            .agg(F.min("lcomponent").alias("nbr_component"))
        )
        propagated = labels.join(nbr_min, "node", "left").select(
            "node",
            "component",
            F.least(
                F.col("component"),
                F.coalesce(F.col("nbr_component"), F.col("component")),
            ).alias("mid_component"),
        )
        # pointer jump: my label's label (component ids ARE node ids,
        # so the lookup is labels itself keyed by node)
        lookup = labels.select(
            F.col("node").alias("jnode"), F.col("component").alias("jcomp")
        )
        stepped = _persist_round(
            propagated.join(
                lookup, F.col("mid_component") == F.col("jnode"), "left"
            ).select(
                "node",
                "component",
                F.least(
                    F.col("mid_component"),
                    F.coalesce(F.col("jcomp"), F.col("mid_component")),
                ).alias("new_component"),
            )
        )
        changed = not stepped.filter(
            F.col("new_component") != F.col("component")
        ).isEmpty()
        labels = stepped.select("node", F.col("new_component").alias("component"))
        if not changed:
            converged = True
            break
    if not converged:
        raise RuntimeError(
            f"connected_components did not converge within max_iter={max_iter} "
            "rounds (graph diameter exceeds the iteration bound); raise "
            "max_iter — an unconverged labeling would be silently wrong"
        )
    return labels


def neardup_components(
    docs: DataFrame,
    threshold: float = 0.7,
    n: int = 3,
    pair_source: str = "auto",
) -> DataFrame:
    """Cluster-level dedup over ``documents``: n-gram-Jaccard near-dup
    pairs -> connected components -> every doc labeled with its cluster
    representative (min doc_id in component; singletons label
    themselves) and the cluster size. Downstream keep-one-per-cluster
    is then a trivial ``filter(doc_id == component)``.

    The pairs are :func:`dedup_ngram_jaccard` with ``pair_source`` as
    its candidate tier: ``"auto"`` (default) resolves to ``"linear"``
    when :func:`lsh_bands_for_threshold` can hit the boundary-miss
    target at this threshold and ``"exact"`` otherwise. ``"linear"``
    (the 100 TB path) uses :func:`linear_candidate_pairs` — LSH ∪
    df-capped prefix filter with threshold-derived band count,
    measured linear in corpus size; ``"exact"`` uses the
    theorem-complete prefix filter — the audit tier, super-linear
    candidate growth at scale (BASELINE.md §4e, the round-5 verdict's
    one named scale defect — hence no longer the default). Both verify
    candidates with exact set Jaccard, so the pairs that exist are
    identical; they differ only in whether a both-generators-miss pair
    (never observed on any fixture) could be dropped.
    """
    pairs = dedup_ngram_jaccard(docs, threshold, n, candidates=pair_source)
    comp = connected_components(pairs.select("doc_a", "doc_b"))
    return (
        docs.select("doc_id")
        .join(comp, F.col("doc_id") == F.col("node"), "left")
        .select(
            "doc_id",
            F.coalesce(F.col("component"), F.col("doc_id")).alias("component"),
        )
        .withColumn(
            "n_members", F.count("*").over(Window.partitionBy("component"))
        )
    )


def neardup_dedup_corpus(
    docs: DataFrame,
    threshold: float = 0.7,
    n: int = 3,
    components: DataFrame | None = None,
) -> DataFrame:
    """The end-to-end fuzzy-dedup step itself: the corpus AFTER
    keep-one-per-near-dup-cluster. :func:`neardup_components` labels
    every document with its cluster representative; this keeps exactly
    the representatives (``doc_id == component`` — the min doc_id of
    each cluster, singletons trivially survive) and re-attaches the
    document attributes, carrying ``n_members`` so downstream mixing
    can weight survivors by how much duplication they absorbed
    (the standard "count duplicates, train on one" recipe).

    Plan (100 TB): everything upstream is the bucketed candidate
    machinery already scale-curved in BASELINE.md §4; this layer adds
    ONE co-partitioned equi-join on doc_id (representatives back to
    attributes) — no new shuffle shape, no window beyond the component
    count the labeling already pays.

    ``components`` (round-9 VERDICT item 3): pass a precomputed
    :func:`neardup_components` frame to share the candidate-pair + CC
    prelude across the family's consumers (the registry persists it
    once per corpus as a ``sources.fixtures.session_artifact``); None
    recomputes, keeping the operator self-contained.
    """
    comp = (
        components
        if components is not None
        else neardup_components(docs, threshold, n)
    )
    return (
        comp.filter(F.col("doc_id") == F.col("component"))
        .select("doc_id", "n_members")
        .join(docs.select("doc_id", "lang", "source", "n_chars"), "doc_id")
        .select("doc_id", "lang", "source", "n_chars", "n_members")
    )


SRC_MINHASH_K = 32


def _portable_minhash(shingles: DataFrame, key: str, num_hashes: int) -> DataFrame:
    """(``key``, m0..m{K-1}): the PORTABLE K-permutation MinHash of each
    ``key``'s (key, shingle) rows — the poly-hash of each shingle, then
    one affine re-hash per slot, ``(h*(2i+3) + 7i+1) % P``, min per key.
    Every slot is plain integer math, so the DuckDB twin
    (``registry_ext._minhash_sigs``) replays it exactly."""
    hashed = shingles.select(key, poly_hash_arrow(F.col("shingle")).alias("h"))
    mins = [
        F.min((F.col("h") * (2 * i + 3) + (7 * i + 1)) % POLY_MOD).alias(f"m{i}")
        for i in range(num_hashes)
    ]
    return hashed.groupBy(key).agg(*mins)


def _slot_agreement(num_hashes: int) -> Column:
    """BIGINT count of slots where the ``a`` and ``b`` signatures agree."""
    return sum(
        (
            F.when(F.col(f"a.m{i}") == F.col(f"b.m{i}"), 1).otherwise(0)
            for i in range(num_hashes)
        ),
        F.lit(0),
    ).cast("bigint")


def source_overlap_minhash(
    docs: DataFrame, num_hashes: int = SRC_MINHASH_K, n: int = 3
) -> DataFrame:
    """(src_a, src_b, n_agree, est_jaccard, exact_jaccard): pairwise
    content overlap between SOURCES — the corpus-level twin of the
    per-document near-dup tier, answering "how much of src_a is also
    in src_b" before deciding mixing weights or dedup priority (e.g.
    a CommonCrawl snapshot vs a curated subset of it).

    Estimator: K-permutation MinHash over each source's distinct word
    n-gram shingle set, one portable affine re-hash per permutation of
    the poly-hash (``(h*(2i+3) + 7i+1) % P``) so the DuckDB oracle can
    replay every signature slot exactly. P(sig_i(A) == sig_i(B)) =
    J(A, B), so ``n_agree / K`` is an unbiased Jaccard estimate with
    stderr sqrt(J(1-J)/K).

    Scale shape: the one data-sized shuffle is the distinct
    (source, shingle) projection; the signature aggregate partial-mins
    to K columns per source per task (mins are the canonical mergeable
    sketch — the same groupBy merges signatures across snapshots).
    Pairwise comparison happens in signature space: |sources|^2 rows
    of K integers, catalog scale, broadcast — never a shingle-level
    cross join. The exact-Jaccard tier here is verification-only (the
    shingle equi-self-join's fan-out is bounded by shingle
    source-frequency, fine at audit scale; the 100 TB path trusts the
    signatures and drops that tier).
    """
    # r12: four consumers (signatures, sizes, both sides of the exact
    # intersection self-join) re-derived this frame per branch — one
    # eager localCheckpoint materializes it once (measured ~4.4 s →
    # ~2.9 s at sf0.1). r13: size-gated; the distinct's own estimate
    # is join-inflated garbage (~43 GB for a ~5 MB frame at sf0.1), so
    # the gate probes the exploded-shingle INPUT, whose linear scaling
    # is the honest signal — at corpus scale the checkpoint is refused
    # and consumers fall back to lazy sharing.
    exploded = exploded_shingles(docs, n)
    src_shingles = checkpoint_small(
        exploded.join(docs.select("doc_id", "source"), "doc_id")
        .select("source", "shingle")
        .distinct(),
        probe=exploded,
    )
    sigs = _portable_minhash(src_shingles, "source", num_hashes)
    sizes = src_shingles.groupBy("source").agg(F.count("*").alias("sz"))
    inter = (
        src_shingles.alias("ia")
        .join(
            src_shingles.alias("ib"),
            F.col("ia.shingle") == F.col("ib.shingle"),
        )
        .where(F.col("ia.source") < F.col("ib.source"))
        .groupBy(
            F.col("ia.source").alias("src_a"), F.col("ib.source").alias("src_b")
        )
        .agg(F.count("*").alias("n_inter"))
    )
    pairs = (
        sigs.alias("a")
        .join(F.broadcast(sigs.alias("b")), F.col("a.source") < F.col("b.source"))
        .select(
            F.col("a.source").alias("src_a"),
            F.col("b.source").alias("src_b"),
            _slot_agreement(num_hashes).alias("n_agree"),
        )
    )
    n_inter = F.coalesce(F.col("n_inter"), F.lit(0))
    return (
        pairs.join(
            sizes.select(F.col("source").alias("src_a"), F.col("sz").alias("sz_a")),
            "src_a",
        )
        .join(
            sizes.select(F.col("source").alias("src_b"), F.col("sz").alias("sz_b")),
            "src_b",
        )
        .join(inter, ["src_a", "src_b"], "left")
        .select(
            "src_a",
            "src_b",
            "n_agree",
            # /K with K a power of two: exact in binary floating point.
            (F.col("n_agree") / F.lit(float(num_hashes))).alias("est_jaccard"),
            F.round(
                n_inter * F.lit(1.0)
                / (F.col("sz_a") + F.col("sz_b") - n_inter),
                4,
            ).alias("exact_jaccard"),
        )
    )


def edit_candidate_pairs(
    docs: DataFrame, df_cap: int = 64, n: int = 3
) -> DataFrame:
    """(doc_a, doc_b) candidate pairs for the edit-distance tier:
    pairs sharing >= 1 word n-gram shingle whose document frequency is
    <= ``df_cap``. Separated out so the scale bench can count the
    candidate stream (the pure algorithmic signal) independently of
    the Levenshtein verify."""
    sh = exploded_shingles(docs, n)
    df_counts = sh.groupBy("shingle").agg(F.count("*").alias("df"))
    kept = sh.join(
        df_counts.filter(F.col("df") <= df_cap), "shingle"
    ).select("doc_id", "shingle")
    return (
        kept.alias("ka")
        .join(
            kept.alias("kb"),
            (F.col("ka.shingle") == F.col("kb.shingle"))
            & (F.col("ka.doc_id") < F.col("kb.doc_id")),
        )
        .select(
            F.col("ka.doc_id").alias("doc_a"), F.col("kb.doc_id").alias("doc_b")
        )
        .distinct()
    )


def dedup_edit_distance(
    docs: DataFrame,
    max_distance: int = 32,
    df_cap: int = 64,
    n: int = 3,
) -> DataFrame:
    """(doc_a, doc_b, edit_distance, similarity): near-dup pairs under
    CHARACTER edit distance — the record-linkage / fuzzy-match tier
    beside the set-similarity ones (Jaccard ranks token overlap;
    Levenshtein additionally sees order, so transposed or lightly
    edited boilerplate that Jaccard scores high still separates here).

    Candidate generation is the shared word-n-gram block: a pair is
    considered iff it shares at least one shingle whose document
    frequency is <= ``df_cap`` (boilerplate shingles are dropped the
    same way repeated_passages drops them). Under the bounded-edit
    model this blocking is COMPLETE while edits touch fewer than
    (W - n + 1) / n words of a W-word document — each edited word
    destroys at most n shingles, so some shingle survives verbatim in
    both copies; beyond that the pair isn't "near" at these
    thresholds anyway. Verification then runs Spark's BANDED
    ``levenshtein(a, b, threshold)`` (O(d * len) per pair, -1 on
    early exit) after a free |len_a - len_b| <= d length gate.

    Scale shape: candidates come from an equi-join on the shingle key
    (the module invariant — never an all-pairs cross join); the
    df_cap bounds per-shingle fan-out at df_cap^2 so the candidate
    stream stays linear in corpus size; the verify tier touches only
    candidate rows. At 100 TB the same plan holds with the cap tuned
    to the boilerplate profile.
    """
    cand = edit_candidate_pairs(docs, df_cap, n)
    ta = docs.select(F.col("doc_id").alias("doc_a"), F.col("text").alias("text_a"))
    tb = docs.select(F.col("doc_id").alias("doc_b"), F.col("text").alias("text_b"))
    la, lb = F.length("text_a"), F.length("text_b")
    return (
        cand.join(ta, "doc_a")
        .join(tb, "doc_b")
        .filter(F.abs(la - lb) <= max_distance)
        .withColumn(
            "edit_distance",
            F.levenshtein("text_a", "text_b", max_distance),
        )
        .filter(F.col("edit_distance") >= 0)
        .select(
            "doc_a",
            "doc_b",
            F.col("edit_distance").cast("int").alias("edit_distance"),
            F.round(
                F.lit(1.0)
                - F.col("edit_distance") * F.lit(1.0) / F.greatest(la, lb),
                4,
            ).alias("similarity"),
        )
    )


def exact_substring_strip(
    docs: DataFrame, n: int = 8, hash_key: bool = False
) -> DataFrame:
    """(doc_id, n_spans, dup_tokens, clean_text): cross-document exact
    duplicate-SPAN removal — the strip/rewrite stage of Lee et al. 2022
    exact-substring dedup, completing the detection tier
    (:func:`repeated_passages` finds which pairs share spans;
    :func:`~..operators.text.dup_paragraph_fraction` scores how much of
    a doc is duplicated; this one produces the cleaned corpus).

    Semantics: an ``n``-token window is a DUPLICATE iff it occurs
    verbatim in >= 2 DISTINCT documents; every token covered by any
    duplicate window is removed from every document carrying it, and
    adjacent covered positions merge into maximal spans (``n_spans`` /
    ``dup_tokens`` report the per-doc span count and removed-token
    count). All occurrences are stripped — the aggressive cross-doc
    variant; within-document repetition is a different signal
    (text.text_repetition) and keep-one-occurrence requires a global
    tie-break order that does not distribute. Docs with no duplicate
    window pass through unchanged (n_spans = 0, clean_text = text).

    Plan (all equi-keyed, linear): tokenize with positions (one window
    over doc_id — the same lead-assembled n-gram path as
    :func:`exploded_shingles`, but positions are KEPT); duplicate
    windows via a distinct + groupBy on the window string; covered
    positions by exploding each duplicate start into its n positions;
    maximal spans with the gaps-and-islands trick (cpos - row_number
    per doc is constant within a contiguous run); clean text is an
    anti-join of the token table against covered positions,
    reassembled in position order.

    ``hash_key`` (round-9 VERDICT item 6) is the 100 TB shuffle-width
    mode: the duplicate-window distinct/df-count/join run on
    ``xxhash64(gram)`` (8 bytes) instead of the raw ~n-token string
    (~50-60 bytes at n=8) — the three gram-keyed exchanges shrink by
    that factor while the plan shape is untouched. A 64-bit collision
    would mark a non-duplicated window as duplicated with probability
    ~G^2/2^65 for G distinct grams (~3e-7 at a billion grams) —
    negligible, and FALSE POSITIVES only strip a spurious span; the
    default stays the raw string so the DuckDB oracle replays the key
    verbatim (same choice as repeated_passages), and the pytest pins
    mode equivalence on fixture data. Curve:
    bench/substrip_hashed_curve_r10.json.
    """
    # keyed spread: one pinned exchange feeds the position window
    # (see exploded_shingles — same r12 rationale).
    toks = spread_by(docs, "doc_id").select(
        "doc_id", F.posexplode(F.split(F.col("text"), " ")).alias("pos", "tok")
    )
    grams = (
        _lead_ngrams(toks, n, "doc_id", "pos")
        .filter(F.col("_last").isNotNull())
        .select("doc_id", "pos", "gram")
    )
    if hash_key:
        grams = grams.select(
            "doc_id", "pos", F.xxhash64(F.col("gram")).alias("gram")
        )
    dup = (
        grams.select("doc_id", "gram")
        .distinct()
        .groupBy("gram")
        .agg(F.count("*").alias("df"))
        .filter(F.col("df") >= 2)
        .select("gram")
    )
    starts = grams.join(dup, "gram").select("doc_id", "pos")
    covered = starts.select(
        "doc_id",
        F.explode(
            F.sequence(F.col("pos"), F.col("pos") + F.lit(n - 1))
        ).alias("pos"),
    ).distinct()
    w2 = Window.partitionBy("doc_id").orderBy("pos")
    spans = (
        covered.withColumn("grp", F.col("pos") - F.row_number().over(w2))
        .groupBy("doc_id", "grp")
        .agg(F.count("*").alias("span_len"))
    )
    per_doc = spans.groupBy("doc_id").agg(
        F.count("*").alias("n_spans"),
        F.sum("span_len").alias("dup_tokens"),
    )
    kept = toks.join(covered, ["doc_id", "pos"], "left_anti")
    clean = kept.groupBy("doc_id").agg(
        F.concat_ws(
            " ",
            F.transform(
                F.array_sort(F.collect_list(F.struct("pos", "tok"))),
                lambda s: s["tok"],
            ),
        ).alias("clean_text")
    )
    return (
        docs.select("doc_id")
        .join(per_doc, "doc_id", "left")
        .join(clean, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce(F.col("n_spans"), F.lit(0)).cast("bigint").alias("n_spans"),
            F.coalesce(F.col("dup_tokens"), F.lit(0))
            .cast("bigint")
            .alias("dup_tokens"),
            F.coalesce(F.col("clean_text"), F.lit("")).alias("clean_text"),
        )
    )


def minhash_calibration(
    docs: DataFrame, num_hashes: int = 64, n: int = 3
) -> DataFrame:
    """(doc_a, doc_b, n_agree, est_jaccard, exact_jaccard): MinHash
    estimator calibration over a deterministic pair frame — each doc
    against its id-successor. P(sig_i(A)=sig_i(B)) = J(A,B), so
    ``n_agree / K`` estimates Jaccard with stderr sqrt(J(1-J)/K); this
    op measures that error empirically against the exact set Jaccard,
    which is what you consult before choosing K and the LSH band
    layout for a 100 TB dedup pass (the near-dup tier's capture
    probability is a function of the SIGNATURE's fidelity, and the
    estimator's bias on your actual shingle distribution is an
    assumption worth auditing, not assuming).

    The signature is the PORTABLE K-permutation family of
    :func:`source_overlap_minhash` (poly-hash + affine re-hashes mod
    1e9+7) so the DuckDB oracle replays every slot exactly. The pair
    frame (doc_id, doc_id+1) is an equi-join on a computed key — a
    deterministic linear-size sample, no candidate generation, no
    cross join; ``est_jaccard`` = n_agree/64 is an exact binary
    fraction (K a power of two), so the value hash is stable with no
    rounding on the estimate side.

    Scale shape: one distinct-shingle shuffle, one K-column min
    aggregate (partial-combined map-side), two id-keyed equi-joins.
    The exact tier rides :func:`shingle_sets` arrays on the SAME
    id-successor join — per-pair intersection work, linear in pairs.
    """
    # r12: the estimator tier and the exact tier each re-derived the
    # shingle prelude — one eager localCheckpoint shares it. r13:
    # size-gated (corpus-scale stream; see dedup_near_minhash).
    sh = checkpoint_small(exploded_shingles(docs, n))
    # r12: sigs and the shingle sets below each feed an id-successor
    # SELF-join whose two sides re-shuffle on different keys (doc_id+1
    # vs doc_id), so exchange reuse cannot deduplicate them and each
    # subtree would compute twice. Both frames are doc-count-sized
    # (one row per doc) — checkpoint once, join the materialized rows.
    sigs = _portable_minhash(sh, "doc_id", num_hashes).localCheckpoint(eager=True)
    pairs = (
        sigs.alias("a")
        .join(sigs.alias("b"), F.col("a.doc_id") + 1 == F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            _slot_agreement(num_hashes).alias("n_agree"),
        )
    )
    ss = shingle_sets(docs, n, exploded=sh).localCheckpoint(eager=True)
    exact = (
        ss.alias("x")
        .join(ss.alias("y"), F.col("x.doc_id") + 1 == F.col("y.doc_id"))
        .select(
            F.col("x.doc_id").alias("doc_a"),
            _jaccard(F.col("x.shingles"), F.col("y.shingles")).alias(
                "exact_jaccard"
            ),
        )
    )
    return pairs.join(exact, "doc_a").select(
        "doc_a",
        "doc_b",
        "n_agree",
        (F.col("n_agree") / F.lit(float(num_hashes))).alias("est_jaccard"),
        "exact_jaccard",
    )


def neardup_cluster_histogram(
    docs: DataFrame,
    threshold: float = 0.7,
    n: int = 3,
    components: DataFrame | None = None,
) -> DataFrame:
    """(cluster_size, n_clusters, n_docs): the duplication profile of
    the corpus — how many near-dup clusters exist at each size, and how
    many documents they hold. THE summary a data curator reads before a
    dedup pass ("38% of the corpus sits in clusters of 2-5; one
    1,900-doc template family dominates"): cluster_size 1 rows are the
    unique tail, the heavy tail above it is what dedup will remove.

    Pure rollup over :func:`neardup_components` — two further hash
    aggregates on keys that only ever shrink (component -> size ->
    histogram), adding nothing corpus-sized to the CC plan's cost.
    ``components``: precomputed labeling to share the prelude (see
    :func:`neardup_dedup_corpus`).
    """
    comps = (
        components
        if components is not None
        else neardup_components(docs, threshold, n)
    )
    csz = comps.groupBy("component").agg(F.count("*").alias("cluster_size"))
    return (
        csz.groupBy("cluster_size")
        .agg(F.count("*").alias("n_clusters"))
        .select(
            F.col("cluster_size").cast("bigint").alias("cluster_size"),
            F.col("n_clusters").cast("bigint").alias("n_clusters"),
            (F.col("cluster_size") * F.col("n_clusters"))
            .cast("bigint")
            .alias("n_docs"),
        )
    )
