"""Text-analysis operators over the ``documents`` table.

Extension surface beyond the reference (SURVEY.md §2.6): the metrics a
training-data curation pipeline computes per document — token counts,
quality ratios, heuristic language ID, content fingerprints — plus the
corpus-level term-frequency rollup. Everything is built-in Catalyst
expressions (no Python UDFs): per-doc metrics are a narrow map stage,
term_frequency is one explode + one hash aggregation. Each operator has
a DuckDB twin in plans/registry_ext.py; functions/textual.py documents
the expression-level correspondences.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf

from ..functions.textual import (
    POLY_MOD,
    distinct_tokens,
    poly_hash,
    token_set_key,
    tokens,
)

ROUND_DP = 4

# Tiny per-language function-word lexicons for the n-gram-free heuristic
# language ID. Deliberately minimal and hard-coded: langid here is a
# deterministic, engine-portable scoring rule, not a trained model.
LANG_LEXICONS: dict[str, tuple[str, ...]] = {
    "en": ("the", "a", "of", "and", "to", "in", "is", "it"),
    "de": ("der", "die", "das", "und", "ist", "ein", "zu", "mit"),
    "fr": ("le", "la", "les", "et", "est", "un", "une", "dans"),
    "es": ("el", "la", "los", "y", "es", "un", "una", "en"),
}

# English stopwords for the quality ratio (superset of the 'en' lexicon).
STOPWORDS = ("the", "a", "of", "and", "to", "in", "is", "it", "on", "for")

# BPE-ish subword segmentation: runs of letters, runs of digits, or a
# single other non-space character. Same RE2-compatible pattern runs in
# DuckDB's regexp_extract_all.
SUBTOKEN_RE = "[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9 ]"


def text_stats(docs: DataFrame) -> DataFrame:
    """Per-document quality/statistics row (one narrow map stage).

    Columns: token counts (whitespace + regex subword), type-token
    ratio, mean token length, stopword ratio, and a composite
    quality_score in [0,2] (lexical diversity + non-stopword density) —
    the usual cheap pre-LLM quality gate.
    """
    t = tokens(F.col("text"))
    types = distinct_tokens(F.col("text"))
    n_tokens = F.size(t).cast("bigint")
    n_types = F.size(types).cast("bigint")
    sum_len = F.aggregate(
        F.transform(t, lambda x: F.length(x).cast("bigint")),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    n_stop = F.size(
        F.filter(t, lambda x: x.isin(*STOPWORDS))
    ).cast("bigint")
    ttr = F.round(n_types.cast("double") / n_tokens.cast("double"), ROUND_DP)
    stop_ratio = F.round(n_stop.cast("double") / n_tokens.cast("double"), ROUND_DP)
    return docs.select(
        "doc_id",
        F.col("n_chars"),
        n_tokens.alias("n_tokens"),
        F.size(F.regexp_extract_all(F.col("text"), F.lit(SUBTOKEN_RE), 0))
        .cast("bigint")
        .alias("n_subtokens"),
        n_types.alias("n_types"),
        ttr.alias("type_token_ratio"),
        F.round(sum_len.cast("double") / n_tokens.cast("double"), ROUND_DP).alias(
            "avg_token_len"
        ),
        stop_ratio.alias("stopword_ratio"),
        # Sum, not mean-of-rounded: halving two 4dp-rounded terms lands
        # exactly on .00005 boundaries where engines' round() disagree.
        F.round(ttr + (1.0 - stop_ratio), ROUND_DP).alias("quality_score"),
    )


def term_frequency(docs: DataFrame, min_tf: int = 1) -> DataFrame:
    """Corpus term/document frequency: (token, tf, df).

    One explode + one hash aggregation (partial aggregation before the
    shuffle keeps the exchange at vocabulary cardinality, not token
    count). The standard first stage of tf-idf / vocabulary pruning.
    """
    return (
        docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(
            F.count("*").alias("tf"),
            F.count_distinct("doc_id").alias("df"),
        )
        .filter(F.col("tf") >= min_tf)
    )


def bm25_topk(
    docs: DataFrame,
    queries: DataFrame | None = None,
    num_queries: int = 5,
    k: int = 10,
) -> DataFrame:
    """(term, doc_id, score, rk): Okapi BM25 ranked retrieval — the
    top-``k`` documents per query term (Robertson & Walker's
    probabilistic ranking; the lexical-retrieval baseline every
    RAG/training-data curation stack needs beside the embedding tiers
    in operators/similarity.py). The reference has no retrieval
    surface (SURVEY.md §2.5); this is extension surface.

    ``queries`` is a (term) DataFrame of query terms; when omitted the
    top-``num_queries`` corpus terms by document frequency (ties by
    term) stand in as a deterministic self-contained query set.

    k1=1.2, b=0.75 enter the plan as the pre-folded double literals
    2.2 (=k1+1), 0.3 (=k1*(1-b)) and 0.9 (=k1*b) so the DuckDB oracle
    can spell the SAME literals — computing 1.2*(1-0.75) at runtime
    yields a different double than the literal 0.3, and the parity
    hash is value-exact. ln() is the one libm call (rounded to 6dp on
    both sides, the bigram_lm_score convention); every other step is
    IEEE-deterministic arithmetic on exact integers with identical
    parenthesization in the oracle.

    Plan (100 TB): tf/dl/df are partial-aggregated hash exchanges
    (vocabulary/doc cardinality, not token count); the 1-row corpus
    stats and the query-term set ride broadcasts (no driver collect);
    scoring touches ONLY postings of query terms (the broadcast join
    prunes first), and the per-term top-k window sorts those postings
    alone, never the corpus.
    """
    from pyspark.sql import Window

    toks = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    stats = dl.agg(
        F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl")
    )
    if queries is None:
        queries = (
            tf.groupBy("term")
            .agg(F.count("*").alias("df"))
            .orderBy(F.col("df").desc(), F.col("term"))
            .limit(num_queries)
            .select("term")
        )
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    qterms = dfreq.join(F.broadcast(queries), "term")
    idf = F.round(
        F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
        ),
        6,
    )
    tfn = F.round(
        (F.col("tf") * F.lit(2.2))
        / (
            F.col("tf")
            + F.lit(0.3)
            + F.lit(0.9)
            * (
                (F.col("dl") * F.col("n_docs")).cast("double")
                / F.col("sum_dl").cast("double")
            )
        ),
        6,
    )
    scored = (
        tf.join(F.broadcast(qterms), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn("score", F.round(idf * tfn, 6))
    )
    w = Window.partitionBy("term").orderBy(F.col("score").desc(), "doc_id")
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select("term", "doc_id", "score", "rk")
    )


def rrf_retrieval(
    docs: DataFrame,
    num_queries: int = 5,
    k: int = 10,
    rrf_k: int = 60,
) -> DataFrame:
    """(term, doc_id, rk_bm25, rk_ql, rrf_score, rrf_rank): hybrid
    retrieval via Reciprocal Rank Fusion (Cormack et al. 2009) — the
    standard way to combine heterogeneous rankers without score
    calibration. Here the fused rankers are Okapi BM25 (the
    :func:`bm25_topk` scorer) and query likelihood (tf/dl), both over
    the same query-term postings; RRF(d) = sum over rankers of
    1 / (rrf_k + rank_r(d)) for the rankers whose top-``k`` contains d.

    Every quantity is rank-arithmetic: 1/(60+rank) is an exact IEEE
    division of small integers, and the two-term sum has a fixed
    order, so fusion is bit-identical to the oracle with no rounding.
    The member ranks are emitted (NULL when the doc is outside that
    ranker's top-k) so consumers can audit which tier surfaced a hit.

    Plan (100 TB): tf/dl/df aggregates as in :func:`bm25_topk`
    (vocabulary-cardinality exchanges); both rankers score the SAME
    broadcast-pruned posting rows — the second ranker costs one more
    window over the per-term top candidates, not another corpus scan;
    fusion is a filter + window over <= 2k rows per term. No join
    between rankers at all.
    """
    from pyspark.sql import Window

    toks = docs.select(
        "doc_id", F.explode(tokens(F.col("text"))).alias("term")
    )
    tf = toks.groupBy("doc_id", "term").agg(F.count("*").alias("tf"))
    dl = tf.groupBy("doc_id").agg(F.sum("tf").alias("dl"))
    stats = dl.agg(F.count("*").alias("n_docs"), F.sum("dl").alias("sum_dl"))
    qterms = (
        tf.groupBy("term")
        .agg(F.count("*").alias("df"))
        .orderBy(F.col("df").desc(), F.col("term"))
        .limit(num_queries)
    )
    idf = F.round(
        F.log(
            F.lit(1.0)
            + (F.col("n_docs") - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
        ),
        6,
    )
    tfn = F.round(
        (F.col("tf") * F.lit(2.2))
        / (
            F.col("tf")
            + F.lit(0.3)
            + F.lit(0.9)
            * (
                (F.col("dl") * F.col("n_docs")).cast("double")
                / F.col("sum_dl").cast("double")
            )
        ),
        6,
    )
    base = (
        tf.join(F.broadcast(qterms), "term")
        .join(dl, "doc_id")
        .crossJoin(F.broadcast(stats))
        .withColumn("bm25", F.round(idf * tfn, 6))
        .withColumn("ql", F.round(F.col("tf") * F.lit(1.0) / F.col("dl"), 6))
    )
    wa = Window.partitionBy("term").orderBy(F.col("bm25").desc(), "doc_id")
    wb = Window.partitionBy("term").orderBy(F.col("ql").desc(), "doc_id")
    ranked = base.withColumn("rka", F.row_number().over(wa)).withColumn(
        "rkb", F.row_number().over(wb)
    )
    in_a, in_b = F.col("rka") <= k, F.col("rkb") <= k
    fused = F.when(in_a, F.lit(1.0) / (F.lit(rrf_k) + F.col("rka"))).otherwise(
        F.lit(0.0)
    ) + F.when(in_b, F.lit(1.0) / (F.lit(rrf_k) + F.col("rkb"))).otherwise(
        F.lit(0.0)
    )
    wf = Window.partitionBy("term").orderBy(F.col("rrf_score").desc(), "doc_id")
    return (
        ranked.filter(in_a | in_b)
        .withColumn("rrf_score", fused)
        .withColumn("rrf_rank", F.row_number().over(wf))
        .filter(F.col("rrf_rank") <= k)
        .select(
            "term",
            "doc_id",
            F.when(in_a, F.col("rka")).cast("int").alias("rk_bm25"),
            F.when(in_b, F.col("rkb")).cast("int").alias("rk_ql"),
            "rrf_score",
            F.col("rrf_rank").cast("int").alias("rrf_rank"),
        )
    )


def tf_idf_top_terms(docs: DataFrame, k: int = 5) -> DataFrame:
    """Top-k terms per document by tf-idf (score = tf * ln(N/df)).

    Corpus size N is fetched as one scalar count at plan-build time and
    embedded as a literal (the same bounded-model pattern as IVF
    centroids — no per-row driver work). Ranking uses the ROUNDED score
    (+ token tiebreak) so cross-engine libm ulp differences in ``ln``
    can never flip a rank the oracle computes differently.
    """
    n_docs = docs.count()
    exploded = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
    tf = exploded.groupBy("doc_id", "token").agg(F.count("*").alias("tf"))
    df = tf.groupBy("token").agg(F.count("*").alias("df"))
    scored = tf.join(df, "token").select(
        "doc_id",
        "token",
        "tf",
        F.round(
            F.col("tf") * F.log(F.lit(float(n_docs)) / F.col("df")), ROUND_DP
        ).alias("score"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("doc_id").orderBy(F.col("score").desc(), F.col("token"))
    return (
        scored.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("doc_id", "token", "tf", "score", "rank")
    )


def text_langid(docs: DataFrame) -> DataFrame:
    """Heuristic language ID: score = |token-set ∩ lexicon| per language,
    argmax wins, ties broken by fixed language order, all-zero -> 'und'.

    Output: (doc_id, lang_pred, lang_score BIGINT). Deterministic and
    SQL-portable by construction — the point is the *operator shape*
    (map-side lexicon intersection, no shuffle), not model quality.
    """
    types = distinct_tokens(F.col("text"))
    scores = {
        lang: F.size(F.array_intersect(types, F.array(*[F.lit(w) for w in lex])))
        for lang, lex in LANG_LEXICONS.items()
    }
    best = F.greatest(*scores.values())
    pred = F.lit("und")
    # Reverse fixed order so earlier languages win ties via later
    # when() overwrites... build forward instead: first match wins.
    expr = None
    for lang in LANG_LEXICONS:
        cond = (scores[lang] == best) & (best > 0)
        expr = F.when(cond, lang) if expr is None else expr.when(cond, lang)
    pred = expr.otherwise("und")
    return docs.select(
        "doc_id",
        pred.alias("lang_pred"),
        best.cast("bigint").alias("lang_score"),
    )


def text_repetition(docs: DataFrame, n: int = 3) -> DataFrame:
    """Per-document repetition signal: duplicated word-n-gram and
    duplicated-token fractions (the Gopher-style "repetitive text"
    quality gate — high dup_gram_frac means boilerplate/spam).

    Shape (third iteration, fastest): posexplode the token array once,
    assemble n-grams with ``lead`` over (doc_id, pos) — the codegen
    shingle formulation from operators/dedup.py — then ONE hash
    aggregation computes token count/distinct AND gram count/distinct
    together (``count(gram)`` skips the trailing NULL leads, giving
    n_grams = max(0, n_tokens - n + 1) for free). The window and the
    aggregate share a single exchange on doc_id. Earlier versions:
    pure higher-order projections re-evaluated the interpreted
    transform per referencing column (10.4 s); explode-per-metric with
    a join, 3.9 s; this form ~1 s at sf0.1. Columns: (doc_id, n_grams,
    n_dup_grams, dup_gram_frac, dup_token_frac), 4dp.
    """
    from .dedup import _lead_ngrams

    toks = docs.select(
        "doc_id", F.posexplode(tokens(F.col("text"))).alias("pos", "tok")
    )
    rows = _lead_ngrams(toks, n, "doc_id", "tok").select(
        "doc_id",
        "tok",
        F.when(F.col("_last").isNotNull(), F.col("gram")).alias("gram"),
    )
    agg = rows.groupBy("doc_id").agg(
        F.count("tok").alias("n_tokens"),
        F.count_distinct("tok").alias("n_distinct_toks"),
        F.count("gram").alias("n_grams"),
        F.count_distinct("gram").alias("n_distinct_grams"),
    )
    n_dup = F.col("n_grams") - F.col("n_distinct_grams")
    n_dup_tok = F.col("n_tokens") - F.col("n_distinct_toks")
    frac = lambda num, den: F.round(  # noqa: E731
        F.when(den > 0, num.cast("double") / den.cast("double")).otherwise(0.0),
        ROUND_DP,
    )
    return agg.select(
        "doc_id",
        F.col("n_grams").cast("bigint").alias("n_grams"),
        n_dup.cast("bigint").alias("n_dup_grams"),
        frac(n_dup, F.col("n_grams")).alias("dup_gram_frac"),
        frac(n_dup_tok, F.col("n_tokens")).alias("dup_token_frac"),
    )


def lang_confusion(docs: DataFrame) -> DataFrame:
    """Language-label audit: confusion counts between the corpus's
    labeled ``lang`` and the heuristic :func:`text_langid` prediction.

    (lang, lang_pred, n_docs, frac) where frac is the share of the
    labeled language's documents receiving that prediction. The join is
    a self-derivation (langid is a narrow projection of the same scan),
    so Catalyst collapses it to one pass; the window total runs over the
    already-aggregated confusion matrix (|langs|² rows), not the corpus.
    """
    from pyspark.sql import Window

    pred = text_langid(docs)
    per = (
        docs.select("doc_id", "lang")
        .join(pred, "doc_id")
        .groupBy("lang", "lang_pred")
        .agg(F.count("*").alias("n_docs"))
    )
    w = Window.partitionBy("lang")
    return per.select(
        "lang",
        "lang_pred",
        "n_docs",
        F.round(
            F.col("n_docs").cast("double") / F.sum("n_docs").over(w), ROUND_DP
        ).alias("frac"),
    )


def corpus_stats_cube(docs: DataFrame) -> DataFrame:
    """Corpus composition at every (lang, source) grain via CUBE — all
    four grouping sets in ONE aggregation pass (partial aggregation
    before the single exchange; no per-grain re-scan). NULL grain cells
    surface as '(all)'; ``level`` encodes the grouping-set id.
    """
    return (
        docs.cube("lang", "source")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_chars").alias("total_chars"),
            F.round(F.avg("n_chars"), ROUND_DP).alias("avg_chars"),
            (F.grouping("lang") * 2 + F.grouping("source"))
            .cast("bigint")
            .alias("level"),
        )
        .select(
            F.coalesce(F.col("lang"), F.lit("(all)")).alias("lang"),
            F.coalesce(F.col("source"), F.lit("(all)")).alias("source"),
            "level",
            "n_docs",
            "total_chars",
            "avg_chars",
        )
    )


def doc_fingerprints(docs: DataFrame, n: int = 3) -> DataFrame:
    """Content fingerprint: min polynomial rolling hash over word
    n-gram shingles (a 1-permutation MinHash with an engine-portable
    hash, so the oracle can recompute it exactly).

    Output: (doc_id, fingerprint BIGINT, n_shingles BIGINT). Documents
    sharing a fingerprint are candidate near-dups — this is the cheap
    first-pass bucketing for incremental dedup at ingest.
    """
    from ..functions.textual import poly_hash_arrow
    from .dedup import exploded_shingles

    return (
        exploded_shingles(docs, n)
        .select("doc_id", poly_hash_arrow(F.col("shingle")).alias("h"))
        .groupBy("doc_id")
        .agg(
            F.min("h").alias("fingerprint"),
            F.count("*").alias("n_shingles"),
        )
    )


def bigram_lm_score(docs: DataFrame) -> DataFrame:
    """Per-document mean bigram log-probability under an add-one-
    smoothed bigram model trained on the corpus itself — the KenLM-style
    fluency filter of an LLM data pipeline (stitched/boilerplate text
    scores low even when its unigrams look fine, which is exactly what
    :func:`doc_logfreq_score` cannot see).

    P(w2 | w1) = (c(w1,w2) + 1) / (c(w1,·) + V), V = corpus vocabulary.

    Plan: bigrams come from zip_with over two array slices (per-row,
    zero shuffle, no window over the token stream); the model is two
    hash aggregates over narrow (w1, w2, count) rows; scoring re-joins
    the bigram stream to the model on its natural keys and the 1-row
    vocabulary count rides a broadcast. Per-token logs are rounded to
    6 dp then DECIMAL-summed (the :func:`doc_logfreq_score` pattern) so
    partial-aggregation order cannot move the mean. Docs with < 2
    tokens have no bigrams and are absent from the output. The doc
    scan is ``spread`` first: the tokenize → explode → map-side
    partial count of ~300 bigrams/doc is the train's dominant CPU and
    a single-split fixture scan would run it on one core (no-op on
    real many-split scans — the round-10 layout finding, BASELINE §9).
    """
    from .util import spread

    ts = tokens(F.col("text"))
    pairs = F.zip_with(
        F.slice(ts, 1, F.size(ts) - 1),
        F.slice(ts, 2, F.size(ts) - 1),
        lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
    )
    docs = spread(docs)
    bg = docs.select("doc_id", F.explode(pairs).alias("p")).select(
        "doc_id", F.col("p.w1").alias("w1"), F.col("p.w2").alias("w2")
    )
    # r13 MEASURED NEGATIVE (recorded): repartitioning bg on (w1, w2)
    # so the model aggregate and the probe join share one exchange
    # (computing the tokenize+explode once) was interleave-A/B'd WORSE
    # (2.15 -> 3.46 s at sf0.1) — shuffling the 1.3M-row occurrence
    # stream costs more than recomputing the explode on the probe
    # side. Same lesson as the prefix-filter pin: pinned exchanges pay
    # only for output-heavy pair expansions, not input-heavy joins.
    c2 = bg.groupBy("w1", "w2").agg(F.count("*").alias("n2"))
    c1 = c2.groupBy("w1").agg(F.sum("n2").alias("n1"))
    vocab = docs.select(
        F.explode(tokens(F.col("text"))).alias("tok")
    ).agg(F.count_distinct("tok").alias("nv"))
    logp = F.round(
        F.log((F.col("n2") + F.lit(1.0)) / (F.col("n1") + F.col("nv"))), 6
    ).cast("decimal(20,6)")
    return (
        bg.join(c2, ["w1", "w2"])
        .join(c1, ["w1"])
        .crossJoin(F.broadcast(vocab))
        .select("doc_id", logp.alias("lp"))
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_bigrams"),
            F.round(F.sum("lp").cast("double") / F.count("*"), 4).alias(
                "mean_log_prob"
            ),
        )
    )


def ccnet_lm_scores(docs: DataFrame) -> DataFrame:
    """(doc_id, lang, mean_log_prob): the per-document LM fluency
    score table :func:`ccnet_lm_buckets` cuts into tiers."""
    return (
        bigram_lm_score(docs)
        .join(docs.select("doc_id", "lang"), "doc_id")
        .select("doc_id", "lang", "mean_log_prob")
    )


def ccnet_lm_buckets(docs: DataFrame, scores: DataFrame | None = None) -> DataFrame:
    """CCNet-style per-language quality tiers (Wenzek et al. 2020): each
    document's LM fluency score (:func:`bigram_lm_score`, standing in
    for CCNet's KenLM perplexity) is cut into head / middle / tail
    thirds WITHIN its language — the standard pre-training curation
    signal ("keep head+middle, drop tail") that a perplexity threshold
    shared across languages would get wrong (perplexity scales are not
    comparable across languages).

    Tier boundaries come from a per-(lang, score) HISTOGRAM, not a
    per-document rank: ntile/percent_rank over documents would
    sort-shuffle the full corpus on a handful of language keys (a
    per-key global sort — the classic 100 TB scale-killer), while the
    histogram is one hash aggregate; its cumulative window runs over
    distinct 4dp-rounded scores only (bounded: <= 20k rows per lang in
    practice), and the two cuts per language ride a broadcast back
    onto the document stream. Ceil semantics via integer arithmetic
    ((n+2) div 3), so both engines place the boundary identically; a
    document tying a cut joins the BETTER tier (ties are not split by
    id — documented, deterministic). Docs with < 2 tokens have no
    bigrams and are absent, as in :func:`bigram_lm_score`.

    The score table (:func:`ccnet_lm_scores`) is consumed TWICE —
    once to build the histogram the cuts derive from, once for the
    final tier assignment — and the static plan would duplicate the
    whole LM train+score subtree under both consumers (36 exchanges).
    ``scores`` passes a score table the caller owns (the registry's
    per-corpus ``session_artifact``); without it the call evaluates
    its own table once through an eager ``localCheckpoint`` (single
    evaluation measured 8.5 s -> 3.1 s on a cold session at 50k docs).

    Output: (doc_id, lang, mean_log_prob, bucket).
    """
    j = scores
    if j is None:
        j = ccnet_lm_scores(docs).localCheckpoint(eager=True)
    h = j.groupBy("lang", "mean_log_prob").agg(F.count("*").alias("c"))
    wcum = (
        Window.partitionBy("lang")
        .orderBy(F.col("mean_log_prob").desc())
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = h.withColumn("cum", F.sum("c").over(wcum))
    n = h.groupBy("lang").agg(F.sum("c").alias("n"))
    cuts = (
        cum.join(F.broadcast(n), "lang")
        .groupBy("lang")
        .agg(
            F.max(
                F.when(
                    F.col("cum") >= F.expr("(n + 2) div 3"),
                    F.col("mean_log_prob"),
                )
            ).alias("head_cut"),
            F.max(
                F.when(
                    F.col("cum") >= F.expr("(2 * n + 2) div 3"),
                    F.col("mean_log_prob"),
                )
            ).alias("mid_cut"),
        )
    )
    bucket = (
        F.when(F.col("mean_log_prob") >= F.col("head_cut"), "head")
        .when(F.col("mean_log_prob") >= F.col("mid_cut"), "middle")
        .otherwise("tail")
    )
    return j.join(F.broadcast(cuts), "lang").select(
        "doc_id", "lang", "mean_log_prob", bucket.alias("bucket")
    )


def token_pmi(docs: DataFrame, min_count: int = 5, k: int = 20) -> DataFrame:
    """(w1, w2, n2, pmi): top-k collocations by pointwise mutual
    information over adjacent token pairs — the classic phrase-mining /
    tokenizer-merge-candidate pass (pairs that co-occur far above
    chance: PMI = ln(N * c(w1,w2) / (c(w1,.) * c(.,w2))), marginals
    taken over the bigram table itself so the measure is
    self-consistent). ``min_count`` drops the unstable low-frequency
    tail that otherwise dominates PMI rankings.

    Portability: counts and their products stay BIGINT; the single
    double division of two exactly-representable products (< 2^53 at
    any tested scale — widen to DECIMAL beyond ~1e8-token corpora) is
    IEEE-exact, and only the final ln is engine-variant, so pmi is
    rounded to 6 dp and BOTH engines rank by the rounded value with a
    (w1, w2) tie-break — the ranking can never disagree on a last-ulp
    ln difference.

    Plan: bigrams assemble per-row via zip_with (zero shuffle, no
    window over the token stream); one hash aggregate builds the pair
    table; both marginals re-aggregate the (w1, w2, n2) rows — never
    the token stream again; the 1-row corpus total rides a broadcast;
    top-k is TakeOrderedAndProject (per-partition heap, no global
    sort).
    """
    ts = tokens(F.col("text"))
    pairs = F.zip_with(
        F.slice(ts, 1, F.size(ts) - 1),
        F.slice(ts, 2, F.size(ts) - 1),
        lambda x, y: F.struct(x.alias("w1"), y.alias("w2")),
    )
    bg = docs.select(F.explode(pairs).alias("p")).select("p.w1", "p.w2")
    c2 = bg.groupBy("w1", "w2").agg(F.count("*").alias("n2"))
    c1l = c2.groupBy("w1").agg(F.sum("n2").alias("n1l"))
    c1r = c2.groupBy("w2").agg(F.sum("n2").alias("n1r"))
    tot = c2.agg(F.sum("n2").alias("nn"))
    pmi = F.round(
        F.log(
            (F.col("nn") * F.col("n2")).cast("double")
            / (F.col("n1l") * F.col("n1r")).cast("double")
        ),
        6,
    )
    return (
        c2.filter(F.col("n2") >= min_count)
        .join(c1l, "w1")
        .join(c1r, "w2")
        .crossJoin(F.broadcast(tot))
        .select("w1", "w2", "n2", pmi.alias("pmi"))
        .orderBy(F.col("pmi").desc(), "w1", "w2")
        .limit(k)
    )


def zipf_slope(docs: DataFrame, top_n: int = 100) -> DataFrame:
    """(lang, n_terms, zipf_slope): least-squares slope of
    log(frequency) vs log(rank) over each language's ``top_n`` terms —
    the power-law audit of a corpus (natural language sits near -1;
    generated/templated text flattens, boilerplate steepens; a drifting
    slope between two crawl snapshots is a cheap contamination alarm).

    Plan: term frequencies are one hash aggregate; the ranking window
    runs over the aggregated vocabulary rows per language (bounded),
    never the token stream. Portability: per-term log(rank)/log(freq)
    are rounded to 6 dp and DECIMAL-summed into the five regression
    moments (n, Sx, Sy, Sxy, Sxx), then the closed-form slope is a
    fixed sequence of double ops mirrored verbatim in the oracle.
    """
    from pyspark.sql import Window

    tf = (
        docs.select("lang", F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("lang", "token")
        .agg(F.count("*").alias("tf"))
    )
    w = Window.partitionBy("lang").orderBy(F.col("tf").desc(), F.col("token"))
    ranked = tf.withColumn("rank", F.row_number().over(w)).filter(
        F.col("rank") <= top_n
    )
    x = F.round(F.log(F.col("rank").cast("double")), 6)
    y = F.round(F.log(F.col("tf").cast("double")), 6)
    dec = lambda c: F.round(c, 6).cast("decimal(20,6)")  # noqa: E731
    moments = ranked.groupBy("lang").agg(
        F.count("*").alias("n_terms"),
        F.sum(dec(x)).alias("sx"),
        F.sum(dec(y)).alias("sy"),
        F.sum(dec(x * y)).alias("sxy"),
        F.sum(dec(x * x)).alias("sxx"),
    )
    n = F.col("n_terms").cast("double")
    sx = F.col("sx").cast("double")
    sy = F.col("sy").cast("double")
    sxy = F.col("sxy").cast("double")
    sxx = F.col("sxx").cast("double")
    slope = (n * sxy - sx * sy) / (n * sxx - sx * sx)
    return moments.select(
        "lang", "n_terms", F.round(slope, 4).alias("zipf_slope")
    )


def top_ngrams_per_lang(docs: DataFrame, n: int = 2, k: int = 5) -> DataFrame:
    """Top-k word n-grams (default bigrams) per language by corpus
    frequency — the phrase-level twin of :func:`term_frequency`.

    Plan: posexplode tokens once and assemble n-grams with ``lead``
    over (doc_id, pos) — codegen end to end, NON-distinct (frequency
    semantics, unlike the dedup shingles) — then a hash aggregation
    partial-aggregated before the (lang, ngram)-cardinality exchange,
    and a ranking window over the aggregated rows only (bounded
    per-lang partitions, never the token stream). Ties broken by ngram
    text for determinism.
    """
    from pyspark.sql import Window

    from .dedup import _lead_ngrams

    toks = docs.select(
        "doc_id", "lang", F.posexplode(tokens(F.col("text"))).alias("pos", "tok")
    )
    grams = _lead_ngrams(toks, n, "lang", name="ngram").filter(
        F.col("_last").isNotNull()
    )
    counted = grams.groupBy("lang", "ngram").agg(
        F.count("*").alias("n_occurrences")
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("n_occurrences").desc(), F.col("ngram")
    )
    return (
        counted.withColumn("rank", F.row_number().over(w).cast("bigint"))
        .filter(F.col("rank") <= k)
        .select("lang", "ngram", "n_occurrences", "rank")
    )


def cross_source_leakage(docs: DataFrame) -> DataFrame:
    """Content groups that appear in MORE THAN ONE source — the
    train/eval-leakage audit a corpus curator runs before mixing
    sources. Groups by the canonical bag-of-words key (same normalizer
    as exact dedup), so near-identical re-wordings with identical
    vocabulary are caught, not just byte-equal texts.

    Plan: one narrow key projection, one hash aggregation on the key
    (partial map-side), HAVING-style filter after the agg. The key
    itself (potentially long) is replaced by its md5 in the output so
    downstream joins move 32-byte strings, not document bodies.
    """
    key = token_set_key(F.col("text"))
    return (
        docs.select(
            key.alias("k"),
            "source",
            "doc_id",
        )
        .groupBy("k")
        .agg(
            F.count("*").alias("n_docs"),
            F.count_distinct("source").alias("n_sources"),
            F.min("doc_id").alias("first_doc_id"),
        )
        .filter(F.col("n_sources") > 1)
        .select(
            F.md5(F.col("k")).alias("content_key"),
            "n_docs",
            "n_sources",
            "first_doc_id",
        )
    )


def quality_filter_funnel(docs: DataFrame) -> DataFrame:
    """Curation-funnel report: how many documents survive each
    successive quality gate (length → token count → alpha ratio →
    stopword ratio). One narrow stage computes all gate booleans per
    document; ONE aggregation emits the whole funnel — the corpus is
    scanned exactly once regardless of gate count.

    Gates (deliberately cheap, engine-portable expressions):
      1. len_ok:  100 <= length(text) <= 20000
      2. tok_ok:  >= 20 whitespace tokens
      3. alpha_ok: alphabetic chars (incl. spaces removed) >= 60% of text
      4. stop_ok: stopword fraction of tokens >= 0.02
    """
    t = tokens(F.col("text"))
    txt_len = F.length("text")
    g1 = (txt_len >= 100) & (txt_len <= 20000)
    g2 = F.size(t) >= 20
    alpha = F.length(F.regexp_replace(F.col("text"), "[^a-zA-Z]", ""))
    g3 = alpha.cast("double") / txt_len >= 0.6
    sw = F.lit(list(STOPWORDS)).cast("array<string>")
    stop_frac = (
        F.size(F.filter(t, lambda x: F.array_contains(sw, x))).cast("double")
        / F.size(t)
    )
    g4 = stop_frac >= 0.02
    flags = docs.select(
        g1.alias("g1"),
        (g1 & g2).alias("g12"),
        (g1 & g2 & g3).alias("g123"),
        (g1 & g2 & g3 & g4).alias("g1234"),
    )
    cnt = lambda c: F.sum(F.col(c).cast("bigint")).alias(f"pass_{c}")
    wide = flags.agg(
        F.count("*").alias("n_total"),
        cnt("g1"),
        cnt("g12"),
        cnt("g123"),
        cnt("g1234"),
    )
    # long form: (stage, n_pass) — stable output contract for dashboards
    return wide.select(
        F.expr(
            "stack(5, 'total', n_total, 'len', pass_g1, 'tokens', pass_g12,"
            " 'alpha', pass_g123, 'stopword', pass_g1234)"
        ).alias("stage", "n_pass")
    )


def chunk_documents(
    docs: DataFrame, chunk_tokens: int = 64, overlap: int = 16
) -> DataFrame:
    """RAG-style document chunking: split each document's token stream
    into fixed-size windows with overlap (stride = chunk - overlap),
    emitting one row per chunk with its token span and an md5 content
    key (the downstream embed/index stages join on doc_id+chunk_idx and
    never move full text twice).

    Plan: pure narrow stage — tokens once per doc, chunk index array
    via ``sequence`` (step = stride over token positions), ``explode``,
    ``slice`` per chunk. No shuffle, no UDF; chunk count per doc is
    ceil((n_tokens - overlap) / stride), exactly mirrored by the
    oracle's range() comprehension.
    """
    stride = chunk_tokens - overlap
    t = tokens(F.col("text"))
    n = F.size(t)
    # Chunk start positions: 1, 1+stride, 1+2*stride, ... while start <= n
    # (1-based slice positions; the last chunk may be shorter).
    starts = F.sequence(F.lit(1), n, F.lit(stride))
    exploded = docs.select(
        "doc_id",
        "lang",
        t.alias("toks"),
        F.explode(starts).alias("start"),
    )
    chunk = F.slice(F.col("toks"), F.col("start"), chunk_tokens)
    return exploded.select(
        "doc_id",
        "lang",
        ((F.col("start") - 1) / stride).cast("bigint").alias("chunk_idx"),
        F.col("start").cast("bigint").alias("token_start"),
        F.size(chunk).cast("bigint").alias("n_tokens"),
        F.md5(F.concat_ws(" ", chunk)).alias("chunk_key"),
    )


def dup_paragraph_fraction(
    docs: DataFrame, chunk_tokens: int = 32
) -> DataFrame:
    """(doc_id, n_chunks, n_dup_chunks, dup_fraction): per-document
    fraction of fixed-size non-overlapping token chunks whose content
    also appears in at least one OTHER document — the duplicate-
    paragraph quality signal of the RefinedWeb/Dolma curation recipes
    (a page whose paragraphs mostly exist elsewhere is boilerplate or
    scraper spam even when the page as a whole is unique, so
    whole-document dedup never catches it).

    Built on :func:`chunk_documents` with ``overlap=0`` (overlapping
    chunks would double-count shared text). A chunk counts as
    duplicated when its md5 content key occurs in >= 2 distinct
    documents; same-document repetition is NOT cross-doc duplication
    (that internal signal is :func:`text_repetition`'s job).

    Plan (100 TB): chunking is the narrow explode+slice stage; one
    hash aggregation on the 32-byte chunk key (partial map-side)
    computes per-key document counts; one co-keyed join attaches them
    back; one aggregation on doc_id emits the fractions. Keys are
    md5 digests, so the exchange moves fixed 32-byte strings, never
    paragraph text.
    """
    chunks = chunk_documents(docs, chunk_tokens=chunk_tokens, overlap=0)
    per_key = chunks.groupBy("chunk_key").agg(
        F.count_distinct("doc_id").alias("key_docs")
    )
    return (
        chunks.join(per_key, "chunk_key")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.count(F.when(F.col("key_docs") >= 2, 1)).alias(
                "n_dup_chunks"
            ),
        )
        .withColumn(
            "dup_fraction",
            F.round(F.col("n_dup_chunks") / F.col("n_chunks"), 4),
        )
    )


def gopher_quality_signals(
    docs: DataFrame,
    min_words: int = 20,
    max_words: int = 100_000,
) -> DataFrame:
    """Per-document Gopher rule signals (Rae et al. 2021,
    arXiv:2112.11446 §A1.1): the cheap lexical gates a web-scale
    curation pipeline applies before any model-based scoring. Columns:
    word count, mean word length, fraction of words containing an
    alphabetic character, count of distinct required stopwords present,
    and the composite ``gopher_pass`` flag
    (``min_words <= n_words <= max_words``, ``3 <= mean_word_len <= 10``,
    ``frac_alpha_words >= 0.8``, ``stop_hits >= 2``).

    The word-count floor defaults to 20 (Gopher's canonical 50 is a
    web-page bound; the fixture's documents are clipped shorter) and the
    required-stopword set is ``LANG_LEXICONS['en']`` — the same lexicon
    the langid scorer uses, so the whole quality stack shares one
    vocabulary. Empty tokens (consecutive/trailing separators) are
    filtered before any signal, so a blank document gets
    ``n_words = 0``, NULL ratios, and ``gopher_pass = false``.

    Plan (100 TB): one narrow map stage over the documents scan — no
    explode, no shuffle, no UDF; every signal is a higher-order-function
    expression on the token array, so the corpus pays exactly one pass
    and the flag composes with filter pushdown when used as a gate.
    Ratios are gated on their 4dp-ROUNDED values so the Spark plan and
    the DuckDB twin take identical branches at the thresholds.
    """
    t = F.filter(tokens(F.col("text")), lambda x: x != "")
    n = F.size(t).cast("bigint")
    char_sum = F.length(F.array_join(t, "")).cast("bigint")
    mean_wl = F.when(
        n > 0, F.round(char_sum.cast("double") / n.cast("double"), ROUND_DP)
    )
    alpha_words = F.size(F.filter(t, lambda x: x.rlike("[a-zA-Z]")))
    frac_alpha = F.when(
        n > 0,
        F.round(alpha_words.cast("double") / n.cast("double"), ROUND_DP),
    )
    req = F.lit(list(LANG_LEXICONS["en"])).cast("array<string>")
    stop_hits = F.size(F.array_intersect(t, req)).cast("bigint")
    gopher_pass = F.coalesce(
        (n >= min_words)
        & (n <= max_words)
        & (mean_wl >= 3.0)
        & (mean_wl <= 10.0)
        & (frac_alpha >= 0.8)
        & (stop_hits >= 2),
        F.lit(False),
    )
    return docs.select(
        "doc_id",
        n.alias("n_words"),
        mean_wl.alias("mean_word_len"),
        frac_alpha.alias("frac_alpha_words"),
        stop_hits.alias("stop_hits"),
        gopher_pass.alias("gopher_pass"),
    )


def doc_logfreq_score(docs: DataFrame) -> DataFrame:
    """Corpus-frequency quality score per document: the mean natural log
    of each token's corpus term frequency — a cheap unigram
    "perplexity proxy" (documents full of rare/garbage tokens score
    low, stopword soup scores high; curation pipelines cut both tails).

    Two aggregations: (1) corpus term frequencies (vocabulary-sized
    exchange, partial-aggregated), (2) explode the corpus again and
    shuffle-join tokens to their frequencies — the join key is the
    token, so the exchange is token-stream-sized but carries (token,
    bigint) pairs only, never document bodies. The per-doc mean sums
    rounded per-token logs in DECIMAL so partial-aggregation order
    cannot move the result; N-digit determinism matches the oracle.
    """
    exploded = docs.select("doc_id", F.explode(tokens(F.col("text"))).alias("token"))
    tf = exploded.groupBy("token").agg(F.count("*").alias("tf"))
    # Round the per-token log BEFORE summing: ln() is libm-identical for
    # the same doubles, and the 6-dp round makes the decimal sum exact.
    log_tf = F.round(F.log(F.col("tf").cast("double")), 6).cast("decimal(20,6)")
    return (
        exploded.join(tf, "token")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_tokens"),
            F.round(
                F.sum(log_tf).cast("double") / F.count("*"), ROUND_DP
            ).alias("mean_log_tf"),
        )
    )


def vocab_coverage_bands(docs: DataFrame) -> DataFrame:
    """Tokenizer-design audit: what fraction of the corpus token stream
    is covered by tokens whose corpus frequency reaches each band
    (tf >= 1 / 10 / 100 / 1000)? High mass in low bands = long-tail
    garbage the vocabulary would waste slots on.

    No global rank needed (the usual top-k-vocab formulation drags a
    total order over the vocabulary): band membership is a pure
    per-token predicate on tf, so the whole report is the tf aggregate
    plus ONE conditional-sum pass — scale-safe at any vocabulary size.
    """
    tf = (
        docs.select(F.explode(tokens(F.col("text"))).alias("token"))
        .groupBy("token")
        .agg(F.count("*").alias("tf"))
    )
    bands = [1, 10, 100, 1000]
    total = F.sum("tf")
    aggs = [F.count("*").alias("n_tokens_vocab"), total.alias("stream_total")]
    for b in bands:
        aggs.append(
            F.sum(F.when(F.col("tf") >= b, F.col("tf")).otherwise(0)).alias(
                f"mass_ge_{b}"
            )
        )
    wide = tf.agg(*aggs)
    # inline() (not stack()) for the unpivot: every struct carries the
    # SAME field names, which Spark 4's stack type-check requires.
    rows = F.array(
        *[
            F.struct(
                F.lit(b).cast("bigint").alias("min_tf"),
                F.col(f"mass_ge_{b}").cast("bigint").alias("stream_mass"),
            )
            for b in bands
        ]
    )
    return wide.select(
        "n_tokens_vocab", "stream_total", F.inline(rows)
    ).select(
        "min_tf",
        "n_tokens_vocab",
        "stream_mass",
        F.round(
            F.col("stream_mass").cast("double") / F.col("stream_total"), 4
        ).alias("coverage"),
    )


def doc_novelty(docs: DataFrame, n: int = 3) -> DataFrame:
    """Memorization/novelty audit: per document, the fraction of its
    distinct word n-grams that appear in NO other document. Low novelty
    = boilerplate or near-duplicate content; the complement of the
    dedup signal at sub-document granularity.

    Plan: distinct n-grams per doc via the codegen posexplode+lead
    shingle formulation (operators/dedup.py exploded_shingles — the
    interpreted per-row array transform measured ~8x slower); gram
    document-frequency by hash aggregation; join back on the gram and
    re-aggregate per doc. Exchanges carry (gram, count) pairs — never
    document bodies.
    """
    from .dedup import exploded_shingles

    sh = exploded_shingles(docs, n).withColumnRenamed("shingle", "gram")
    df_counts = sh.groupBy("gram").agg(F.count("*").alias("gram_df"))
    return (
        sh.join(df_counts, "gram")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_grams"),
            F.sum(F.when(F.col("gram_df") == 1, 1).otherwise(0)).alias(
                "n_unique_grams"
            ),
            F.round(
                F.sum(F.when(F.col("gram_df") == 1, 1).otherwise(0)).cast(
                    "double"
                )
                / F.count("*"),
                ROUND_DP,
            ).alias("novelty"),
        )
    )


def bpe_pair_stats(docs: DataFrame, k: int = 20) -> DataFrame:
    """(rank, pair, n_occurrences): the top-``k`` adjacent character
    pairs by corpus frequency — the merge-candidate statistics of one
    byte-pair-encoding training iteration (Sennrich et al. 2016,
    arXiv:1508.07909; the same pair-counting step GPT-2's byte-level
    BPE iterates).

    Scale shape (the classic BPE trick): pairs are counted over the
    WORD-FREQUENCY table, not the token stream — the corpus collapses
    to its vocabulary in one hash aggregate first, so the pair explode
    touches |vocab| rows regardless of corpus size; per-pair counts
    weight by word frequency. The global top-k is orderBy+limit
    (TakeOrderedAndProject — per-partition heaps, k rows to the
    driver-side stage, never a full sort). Further merge iterations
    repeat this same plan on the re-segmented vocabulary (the
    fixed-iteration pattern of clustering.kmeans_assign).
    """
    from pyspark.sql import Window

    wf = (
        docs.select(F.explode(tokens(F.col("text"))).alias("word"))
        .filter(F.length("word") >= 2)
        .groupBy("word")
        .agg(F.count("*").alias("wf"))
    )
    pairs = wf.select(
        "wf",
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("word") - 1),
                lambda i: F.substring(F.col("word"), i, F.lit(2)),
            )
        ).alias("pair"),
    )
    ranked = (
        pairs.groupBy("pair")
        .agg(F.sum("wf").alias("n_occurrences"))
        .orderBy(F.col("n_occurrences").desc(), F.col("pair"))
        .limit(k)
    )
    w = Window.orderBy(F.col("n_occurrences").desc(), F.col("pair"))
    return ranked.select(
        F.row_number().over(w).cast("bigint").alias("rank"),
        "pair",
        "n_occurrences",
    )


def heavy_hitters_checked(docs: DataFrame, k: int = 80) -> DataFrame:
    """(pair, n_exact, within_bound): guaranteed heavy hitters of the
    character-pair stream under a merged Misra-Gries summary — the
    one-pass bounded-memory frequent-items sketch (Misra & Gries 1982;
    mergeability per Agarwal et al. 2013, "Mergeable Summaries").

    Each input partition keeps a k-counter MG summary (mapInPandas,
    Arrow-batched, O(k) memory); summaries merge by summing counters
    then subtracting the (k+1)-th largest merged value. Total
    undercount is bounded: per-partition decrements sum to at most
    n_p/(k+1) each and the merge subtraction is at most n/(k+1), so
    ``exact - est <= 2n/(k+1)`` and every item with
    ``exact > 2n/(k+1)`` is GUARANTEED present in the merged summary.

    The emitted rows are that guaranteed set (deterministic regardless
    of partitioning) with exact counts from the verification tier;
    ``within_bound`` asserts presence + the two-sided bound, all in
    integer arithmetic, so the oracle can require literal TRUE. The
    sketch path (mapInPandas + a <=32k-row merge) is the 100 TB shape:
    the token stream never shuffles, only k rows per partition do; the
    exact GROUP BY here is verification-only, like
    relational.approx_distinct_users_checked.
    """
    from pyspark.sql import Window

    w = docs.select(F.explode(tokens(F.col("text"))).alias("word")).filter(
        F.length("word") >= 2
    )
    pairs = w.select(
        F.explode(
            F.transform(
                F.sequence(F.lit(1), F.length("word") - 1),
                lambda i: F.substring(F.col("word"), i, F.lit(2)),
            )
        ).alias("pair")
    ).localCheckpoint(eager=True)  # consumed twice: the MG sketch pass
    # + the exact tier; materialized once by this call

    def mg(batches):
        counters: dict[str, int] = {}
        for pdf in batches:
            for tok in pdf["pair"]:
                if tok in counters:
                    counters[tok] += 1
                elif len(counters) < k:
                    counters[tok] = 1
                else:
                    dead = []
                    for t in counters:
                        counters[t] -= 1
                        if counters[t] == 0:
                            dead.append(t)
                    for t in dead:
                        del counters[t]
        yield pd.DataFrame(
            {"pair": list(counters.keys()), "est": list(counters.values())}
        )

    merged = (
        pairs.mapInPandas(mg, "pair string, est long")
        .groupBy("pair")
        .agg(F.sum("est").alias("s"))
    )
    # (k+1)-th largest merged counter; the window runs over <= 32*k
    # summary rows (bounded by construction), never the stream.
    wnd = Window.orderBy(F.col("s").desc(), F.col("pair"))
    thr = (
        merged.withColumn("rn", F.row_number().over(wnd))
        .filter(F.col("rn") == k + 1)
        .agg(F.coalesce(F.max("s"), F.lit(0).cast("bigint")).alias("thr"))
    )
    summary = (
        merged.crossJoin(F.broadcast(thr))
        .select("pair", (F.col("s") - F.col("thr")).alias("est"))
        .filter(F.col("est") > 0)
    )
    exact = pairs.groupBy("pair").agg(F.count("*").alias("n_exact"))
    # stream total derives from the exact aggregate (no third scan)
    tot = exact.agg(F.sum("n_exact").alias("n"))
    return (
        exact.crossJoin(F.broadcast(tot))
        .filter(F.col("n_exact") * (k + 1) > F.lit(2) * F.col("n"))
        .join(summary, "pair", "left")
        .select(
            "pair",
            "n_exact",
            (
                F.col("est").isNotNull()
                & (F.col("est") <= F.col("n_exact"))
                & (
                    (F.col("n_exact") - F.col("est")) * (k + 1)
                    <= F.lit(2) * F.col("n")
                )
            ).alias("within_bound"),
        )
    )


def source_kl_divergence(documents: DataFrame) -> DataFrame:
    """(source, n_tokens, kl_nats): KL(P_source ‖ P_corpus) over
    unigram distributions — the distribution-drift audit that flags a
    source whose token mix diverges from the corpus (crawl rot, format
    contamination, a scraper gone wrong), and the quantitative backbone
    of source-weighting decisions.

    Engine-portability: per-token log-likelihood ratios are computed
    from four exact BIGINT counts in one double division + ln, rounded
    to 6dp and cast DECIMAL(20,6) BEFORE summation (the DSIR/bigram-LM
    pattern) — the per-source sum is decimal-exact, and the final
    /n_tokens normalization is one double division at the edge.

    Scale shape: the token stream explodes ONCE and collapses
    immediately to the (source, token, cnt) profile (partial-aggregated
    before its only big exchange); corpus token counts re-aggregate
    FROM the profile (no second scan) and join back co-partitioned on
    the token; per-source totals and the corpus grand total are tiny
    broadcasts.
    """
    from ..functions.textual import tokens

    prof = (
        documents.select("source", F.explode(tokens(F.col("text"))).alias("t"))
        .groupBy("source", "t")
        .agg(F.count("*").alias("cnt"))
    )
    totals_s = prof.groupBy("source").agg(F.sum("cnt").alias("total_s"))
    corpus = prof.groupBy("t").agg(F.sum("cnt").alias("cnt_q"))
    total_q = corpus.agg(F.sum("cnt_q").alias("total_q"))
    lw = (
        F.round(
            F.log(
                (F.col("cnt") * F.col("total_q")).cast("double")
                / (F.col("total_s") * F.col("cnt_q")).cast("double")
            ),
            6,
        )
    ).cast("decimal(20,6)")
    return (
        prof.join(corpus, "t")
        .join(F.broadcast(totals_s), "source")
        .crossJoin(F.broadcast(total_q))
        .select("source", "total_s", (F.col("cnt") * lw).alias("contrib"))
        .groupBy("source", "total_s")
        .agg(F.sum("contrib").alias("kl_dec"))
        .select(
            "source",
            F.col("total_s").cast("bigint").alias("n_tokens"),
            F.round(
                F.col("kl_dec").cast("double") / F.col("total_s").cast("double"), 6
            ).alias("kl_nats"),
        )
    )


def sentence_udtf():
    """Python UDTF (Spark 4 user-defined TABLE function API): one doc
    in, one row per sentence out — the lateral-join surface
    (``SELECT ... FROM docs, LATERAL split_sentences(doc_id, text)``).

    API-surface demo ONLY, deliberately unregistered as a query: UDTFs
    evaluate row-at-a-time Python (``BatchEvalPythonUDTF``), which this
    repo's plan gate bans from hot paths — the production sentence/
    chunk splitters are the codegen ``chunk_documents`` and
    ``exploded_shingles`` paths. Keeping the demo in the operator
    module (tested in tests/test_text.py) documents that the API
    surface is covered and WHY it stays off the data path.
    """
    from pyspark.sql.functions import udtf

    @udtf(returnType="chunk_id INT, sentence STRING, n_tokens INT")
    class SplitSentences:
        def eval(self, doc_id: int, text: str):
            parts = [t.strip() for t in (text or "").split(".")]
            for i, s in enumerate(t for t in parts if t):
                yield i, s, len(s.split())

    return SplitSentences
