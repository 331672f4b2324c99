"""Training-data pipeline operators: deterministic sampling/splitting,
sequence packing, PII redaction, and benchmark decontamination.

These are the curation steps a 100 TB LLM-data pipeline runs between
raw ingest and tokenization (none exist in the reference — its surface
stops at windowed aggregates, FlightEventAggregator.java:89-155; this
module is the SURVEY §2.6 / brief "training-data pipeline" extension
family, sitting alongside operators/dedup.py and operators/text.py).

Scale stance shared by every operator here:

- **Sampling and splitting are hash-deterministic, not rand().** A
  `rand(seed)` sample is partitioning-dependent (seed is per-partition)
  and unreproducible across engines; keying the decision on
  `md5(doc_id)` makes the sample a pure projection — re-runnable,
  resumable mid-pipeline, identical on any cluster layout, and
  auditable row-by-row in the oracle. It is also a narrow plan: no
  shuffle at all, filters stack under the scan.
- **Packing** uses offset-based assignment (exclusive prefix sum of
  token counts ÷ budget) — one hash exchange by shard + an in-partition
  sort, instead of the sequential greedy packer that cannot be
  expressed as a distributed plan. Packs can overflow the budget by at
  most one document's tokens, the standard trade in distributed
  pre-tokenization batching.
- **Redaction** is pure `regexp_replace` — JVM codegen, no UDF.
- **Decontamination** broadcasts the (small) benchmark n-gram set and
  semi-joins the corpus against it: the corpus never shuffles; the
  plan is scan → explode → broadcast hash join → aggregate.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

# ---------------------------------------------------------------------------
# deterministic hash bucketing (shared by sampling + splitting)
# ---------------------------------------------------------------------------

HASH_SPACE = 16**4  # first 4 hex chars of md5 → 65536 uniform buckets


def _hash_bucket(key: Column) -> Column:
    """Uniform [0, 65536) bucket from the first 4 hex chars of
    ``md5(key)`` — identical in any engine with md5 (the DuckDB oracle
    compares the hex substring lexicographically; '0'-'9' < 'a'-'f'
    holds in ASCII, so string comparison IS numeric comparison here).
    """
    return F.conv(F.substring(F.md5(key.cast("string")), 1, 4), 16, 10).cast("long")


def hex_threshold(fraction: float) -> str:
    """The threshold string t such that ``substr(md5(k),1,4) < t`` keeps
    ~``fraction`` of keys under LEXICOGRAPHIC comparison.

    fraction >= 1.0 returns the sentinel ``'g'`` — above every 4-hex
    string ('0'-'9','a'-'f' all sort below 'g'), so every row is kept;
    the naive ``format(65536, '04x')`` = '10000' breaks the
    string-order-equals-numeric-order contract (a 5-char string keeps
    only hashes starting '0' or exactly '1000', ~6% of rows).
    """
    n = max(0, min(HASH_SPACE, round(fraction * HASH_SPACE)))
    if n >= HASH_SPACE:
        return "g"
    return format(n, "04x")


def stratified_sample(documents: DataFrame, rates: dict[str, float]) -> DataFrame:
    """Per-language deterministic sample of the corpus.

    ``rates`` maps lang → keep-fraction (languages absent from the map
    are dropped). The keep decision is a pure function of ``doc_id``:
    no rand(), no shuffle, no state — the plan is a single filtered
    scan, and the same rows are kept on 1 executor or 1000.
    """
    hex4 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    keep = F.lit(False)
    for lang, frac in sorted(rates.items()):
        keep = keep | ((F.col("lang") == lang) & (hex4 < hex_threshold(frac)))
    return documents.filter(keep).select("doc_id", "lang", "source", "n_chars")


def train_test_split(
    documents: DataFrame, val_frac: float = 0.1, test_frac: float = 0.1
) -> DataFrame:
    """Assign every document a deterministic train/val/test split and
    report per-(split, lang) counts.

    Buckets come from the md5 hash space: [0, val) → val,
    [val, val+test) → test, rest → train. Disjoint and exhaustive by
    construction; membership survives reruns and corpus appends
    (existing docs never change split when new docs arrive — the
    property that keeps eval sets stable as a crawl grows).
    """
    b = _hash_bucket(F.col("doc_id"))
    v = round(val_frac * HASH_SPACE)
    t = round((val_frac + test_frac) * HASH_SPACE)
    split = (
        F.when(b < v, F.lit("val")).when(b < t, F.lit("test")).otherwise(F.lit("train"))
    )
    return (
        documents.select(split.alias("split"), "lang")
        .groupBy("split", "lang")
        .agg(F.count("*").alias("n_docs"))
    )


# ---------------------------------------------------------------------------
# sequence packing
# ---------------------------------------------------------------------------


def pack_sequences(documents: DataFrame, budget: int = 512) -> DataFrame:
    """Assign documents to fixed-token-budget packs and summarize packs.

    Within each ``source`` shard, documents are laid out in ``doc_id``
    order at their exclusive-prefix-sum token offset; pack id =
    offset ÷ budget. One exchange (hash by source) + one in-partition
    sort; the cumulative sum is a window aggregate, not a sequential
    loop. A document whose span crosses a pack boundary belongs to the
    pack its offset falls in (packs overflow by < 1 document — the
    deterministic, distributable packing used before tokenizer-level
    splitting).

    Token count = whitespace tokens (the tokenizer-independent
    pre-count; operators/text.py owns the BPE-ish subtoken count).
    """
    from pyspark.sql import Window

    toks = F.size(F.split(F.col("text"), " ")).cast("long")
    w = (
        Window.partitionBy("source")
        .orderBy("doc_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    with_offset = documents.select(
        "doc_id", "source", toks.alias("n_tokens")
    ).withColumn("offset", F.sum("n_tokens").over(w) - F.col("n_tokens"))
    return (
        with_offset.groupBy(
            "source", (F.col("offset") / budget).cast("long").alias("pack_id")
        )
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("pack_tokens"),
            F.min("doc_id").alias("first_doc"),
            F.max("doc_id").alias("last_doc"),
        )
    )


# ---------------------------------------------------------------------------
# PII redaction
# ---------------------------------------------------------------------------

EMAIL_RE = r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}"
PHONE_RE = r"\+?\d{3}[-. ]\d{3,4}[-. ]?\d{0,4}"


def redact_pii(documents: DataFrame) -> DataFrame:
    """Scrub email addresses and phone-shaped digit runs from text.

    Pure ``regexp_replace`` chain — whole-stage-codegen'd, zero UDFs,
    narrow (the 100 TB plan is scan → project → write). The synthetic
    corpus carries no natural PII, so the operator first appends a
    deterministic contact line per document (making the redaction
    observable and oracle-checkable end-to-end), then strips it.
    Output reports per-document match counts plus a digest of the
    redacted text so the oracle verifies the actual rewritten bytes.
    """
    contact = F.format_string(
        "%s contact: user%d@example.com or +1-555-010%d",
        F.col("text"),
        F.col("doc_id"),
        F.pmod(F.col("doc_id"), F.lit(10)),
    )
    n_emails = F.size(F.regexp_extract_all(contact, F.lit(EMAIL_RE), 0))
    n_phones = F.size(F.regexp_extract_all(contact, F.lit(PHONE_RE), 0))
    redacted = F.regexp_replace(
        F.regexp_replace(contact, EMAIL_RE, "[EMAIL]"), PHONE_RE, "[PHONE]"
    )
    return documents.select(
        "doc_id",
        n_emails.cast("int").alias("n_emails"),
        n_phones.cast("int").alias("n_phones"),
        F.length(redacted).cast("long").alias("redacted_len"),
        F.md5(redacted).alias("redacted_md5"),
    )


# ---------------------------------------------------------------------------
# benchmark decontamination
# ---------------------------------------------------------------------------


def decontaminate(
    documents: DataFrame, n: int = 5, eval_mod: int = 97
) -> DataFrame:
    """Flag training documents sharing any word ``n``-gram with the
    held-out benchmark set (docs where ``doc_id % eval_mod == 0`` —
    the stand-in for an external eval corpus).

    The canonical pre-training decontamination pass (n-gram collision
    against benchmark text, à la GPT-3 appendix C / Dolma). Plan shape
    at scale: the benchmark side is tiny → its distinct n-grams are
    broadcast; the corpus side explodes to n-grams and semi-joins —
    the corpus never shuffles, and the aggregate that follows groups
    by doc_id within the exploded stream.

    Returns (doc_id, n_hits, sample_ngram): contaminated training docs,
    how many distinct benchmark n-grams they collide on, and the
    lexicographically-first colliding n-gram (for audit).
    """
    from .dedup import exploded_shingles

    # explode + lead, not a per-row transform() fold — higher-order
    # functions are CodegenFallback (BASELINE.md §3 finding 1).
    with_grams = exploded_shingles(documents, n).withColumnRenamed(
        "shingle", "ngram"
    )
    is_eval = F.col("doc_id") % eval_mod == 0
    eval_grams = with_grams.filter(is_eval).select("ngram").distinct()
    return (
        with_grams.filter(~is_eval)
        .join(F.broadcast(eval_grams), "ngram")
        .groupBy("doc_id")
        .agg(
            F.count_distinct("ngram").alias("n_hits"),
            F.min("ngram").alias("sample_ngram"),
        )
    )


# ---------------------------------------------------------------------------
# deterministic global shuffle (training-order randomization)
# ---------------------------------------------------------------------------

def corpus_shuffle(
    documents: DataFrame, seed: str = "42", parts: int | None = None
) -> DataFrame:
    """Assign every document its position in a deterministic
    pseudo-random global ordering — the "shuffle the corpus before
    training" step, reproducible across reruns and cluster layouts
    because the order key is ``md5(seed || doc_id)``, not ``rand()``.

    Scale design: a naive ``row_number() OVER (ORDER BY key)`` collapses
    ranking into ONE partition. Instead the classic distributed total
    order: range-repartition on the key (ordered partitions), rank
    WITHIN each partition in parallel, then add per-partition offsets
    (an exclusive prefix sum over the tiny partition-count vector,
    broadcast back). Positions are a pure function of the key ordering,
    so range-boundary sampling nondeterminism cannot change the output.

    The partitioned frame is materialized ONCE (``localCheckpoint``)
    before counts and ranks are derived from it: both subtrees must see
    the SAME pid assignment, and without pinning, a re-evaluated range
    exchange could re-sample different boundaries (ReuseExchange usually
    dedupes the identical subtree, but that is an optimizer courtesy,
    not a contract). The checkpoint costs what the shuffle already
    costs, and if an executor dies the job fails loudly instead of
    silently mixing two boundary sets.
    """
    sk = F.md5(F.concat(F.lit(f"{seed}:"), F.col("doc_id").cast("string")))
    n = parts or documents.sparkSession.sparkContext.defaultParallelism
    ranged = (
        documents.withColumn("sk", sk)
        .repartitionByRange(n, "sk")
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    w_part = Window.partitionBy("pid").orderBy("sk")
    counts = ranged.groupBy("pid").count()
    w_prefix = Window.orderBy("pid").rowsBetween(
        Window.unboundedPreceding, -1
    )  # tiny frame: one row per partition, never data-sized
    offsets = counts.select(
        "pid",
        F.coalesce(F.sum("count").over(w_prefix), F.lit(0)).alias("offset"),
    )
    return (
        ranged.withColumn("rn", F.row_number().over(w_part))
        .join(F.broadcast(offsets), "pid")
        .select(
            "doc_id",
            "lang",
            "source",
            (F.col("offset") + F.col("rn")).cast("long").alias("position"),
        )
    )


def weighted_sample_es(
    documents: DataFrame, k: int = 100, seed: str = "es"
) -> DataFrame:
    """Weight-proportional sample without replacement — Efraimidis &
    Spirakis (2006) algorithm A-ES: each document draws a deterministic
    uniform u from md5(seed || doc_id), computes the log-space key
    ``ln(u) / w`` (monotone in the classic ``u^(1/w)``), and the k
    LARGEST keys form a sample where inclusion probability is
    proportional to weight. Weight here is ``n_chars`` (floored at 1 so
    degenerate empty documents stay sampleable) — the
    "sample documents proportional to length" step of a token-budgeted
    pretraining mix; any positive score column works the same way.

    Determinism contract: u = (first 13 md5 hex digits + 1) / 2^52 —
    exact integer-to-double math in both engines; ``ln`` is the only
    libm call and is 6dp-rounded BEFORE the divide (the repo-wide ln
    guard), and ranking happens on the rounded key with a doc_id
    tie-break, so both engines rank identically.

    Plan (100 TB): one narrow map stage then global top-k =
    ``TakeOrderedAndProject`` — per-partition size-k heaps merged at
    the driver, k rows moved, no global sort, no shuffle of the corpus.
    This IS the distributed weighted reservoir: partial heaps are
    mergeable, so the same plan incrementalizes over streaming
    micro-batches.
    """
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit(f"{seed}:"), F.col("doc_id").cast("string"))),
            1,
            13,
        ),
        16,
        10,
    ).cast("double")
    u = (h + F.lit(1.0)) / F.lit(4503599627370496.0)  # 2^52
    w = F.greatest(F.col("n_chars"), F.lit(1)).cast("bigint")
    es_key = F.round(F.log(u), 6) / w.cast("double")
    return (
        documents.select(
            "doc_id",
            "lang",
            "source",
            w.alias("weight"),
            es_key.alias("es_key"),
        )
        .orderBy(F.col("es_key").desc(), "doc_id")
        .limit(k)
    )


# ---------------------------------------------------------------------------
# end-to-end curation pipeline (composition flagship)
# ---------------------------------------------------------------------------

def curation_pipeline(
    documents: DataFrame,
    min_tokens: int = 5,
    min_quality: float = 1.0,
    val_frac: float = 0.1,
    test_frac: float = 0.1,
) -> DataFrame:
    """The whole curation chain in ONE declarative plan: quality gate →
    exact dedup (bag-of-words key, keep lowest doc_id) → deterministic
    split assignment → per-(split, lang) doc and token totals.

    Composability is the point: quality scoring and split assignment
    are pure projections, so Catalyst fuses them around the single
    dedup shuffle — the full pipeline costs one exchange plus the final
    aggregation, exactly what a 100 TB curation pass should cost.
    """
    from ..functions.textual import token_set_key
    from .text import ROUND_DP, STOPWORDS, distinct_tokens, tokens

    t = tokens(F.col("text"))
    n_tokens = F.size(t).cast("bigint")
    ttr = F.round(
        F.size(distinct_tokens(F.col("text"))).cast("double")
        / n_tokens.cast("double"),
        ROUND_DP,
    )
    stop_ratio = F.round(
        F.size(F.filter(t, lambda x: x.isin(*STOPWORDS))).cast("double")
        / n_tokens.cast("double"),
        ROUND_DP,
    )
    quality = F.round(ttr + (1.0 - stop_ratio), ROUND_DP)

    kept = documents.select(
        "doc_id", "lang", "text", n_tokens.alias("n_tokens")
    ).filter((F.col("n_tokens") >= min_tokens) & (quality >= min_quality))

    w = Window.partitionBy("key").orderBy("doc_id")
    deduped = (
        kept.withColumn("key", token_set_key(F.col("text")))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
    )

    b = _hash_bucket(F.col("doc_id"))
    v = round(val_frac * HASH_SPACE)
    tt = round((val_frac + test_frac) * HASH_SPACE)
    split = (
        F.when(b < v, F.lit("val")).when(b < tt, F.lit("test")).otherwise(F.lit("train"))
    )
    return (
        deduped.select(split.alias("split"), "lang", "n_tokens")
        .groupBy("split", "lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("n_tokens").alias("sum_tokens"),
        )
    )


# ---------------------------------------------------------------------------
# weighted source mixing (up/down-sampling with deterministic epochs)
# ---------------------------------------------------------------------------

def source_mix_sample(
    documents: DataFrame,
    weights: dict[str, float],
    default_weight: float = 0.0,
) -> DataFrame:
    """Weighted data mixing: each source is up- or down-sampled to its
    target weight. Weight w means every document yields ``floor(w)``
    guaranteed copies plus one more with probability ``frac(w)`` —
    decided by the same md5 hash bucket as all sampling here, so the
    mix is a pure function of (doc_id, source): reproducible across
    reruns, engines, and cluster layouts, and append-stable.

    Plan: narrow projection computes n_copies per row (CASE over
    literal per-source thresholds), filter, then ``explode(sequence)``
    emits the copies — no shuffle anywhere; oversampling multiplies
    rows at the scan, never via a join.
    """
    hex4 = F.substring(F.md5(F.col("doc_id").cast("string")), 1, 4)
    n_copies = F.lit(int(default_weight)) + (
        hex4 < hex_threshold(default_weight - int(default_weight))
    ).cast("int")
    for src, w in sorted(weights.items()):
        expr = F.lit(int(w)) + (hex4 < hex_threshold(w - int(w))).cast("int")
        n_copies = F.when(F.col("source") == src, expr).otherwise(n_copies)
    return (
        documents.select("doc_id", "source", "lang", n_copies.alias("n_copies"))
        .filter(F.col("n_copies") >= 1)
        .select(
            "doc_id",
            "source",
            "lang",
            F.explode(F.sequence(F.lit(1), F.col("n_copies"))).alias("copy_idx"),
        )
        .withColumn("copy_idx", F.col("copy_idx").cast("bigint"))
    )


def per_group_sample(
    documents: DataFrame, group_col: str = "lang", k: int = 5
) -> DataFrame:
    """Deterministic k-per-group sample (the spot-check/eval-slice
    draw): rank documents inside each group by ``md5(doc_id)`` and keep
    the first k — a reservoir sample whose membership is a pure
    function of doc_id, so it is identical across reruns, engines, and
    cluster layouts, and stable under corpus appends (a new doc only
    displaces the current k-th member if its hash sorts earlier).

    Plan: one hash exchange on the group key; the ranking window runs
    per group partition (k tiny, groups bounded) — no global sort, no
    rand().
    """
    h = F.md5(F.col("doc_id").cast("string"))
    w = Window.partitionBy(group_col).orderBy(h, "doc_id")
    return (
        documents.withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= k)
        .select(
            group_col,
            F.col("rk").cast("bigint").alias("sample_rank"),
            "doc_id",
            "source",
            "n_chars",
        )
    )


def dsir_importance(
    documents: DataFrame, target_lang: str = "en", buckets: int = 1024
) -> DataFrame:
    """(doc_id, n_grams, log_weight): hashed-n-gram importance weights
    for Data Selection via Importance Resampling (DSIR — Xie et al.
    2023, arXiv:2302.03169).

    The target distribution is estimated from the in-corpus slice
    ``lang == target_lang`` (a stand-in for "looks like the domain we
    want more of"), the proposal from the whole corpus. Features are
    word unigrams + bigrams with multiplicity, hashed into ``buckets``
    cells by the portable polynomial hash; per-cell add-one-smoothed
    log-likelihood ratios are summed per document. High log_weight =
    target-like; downstream selection resamples proportionally.

    Scale shape: the gram stream is scan → explode (narrow); BOTH
    bucket models are <= ``buckets``-row aggregates, so scoring is a
    broadcast hash join of a ~1k-row weight table onto the gram stream
    followed by one per-doc hash aggregate. The gram stream is
    evaluated ONCE: it collapses immediately to a (doc, lang, bucket,
    count) profile (partial-aggregated before its only exchange),
    materialized by one eager ``localCheckpoint`` that this call owns,
    from which both the bucket model and the per-doc scores derive —
    per-gram work never repeats and the corpus shuffles once. Engine-portability: the hash is the shared
    poly-hash, evaluated Arrow-vectorized on this hot path
    (functions/textual.py poly_hash_arrow — identical integer math to
    the Catalyst fold the oracle replays); per-gram log-ratios are rounded
    to 6 dp then DECIMAL-summed (the doc_logfreq_score pattern), so
    partial-aggregation order cannot move the sum.
    """
    from ..functions.textual import poly_hash_arrow, tokens
    from .util import spread

    documents = spread(documents)
    ts = tokens(F.col("text"))
    bigrams = F.zip_with(
        F.slice(ts, 1, F.size(ts) - 1),
        F.slice(ts, 2, F.size(ts) - 1),
        lambda x, y: F.concat_ws(" ", x, y),
    )
    grams = F.when(F.size(ts) >= 2, F.concat(ts, bigrams)).otherwise(ts)
    gb = (
        documents.select(
            "doc_id",
            "lang",
            F.explode(grams).alias("gram"),
        )
        .select(
            "doc_id",
            "lang",
            (poly_hash_arrow(F.col("gram")) % buckets).alias("bkt"),
        )
        .groupBy("doc_id", "lang", "bkt")
        .agg(F.count("*").alias("cnt"))
        .localCheckpoint(eager=True)
    )
    model_counts = gb.groupBy("bkt").agg(
        F.sum("cnt").alias("ns"),
        F.sum(
            F.when(F.col("lang") == target_lang, F.col("cnt")).otherwise(
                F.lit(0).cast("bigint")
            )
        ).alias("nt"),
    )
    tot = model_counts.agg(
        F.sum("ns").alias("total_s"), F.sum("nt").alias("total_t")
    )
    lw = F.round(
        F.log(
            ((F.col("nt") + F.lit(1.0)) / (F.col("total_t") + F.lit(float(buckets))))
            / (
                (F.col("ns") + F.lit(1.0))
                / (F.col("total_s") + F.lit(float(buckets)))
            )
        ),
        6,
    ).cast("decimal(20,6)")
    model = model_counts.crossJoin(F.broadcast(tot)).select(
        "bkt", lw.alias("lw")
    )
    return (
        gb.join(F.broadcast(model), "bkt")
        .groupBy("doc_id")
        .agg(
            F.sum("cnt").alias("n_grams"),
            F.round(F.sum(F.col("lw") * F.col("cnt")), 4)
            .cast("double")
            .alias("log_weight"),
        )
    )


def incremental_dedup(
    existing: DataFrame, incoming: DataFrame
) -> DataFrame:
    """Admit only incoming-snapshot documents whose canonical content
    key appears nowhere in the existing corpus NOR earlier in the
    incoming batch itself — the incremental-crawl dedup step (each new
    CommonCrawl-style snapshot is deduped against everything already
    ingested, not re-deduping the whole corpus from scratch).

    Two-tier plan, both tiers key-partitioned:
      1. cross-snapshot: LEFT ANTI join incoming-keys against
         existing-keys. At 100 TB the existing side is far too large to
         broadcast — this is deliberately a co-partitioned shuffle
         hash/SMJ on the content key (the existing side can also be a
         pre-bucketed key table, making the anti join shuffle-free);
         the existing corpus projects to its KEY COLUMN ONLY before the
         join, so the wide text column never moves.
      2. within-snapshot: min_by argmax per key (hash aggregate, no
         window sort) keeps the lowest doc_id of each surviving group.

    Output: the admitted rows with their within-batch duplicate counts.
    """
    from ..functions.textual import token_set_key

    inc = incoming.withColumn("key", token_set_key(F.col("text")))
    old_keys = existing.select(
        token_set_key(F.col("text")).alias("key")
    ).distinct()
    fresh = inc.join(old_keys, "key", "left_anti")
    best = fresh.groupBy("key").agg(
        F.min_by(
            F.struct("doc_id", "lang", "source", "n_chars"), F.col("doc_id")
        ).alias("keep"),
        F.count("*").alias("n_batch_dups"),
    )
    return best.select(
        F.col("keep.doc_id").alias("doc_id"),
        F.col("keep.lang").alias("lang"),
        F.col("keep.source").alias("source"),
        F.col("keep.n_chars").alias("n_chars"),
        "n_batch_dups",
    )


def incremental_dedup_keyed(
    index_keys: DataFrame, incoming: DataFrame
) -> DataFrame:
    """:func:`incremental_dedup` against a PRE-KEYED index — the
    100 TB deployment shape that docstring promises, made real
    (round-7 VERDICT item 5).

    ``index_keys`` carries one canonical content key per row in a
    ``key`` column and is expected to be a table BUCKETED on ``key``
    (``DataFrameWriter.bucketBy`` — see tools/incremental_dedup_soak.py
    --bucketed and the plan snapshot in tools/plans_r8.md). Two plan
    properties fall out, both load-bearing at scale:

    - the index side joins AS-IS: no ``token_set_key`` re-compute, no
      ``distinct`` (the index is maintained distinct by construction),
      and crucially no projection over the key column — so the bucketed
      scan's ``HashPartitioning(key, numBuckets)`` survives to the anti
      join and Spark inserts NO Exchange on the index side (an
      expression over the column would discard the partitioning
      guarantee, which is exactly what the generic operator's
      ``token_set_key(text)`` projection does);
    - only the incoming increment shuffles (to the bucket count) — the
      recurring per-snapshot cost is O(|increment|) exchange plus a
      co-partitioned read of the ever-growing index, never a re-shuffle
      of the index.

    Same output contract as :func:`incremental_dedup`; with the index
    holding the same distinct keys the results are identical
    (pytest-pinned).
    """
    from ..functions.textual import token_set_key

    inc = incoming.withColumn("key", token_set_key(F.col("text")))
    fresh = inc.join(index_keys.select("key"), "key", "left_anti")
    best = fresh.groupBy("key").agg(
        F.min_by(
            F.struct("doc_id", "lang", "source", "n_chars"), F.col("doc_id")
        ).alias("keep"),
        F.count("*").alias("n_batch_dups"),
    )
    return best.select(
        F.col("keep.doc_id").alias("doc_id"),
        F.col("keep.lang").alias("lang"),
        F.col("keep.source").alias("source"),
        F.col("keep.n_chars").alias("n_chars"),
        "n_batch_dups",
    )


def quality_percentile_norm(documents: DataFrame, parts: int | None = None) -> DataFrame:
    """(doc_id, lang, n_chars, lang_rank, pct): per-language percentile
    normalization of a quality signal (n_chars as the deterministic
    stand-in score) — the calibration step that makes quality cuts
    comparable ACROSS languages (a raw threshold keeps different mass
    per language; "keep the top 30% of each language" needs per-group
    percentiles).

    Scale design: ``percent_rank() OVER (PARTITION BY lang ...)`` puts
    each whole language in ONE partition — at 100 TB the big languages
    are terabytes, so that plan spills or dies. Instead the
    distributed-total-order pattern *per group* (same as
    corpus_shuffle, with the group key prepended): range-repartition on
    (lang, score-key) so each language spans many ordered partitions,
    rank within partitions in parallel, then add per-(lang, partition)
    offsets — the offset table is partitions×langs rows, broadcast
    back. The percentile is (rank-1)/(n_lang-1), two exact ints
    divided once as doubles at the edge.

    As in :func:`corpus_shuffle`, the partitioned frame is pinned with
    ``localCheckpoint`` so counts/offsets/totals and the final rank
    join all read the SAME pid assignment — correctness must not hang
    on ReuseExchange deduping the identical range shuffle, because a
    re-evaluated exchange re-samples its boundaries.
    """
    n = parts or documents.sparkSession.sparkContext.defaultParallelism
    ranged = (
        documents.select("doc_id", "lang", "n_chars")
        .repartitionByRange(n, "lang", "n_chars", "doc_id")
        .withColumn("pid", F.spark_partition_id())
        .localCheckpoint(eager=True)
    )
    w_part = Window.partitionBy("pid", "lang").orderBy("n_chars", "doc_id")
    counts = ranged.groupBy("pid", "lang").count()
    w_prefix = (
        Window.partitionBy("lang")
        .orderBy("pid")
        .rowsBetween(Window.unboundedPreceding, -1)
    )  # tiny frame: one row per (lang, partition), never data-sized
    offsets = counts.select(
        "pid",
        "lang",
        F.coalesce(F.sum("count").over(w_prefix), F.lit(0)).alias("offset"),
    )
    totals = counts.groupBy("lang").agg(F.sum("count").alias("n_lang"))
    return (
        ranged.withColumn("rn", F.row_number().over(w_part))
        .join(F.broadcast(offsets), ["pid", "lang"])
        .join(F.broadcast(totals), "lang")
        .select(
            "doc_id",
            "lang",
            "n_chars",
            (F.col("offset") + F.col("rn")).cast("long").alias("lang_rank"),
            F.round(
                (F.col("offset") + F.col("rn") - F.lit(1)).cast("double")
                / F.greatest(F.col("n_lang") - F.lit(1), F.lit(1)).cast("double"),
                6,
            ).alias("pct"),
        )
    )


def temperature_mix(
    documents: DataFrame, budget: int = 200, group_col: str = "lang"
) -> DataFrame:
    """(lang, n_docs, target_n, sample_rank, doc_id, source):
    temperature-scaled language mixing at T = 2 — each group's share of
    the ``budget`` is proportional to n^(1/T) = sqrt(n), the standard
    flattening between proportional (T=1) and uniform (T=inf) sampling
    for multilingual corpora (mC4 / UniMax recipe, arXiv:2304.09151),
    then that many documents are drawn per group by the repo's
    deterministic md5 rank.

    Engine-exactness: T = 2 is chosen because sqrt is CORRECTLY
    ROUNDED under IEEE 754 in both engines (a generic pow(n, 1/T)
    is not). Each weight becomes the integer
    round(sqrt(n) * 1e6) — sqrt of an integer is either an exact
    integer or irrational, so the rounding never sits on a boundary —
    and the share arithmetic is then pure BIGINT:
    target = budget * w div sum(w) (floor allocation; the <=|groups|
    rows of undistributed budget are deliberate — no double division
    anywhere).

    Plan: one |groups|-row aggregate, its 1-row total broadcast back,
    and the same per-group md5 ranking window as per_group_sample;
    nothing data-sized shuffles twice.
    """
    w_int = F.round(
        F.sqrt(F.col("n_docs").cast("double")) * F.lit(1000000.0), 0
    ).cast("bigint")
    counts = (
        documents.groupBy(group_col)
        .agg(F.count("*").alias("n_docs"))
        .withColumn("w", w_int)
    )
    tot = counts.agg(F.sum("w").alias("sw"))
    targets = counts.crossJoin(F.broadcast(tot)).select(
        group_col,
        "n_docs",
        F.expr(f"CAST({budget} AS BIGINT) * w div sw").alias("target_n"),
    )
    h = F.md5(F.col("doc_id").cast("string"))
    rk = Window.partitionBy(group_col).orderBy(h, "doc_id")
    ranked = documents.withColumn("rk", F.row_number().over(rk))
    return (
        ranked.join(F.broadcast(targets), group_col)
        .filter(F.col("rk") <= F.col("target_n"))
        .select(
            group_col,
            "n_docs",
            "target_n",
            F.col("rk").cast("bigint").alias("sample_rank"),
            "doc_id",
            "source",
        )
    )


def source_quality_cap(
    documents: DataFrame, cap: int = 10
) -> DataFrame:
    """(source, n_total, n_kept, doc_id, quality_rank, n_chars):
    quality-ranked per-source document cap — the anti-spam pass a
    web-scale corpus runs per domain (a handful of sources must not
    dominate the training mix no matter how many pages they contribute).
    Unlike :func:`per_group_sample` (a RANDOM spot-check draw), this
    keeps each source's ``cap`` BEST documents — ranked by length with
    doc_id as the deterministic tiebreak — and carries the per-source
    drop accounting (n_total vs n_kept) so the mixing stage downstream
    can see exactly how much each source was truncated.

    Plan (100 TB): ONE hash exchange on source; rank and total share
    that exchange and its per-source sort as two window expressions —
    no join, no second scan. The drop-accounting count deliberately
    trades away the WindowGroupLimit pushdown a bare capped rank would
    get (counting a source means seeing all its rows once); that full
    per-source pass is spill-safe sort work, the same cost any
    per-domain aggregate pays, and the output stays bounded at
    cap x |sources|.
    """
    w = Window.partitionBy("source")
    wr = w.orderBy(F.col("n_chars").desc(), "doc_id")
    return (
        documents.select(
            "source",
            "doc_id",
            "n_chars",
            F.row_number().over(wr).alias("quality_rank"),
            F.count("*").over(w).alias("n_total"),
        )
        .filter(F.col("quality_rank") <= cap)
        .select(
            "source",
            F.col("n_total").cast("bigint").alias("n_total"),
            F.least(F.col("n_total"), F.lit(cap))
            .cast("bigint")
            .alias("n_kept"),
            "doc_id",
            F.col("quality_rank").cast("bigint").alias("quality_rank"),
            "n_chars",
        )
    )
