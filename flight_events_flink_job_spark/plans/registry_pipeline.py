"""Training-data pipeline registry: deterministic sampling/splitting,
sequence packing, PII redaction, benchmark decontamination
(operators/pipeline.py — the SURVEY §2.6 / brief curation family).

Oracle notes:
- sampling/splitting reuse the md5-prefix hash space: DuckDB compares
  the 4-char hex substring lexicographically (ASCII '0'-'9' < 'a'-'f'
  makes string order = numeric order), Spark compares the conv()'d
  integer — same decision boundary by construction;
- DuckDB ``sum(BIGINT)`` is HUGEINT → every count-ish sum is CAST to
  BIGINT (VERDICT round 1);
- DuckDB ``regexp_replace`` is first-match-only by default → 'g' flag
  to mirror Spark's replace-all;
- ``offset`` is a DuckDB keyword → the packing CTE names it
  ``tok_offset``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..operators.pipeline import (
    EMAIL_RE,
    per_group_sample,
    source_quality_cap,
    corpus_shuffle,
    curation_pipeline,
    PHONE_RE,
    decontaminate,
    hex_threshold,
    pack_sequences,
    redact_pii,
    source_mix_sample,
    stratified_sample,
    train_test_split,
)
from ..sources.fixtures import load_table
from .registry import register
from .registry_ext import poly_hash


def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    return load_table(spark, sf_dir, "documents")


SAMPLE_RATES = {"en": 0.5, "de": 0.4, "es": 0.25, "fr": 0.25, "zh": 0.1}

_RATE_PREDICATES = " OR ".join(
    f"(lang = '{lang}' AND substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)"
    f" < '{hex_threshold(frac)}')"
    for lang, frac in sorted(SAMPLE_RATES.items())
)


@register(
    "sample_stratified",
    oracle=f"""
    SELECT doc_id, lang, source, n_chars
    FROM documents
    WHERE {_RATE_PREDICATES}
    """,
)
def q_sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language deterministic md5-hash sample — a pure filtered
    scan (no rand(), no shuffle; identical rows on any cluster)."""
    return stratified_sample(_docs(spark, sf_dir), SAMPLE_RATES)


@register(
    "train_test_split",
    oracle=f"""
    SELECT CASE
             WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                  < '{hex_threshold(0.1)}' THEN 'val'
             WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                  < '{hex_threshold(0.2)}' THEN 'test'
             ELSE 'train'
           END AS split,
           lang, count(*) AS n_docs
    FROM documents
    GROUP BY split, lang
    """,
)
def q_train_test_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 80/10/10 split assignment (stable under corpus
    appends) + per-(split, lang) counts."""
    return train_test_split(_docs(spark, sf_dir), val_frac=0.1, test_frac=0.1)


@register(
    "pack_sequences",
    oracle="""
    WITH t AS (
        SELECT doc_id, source,
               CAST(len(string_split(text, ' ')) AS BIGINT) AS n_tokens
        FROM documents
    ), o AS (
        SELECT *,
               sum(n_tokens) OVER (PARTITION BY source ORDER BY doc_id
                                   ROWS UNBOUNDED PRECEDING) - n_tokens
                   AS tok_offset
        FROM t
    )
    SELECT source,
           CAST(floor(tok_offset / 512) AS BIGINT) AS pack_id,
           count(*) AS n_docs,
           CAST(sum(n_tokens) AS BIGINT) AS pack_tokens,
           min(doc_id) AS first_doc,
           max(doc_id) AS last_doc
    FROM o
    GROUP BY source, pack_id
    """,
)
def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Offset-based sequence packing into 512-token packs per source
    shard (one exchange + in-partition sort; no sequential packer)."""
    return pack_sequences(_docs(spark, sf_dir), budget=512)


@register(
    "redact_pii",
    oracle=f"""
    WITH c AS (
        SELECT doc_id,
               printf('%s contact: user%d@example.com or +1-555-010%d',
                      text, doc_id, doc_id % 10) AS contact
        FROM documents
    )
    SELECT doc_id,
           CAST(len(regexp_extract_all(contact, '{EMAIL_RE}')) AS INT)
               AS n_emails,
           CAST(len(regexp_extract_all(contact, '{PHONE_RE}')) AS INT)
               AS n_phones,
           length(regexp_replace(
               regexp_replace(contact, '{EMAIL_RE}', '[EMAIL]', 'g'),
               '{PHONE_RE}', '[PHONE]', 'g')) AS redacted_len,
           md5(regexp_replace(
               regexp_replace(contact, '{EMAIL_RE}', '[EMAIL]', 'g'),
               '{PHONE_RE}', '[PHONE]', 'g')) AS redacted_md5
    FROM c
    """,
)
def q_redact_pii(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Email/phone redaction as a pure regexp_replace projection; the
    oracle re-derives the redacted bytes and digests them."""
    return redact_pii(_docs(spark, sf_dir))


@register(
    "decontaminate",
    oracle="""
    WITH toks AS (SELECT doc_id, string_split(text, ' ') ts FROM documents),
    g AS (
        SELECT doc_id,
               list_distinct([ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2]
                              || ' ' || ts[i+3] || ' ' || ts[i+4]
                              for i in range(1, len(ts) - 3)]) gs
        FROM toks WHERE len(ts) >= 5
    ),
    eg AS (SELECT DISTINCT unnest(gs) AS ngram FROM g WHERE doc_id % 97 = 0),
    tg AS (SELECT doc_id, unnest(gs) AS ngram FROM g WHERE doc_id % 97 <> 0)
    SELECT tg.doc_id,
           count(DISTINCT tg.ngram) AS n_hits,
           min(tg.ngram) AS sample_ngram
    FROM tg JOIN eg USING (ngram)
    GROUP BY tg.doc_id
    """,
)
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination: training docs sharing any word
    5-gram with the held-out set (broadcast semi-join; the corpus
    side never shuffles)."""
    return decontaminate(_docs(spark, sf_dir), n=5, eval_mod=97)


@register(
    "corpus_shuffle",
    oracle="""
    SELECT doc_id, lang, source,
           CAST(row_number() OVER (
               ORDER BY md5('42:' || CAST(doc_id AS VARCHAR))) AS BIGINT
           ) AS position
    FROM documents
    """,
)
def q_corpus_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic pseudo-random training order: distributed ranking
    over md5(seed || doc_id) must equal the oracle's single global
    row_number over the same key."""
    return corpus_shuffle(_docs(spark, sf_dir))


_SW_LIST = "'the','a','of','and','to','in','is','it','on','for'"


@register(
    "curation_pipeline",
    oracle=f"""
    WITH t AS (
        SELECT doc_id, lang, text,
               string_split(text, ' ') ts,
               list_distinct(string_split(text, ' ')) tys
        FROM documents
    ),
    scored AS (
        SELECT doc_id, lang, text,
               CAST(len(ts) AS BIGINT) AS n_tokens,
               round(round(len(tys) * 1.0 / len(ts), 4)
                     + (1.0 - round(len(list_filter(ts,
                            x -> list_contains([{_SW_LIST}], x)))
                            * 1.0 / len(ts), 4)), 4) AS quality_score
        FROM t
    ),
    kept AS (
        SELECT * FROM scored WHERE n_tokens >= 5 AND quality_score >= 1.0
    ),
    dd AS (
        SELECT * FROM (
            SELECT *, row_number() OVER (
                PARTITION BY array_to_string(
                    list_sort(list_distinct(string_split(text, ' '))), ' ')
                ORDER BY doc_id) rn
            FROM kept
        ) WHERE rn = 1
    )
    SELECT CASE
             WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                  < '{hex_threshold(0.1)}' THEN 'val'
             WHEN substr(md5(CAST(doc_id AS VARCHAR)), 1, 4)
                  < '{hex_threshold(0.2)}' THEN 'test'
             ELSE 'train'
           END AS split,
           lang,
           count(*) AS n_docs,
           CAST(SUM(n_tokens) AS BIGINT) AS sum_tokens
    FROM dd
    GROUP BY split, lang
    """,
)
def q_curation_pipeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end curation chain in one plan: quality gate -> exact
    dedup -> split assignment -> per-(split, lang) totals."""
    return curation_pipeline(_docs(spark, sf_dir))


# Literal mix used by the registered query: src0 upsampled 2.5x, src1
# kept, src2 quartered, every other source halved. Thresholds below are
# hex_threshold(frac): 0.5 -> '8000', 0.25 -> '4000', 0.0 -> '0000'.
_MIX_WEIGHTS = {"src0": 2.5, "src1": 1.0, "src2": 0.25}
_MIX_DEFAULT = 0.5


@register(
    "source_mix_sample",
    oracle="""
    WITH d AS (
        SELECT doc_id, source, lang,
               substr(md5(CAST(doc_id AS VARCHAR)), 1, 4) AS h
        FROM documents
    ),
    c AS (
        SELECT doc_id, source, lang,
               CASE source
                   WHEN 'src0' THEN 2 + CASE WHEN h < '8000' THEN 1 ELSE 0 END
                   WHEN 'src1' THEN 1
                   WHEN 'src2' THEN CASE WHEN h < '4000' THEN 1 ELSE 0 END
                   ELSE CASE WHEN h < '8000' THEN 1 ELSE 0 END
               END AS n
        FROM d
    )
    SELECT doc_id, source, lang,
           CAST(unnest(generate_series(1, n)) AS BIGINT) AS copy_idx
    FROM c WHERE n >= 1
    """,
)
def q_source_mix_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted source mixing with deterministic oversampling epochs:
    narrow CASE projection + explode(sequence), no shuffle, no rand()."""
    return source_mix_sample(_docs(spark, sf_dir), _MIX_WEIGHTS, _MIX_DEFAULT)


@register(
    "per_lang_sample",
    oracle="""
    SELECT lang, CAST(rk AS BIGINT) AS sample_rank, doc_id, source, n_chars
    FROM (
        SELECT lang, doc_id, source, n_chars,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        FROM documents
    ) WHERE rk <= 5
    """,
)
def q_per_lang_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 5-per-language spot-check sample (md5 rank inside
    group partitions — reproducible, append-stable, no rand())."""
    return per_group_sample(_docs(spark, sf_dir), "lang", 5)


@register(
    "source_quality_cap",
    oracle="""
    SELECT source, n_total,
           CAST(least(n_total, 10) AS BIGINT) AS n_kept,
           doc_id, quality_rank, n_chars
    FROM (
        SELECT source, doc_id, n_chars,
               CAST(row_number() OVER (
                   PARTITION BY source
                   ORDER BY n_chars DESC, doc_id) AS BIGINT) quality_rank,
               CAST(count(*) OVER (PARTITION BY source) AS BIGINT) n_total
        FROM documents
    ) WHERE quality_rank <= 10
    """,
)
def q_source_quality_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality-ranked per-source document cap with drop accounting —
    the per-domain anti-spam truncation of a web corpus; one exchange,
    rank + total as two windows over it
    (operators/pipeline.py source_quality_cap)."""
    return source_quality_cap(_docs(spark, sf_dir))


@register(
    "dsir_importance",
    oracle=f"""
    WITH t AS (SELECT doc_id, lang, string_split(text, ' ') ts
               FROM documents),
    g0 AS (
        SELECT doc_id, lang, unnest(ts) gram FROM t
        UNION ALL
        SELECT doc_id, lang,
               unnest([ts[i] || ' ' || ts[i+1]
                       for i in range(1, len(ts))]) gram
        FROM t WHERE len(ts) >= 2
    ),
    g AS (
        SELECT doc_id, lang, {poly_hash("gram")} % 1024 AS bkt
        FROM g0
    ),
    cs AS (SELECT bkt, count(*) AS ns FROM g GROUP BY bkt),
    ct AS (SELECT bkt, count(*) AS nt FROM g WHERE lang = 'en'
           GROUP BY bkt),
    tot AS (SELECT (SELECT CAST(sum(ns) AS BIGINT) FROM cs) AS total_s,
                   (SELECT CAST(sum(nt) AS BIGINT) FROM ct) AS total_t),
    model AS (
        SELECT cs.bkt,
               CAST(round(ln(
                   ((COALESCE(ct.nt, 0) + 1.0) / (tot.total_t + 1024.0))
                   / ((cs.ns + 1.0) / (tot.total_s + 1024.0))), 6)
                   AS DECIMAL(20,6)) AS lw
        FROM cs LEFT JOIN ct ON cs.bkt = ct.bkt CROSS JOIN tot
    )
    SELECT g.doc_id, count(*) AS n_grams,
           CAST(round(sum(m.lw), 4) AS DOUBLE) AS log_weight
    FROM g JOIN model m ON g.bkt = m.bkt
    GROUP BY g.doc_id
    """,
)
def q_dsir_importance(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (arXiv:2302.03169): hashed unigram+bigram
    likelihood ratios of the lang='en' target slice vs the whole corpus,
    add-one smoothed over 1024 buckets; the data-selection scorer of an
    importance-resampling curation pass."""
    from ..operators.pipeline import dsir_importance

    return dsir_importance(_docs(spark, sf_dir))


_INCOMING_SRC = "('src0', 'src1', 'src2')"


@register(
    "incremental_dedup",
    oracle=f"""
    WITH keyed AS (
        SELECT doc_id, lang, source, n_chars,
               array_to_string(
                   list_sort(list_distinct(string_split(text, ' '))), ' ') AS key
        FROM documents
    ),
    inc AS (SELECT * FROM keyed WHERE source IN {_INCOMING_SRC}),
    fresh AS (
        SELECT * FROM inc
        WHERE key NOT IN (
            SELECT DISTINCT key FROM keyed WHERE source NOT IN {_INCOMING_SRC}
        )
    )
    SELECT doc_id, lang, source, n_chars, n_batch_dups FROM (
        SELECT doc_id, lang, source, n_chars,
               row_number() OVER (PARTITION BY key ORDER BY doc_id) AS rn,
               count(*) OVER (PARTITION BY key) AS n_batch_dups
        FROM fresh
    ) WHERE rn = 1
    """,
)
def q_incremental_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-crawl dedup: the src0-2 slice plays the incoming
    snapshot, everything else the already-ingested corpus; admitted =
    content key unseen in the corpus, lowest doc_id within the batch.
    Cross-snapshot tier is a co-partitioned LEFT ANTI on the content
    key (existing side never broadcastable at scale)."""
    from ..operators.pipeline import incremental_dedup

    docs = _docs(spark, sf_dir)
    incoming = docs.filter(F.col("source").isin("src0", "src1", "src2"))
    existing = docs.filter(~F.col("source").isin("src0", "src1", "src2"))
    return incremental_dedup(existing, incoming)


@register(
    "quality_percentile",
    oracle="""
    SELECT doc_id, lang, n_chars,
           CAST(row_number() OVER w AS BIGINT) AS lang_rank,
           round(CAST(row_number() OVER w - 1 AS DOUBLE)
                 / CAST(greatest(count(*) OVER (PARTITION BY lang) - 1, 1)
                        AS DOUBLE), 6) AS pct
    FROM documents
    WINDOW w AS (PARTITION BY lang ORDER BY n_chars, doc_id)
    """,
)
def q_quality_percentile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language percentile normalization of the quality signal via
    the distributed-total-order pattern per group (range partition on
    (lang, score), per-partition rank, broadcast (lang, partition)
    offsets) — NOT percent_rank's one-partition-per-language plan. The
    oracle replays it with the plain window (small data), definitionally
    equal."""
    from ..operators.pipeline import quality_percentile_norm

    return quality_percentile_norm(_docs(spark, sf_dir))


@register(
    "weighted_sample_es",
    oracle="""
    SELECT doc_id, lang, source, weight, es_key FROM (
        SELECT doc_id, lang, source,
               greatest(n_chars, 1) AS weight,
               round(ln((CAST('0x' ||
                         substr(md5('es:' || CAST(doc_id AS VARCHAR)), 1, 13)
                         AS BIGINT) + 1.0) / 4503599627370496.0), 6)
                   / CAST(greatest(n_chars, 1) AS DOUBLE) AS es_key
        FROM documents
    )
    ORDER BY es_key DESC, doc_id
    LIMIT 100
    """,
)
def q_weighted_sample_es(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis-Spirakis A-ES weighted sample (k=100, weight =
    n_chars): deterministic md5 uniforms, 6dp-rounded ln key, global
    top-k as TakeOrderedAndProject — the distributed weighted
    reservoir (operators/pipeline.py weighted_sample_es)."""
    from ..operators.pipeline import weighted_sample_es

    return weighted_sample_es(_docs(spark, sf_dir))


@register(
    "temperature_mix",
    oracle="""
    WITH counts AS (
        SELECT lang, count(*) AS n_docs,
               CAST(round(sqrt(CAST(count(*) AS DOUBLE)) * 1000000.0, 0)
                    AS BIGINT) AS w
        FROM documents GROUP BY lang
    ),
    tot AS (SELECT CAST(sum(w) AS BIGINT) AS sw FROM counts),
    targets AS (
        SELECT lang, n_docs, CAST(200 AS BIGINT) * w // sw AS target_n
        FROM counts, tot
    ),
    ranked AS (
        SELECT lang, doc_id, source,
               row_number() OVER (
                   PARTITION BY lang
                   ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS rk
        FROM documents
    )
    SELECT t.lang, t.n_docs, t.target_n,
           CAST(r.rk AS BIGINT) AS sample_rank, r.doc_id, r.source
    FROM ranked r JOIN targets t USING (lang)
    WHERE r.rk <= t.target_n
    """,
)
def q_temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temperature-scaled (T=2) language mixing: per-lang budget share
    proportional to sqrt(n) in pure integer arithmetic (sqrt is
    IEEE-correctly-rounded in both engines), drawn by the
    deterministic md5 rank (operators/pipeline.py temperature_mix)."""
    from ..operators.pipeline import temperature_mix

    return temperature_mix(_docs(spark, sf_dir))
