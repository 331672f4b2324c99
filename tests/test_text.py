"""Text-analysis and props-mining operator semantics."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from flight_events_flink_job_spark.operators.props import props_mining
from flight_events_flink_job_spark.operators.text import (
    doc_fingerprints,
    term_frequency,
    text_langid,
    text_stats,
)


@pytest.fixture(scope="module")
def docs(spark):
    rows = [
        (0, "the cat sat on the mat", "en", "s", 22),
        (1, "der hund ist ein tier und das ist gut", "de", "s", 38),
        (2, "xyzzy qwerty plugh", "??", "s", 18),
        (3, "the cat sat on the mat", "en", "s", 22),  # identical to 0
    ]
    return spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"])


def test_text_stats_counts(docs):
    r = {x.doc_id: x for x in text_stats(docs).collect()}
    assert r[0].n_tokens == 6
    assert r[0].n_types == 5  # 'the' twice
    assert r[0].stopword_ratio == round(3 / 6, 4)  # the, on, the
    assert r[2].stopword_ratio == 0.0
    assert r[0].avg_token_len == round((3 + 3 + 3 + 2 + 3 + 3) / 6, 4)


def test_term_frequency(docs):
    tf = {r.token: (r.tf, r.df) for r in term_frequency(docs).collect()}
    assert tf["the"] == (4, 2)  # twice in doc 0 and doc 3
    assert tf["cat"] == (2, 2)
    assert tf["xyzzy"] == (1, 1)


def test_langid_argmax_and_unknown(docs):
    out = {r.doc_id: (r.lang_pred, r.lang_score) for r in text_langid(docs).collect()}
    assert out[0][0] == "en"
    assert out[1][0] == "de"
    assert out[2] == ("und", 0)


def test_fingerprint_identical_docs_match(docs):
    fp = {r.doc_id: r.fingerprint for r in doc_fingerprints(docs).collect()}
    assert fp[0] == fp[3]
    assert fp[0] != fp[1]
    assert all(0 <= v < 1_000_000_007 for v in fp.values())


def test_fingerprint_skips_short_docs(spark):
    docs = spark.createDataFrame(
        [(0, "one two", "en", "s", 7)], ["doc_id", "text", "lang", "source", "n_chars"]
    )
    assert doc_fingerprints(docs).count() == 0  # < 3 tokens -> no shingle


def test_props_mining(spark):
    events = spark.createDataFrame(
        [
            (0, 1, "click", '{"k": 10}'),
            (1, 1, "click", '{"k": 20}'),
            (2, 2, "view", '{"k": 5}'),
        ],
        ["event_id", "user_id", "event_type", "props"],
    ).withColumn("ts", F.current_timestamp()).withColumn("value", F.lit(1.0))
    out = {r.event_type: r for r in props_mining(events).collect()}
    assert out["click"].n_events == 2
    assert out["click"].n_users == 1
    assert out["click"].avg_k == 15.0
    assert out["view"].min_k == 5 and out["view"].max_k == 5


def test_tf_idf_rank_bounded_and_positive_scores(spark, sf_dir):
    from flight_events_flink_job_spark.operators.text import tf_idf_top_terms
    from flight_events_flink_job_spark.sources.fixtures import load_table

    out = tf_idf_top_terms(load_table(spark, sf_dir, "documents"))
    agg = out.groupBy("doc_id").agg(F.max("rank").alias("mx")).collect()
    assert all(r.mx <= 5 for r in agg)
    # a corpus-universal term has idf=ln(1)=0; top terms should beat it
    assert out.filter(F.col("rank") == 1).filter(F.col("score") < 0).count() == 0


def test_label_centroids_shape(spark, sf_dir):
    from flight_events_flink_job_spark.operators.vectors_agg import label_centroids
    from flight_events_flink_job_spark.sources.fixtures import load_table

    out = label_centroids(load_table(spark, sf_dir, "embeddings"))
    dims = out.groupBy("label").count().collect()
    assert all(r["count"] == 64 for r in dims)


def test_text_repetition_fractions(docs):
    from flight_events_flink_job_spark.operators.text import text_repetition

    r = {x.doc_id: x for x in text_repetition(docs).collect()}
    # doc 0 "the cat sat on the mat": 4 trigrams, all distinct; 6 tokens,
    # one dup ('the').
    assert r[0].n_grams == 4 and r[0].n_dup_grams == 0
    assert r[0].dup_gram_frac == 0.0
    assert r[0].dup_token_frac == round(1 / 6, 4)
    # doc 2 has 3 tokens -> exactly one trigram, no dups.
    assert r[2].n_grams == 1 and r[2].dup_gram_frac == 0.0


def test_text_repetition_short_doc_and_repeats(spark):
    from flight_events_flink_job_spark.operators.text import text_repetition

    rows = [(0, "a b", "en", "s", 3), (1, "x y x y x y x y", "en", "s", 15)]
    df = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"])
    r = {x.doc_id: x for x in text_repetition(df).collect()}
    assert r[0].n_grams == 0 and r[0].dup_gram_frac == 0.0
    # 'x y x y x y x y': 6 trigrams but only 2 distinct ('x y x','y x y').
    assert r[1].n_grams == 6 and r[1].n_dup_grams == 4
    assert r[1].dup_gram_frac == round(4 / 6, 4)


def test_lang_confusion_shares(docs):
    from flight_events_flink_job_spark.operators.text import lang_confusion

    rows = {(r.lang, r.lang_pred): r for r in lang_confusion(docs).collect()}
    # Both 'en' docs predict en -> one cell with frac 1.0.
    assert rows[("en", "en")].n_docs == 2
    assert rows[("en", "en")].frac == 1.0
    assert rows[("de", "de")].n_docs == 1
    assert rows[("??", "und")].frac == 1.0


def test_corpus_stats_cube_grains(docs):
    from flight_events_flink_job_spark.operators.text import corpus_stats_cube

    out = {(r.lang, r.source): r for r in corpus_stats_cube(docs).collect()}
    total = out[("(all)", "(all)")]
    assert total.level == 3 and total.n_docs == 4
    assert total.total_chars == 22 + 38 + 18 + 22
    assert out[("en", "s")].level == 0 and out[("en", "s")].n_docs == 2
    assert out[("en", "(all)")].level == 1
    assert out[("(all)", "s")].level == 2 and out[("(all)", "s")].n_docs == 4


def test_top_bigrams_counts_and_rank(spark):
    from flight_events_flink_job_spark.operators.text import top_ngrams_per_lang

    rows = [
        (0, "a b a b", "en", "s", 7),
        (1, "a b c", "en", "s", 5),
        (2, "x", "de", "s", 1),  # < 2 tokens -> no bigrams
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"])
    out = {(r.lang, r.ngram): r for r in top_ngrams_per_lang(docs, n=2, k=5).collect()}
    # "a b": doc0 twice + doc1 once = 3; rank 1
    assert out[("en", "a b")].n_occurrences == 3
    assert out[("en", "a b")].rank == 1
    assert out[("en", "b a")].n_occurrences == 1
    assert ("de", "x") not in out and all(l != "de" for l, _ in out)


def test_cross_source_leakage_requires_two_sources(spark):
    from flight_events_flink_job_spark.operators.text import cross_source_leakage

    rows = [
        (0, "cat mat", "en", "s1", 7),
        (1, "mat cat", "en", "s2", 7),   # same token set, other source
        (2, "cat mat", "en", "s1", 7),   # dup within s1 only
        (3, "dog log", "en", "s1", 7),
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"])
    out = cross_source_leakage(docs).collect()
    assert len(out) == 1
    assert out[0].n_docs == 3 and out[0].n_sources == 2 and out[0].first_doc_id == 0


def test_quality_filter_funnel_is_monotone(spark, sf_dir):
    from flight_events_flink_job_spark.operators.text import quality_filter_funnel
    from flight_events_flink_job_spark.sources.fixtures import load_table

    out = {r.stage: r.n_pass for r in
           quality_filter_funnel(load_table(spark, sf_dir, "documents")).collect()}
    assert set(out) == {"total", "len", "tokens", "alpha", "stopword"}
    assert (out["total"] >= out["len"] >= out["tokens"]
            >= out["alpha"] >= out["stopword"])
    assert out["stopword"] > 0  # gates are not degenerate on the fixture corpus


def test_chunk_documents_overlap_and_spans(spark):
    from flight_events_flink_job_spark.operators.text import chunk_documents

    text = " ".join(f"w{i}" for i in range(10))  # 10 tokens
    docs = spark.createDataFrame(
        [(0, text, "en", "s", len(text))],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    # chunk=4, overlap=2 -> stride 2 -> starts 1,3,5,7,9
    out = sorted(
        chunk_documents(docs, chunk_tokens=4, overlap=2).collect(),
        key=lambda r: r.chunk_idx,
    )
    assert [r.token_start for r in out] == [1, 3, 5, 7, 9]
    assert [r.n_tokens for r in out] == [4, 4, 4, 4, 2]  # last chunk short
    assert [r.chunk_idx for r in out] == [0, 1, 2, 3, 4]
    keys = [r.chunk_key for r in out]
    assert len(set(keys)) == len(keys)


def test_doc_logfreq_score_prefers_common_tokens(spark):
    from flight_events_flink_job_spark.operators.text import doc_logfreq_score

    rows = [
        (0, "the the the", "en", "s", 11),   # all high-frequency
        (1, "the rare zz", "en", "s", 11),   # mixed
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"])
    out = {r.doc_id: r for r in doc_logfreq_score(docs).collect()}
    assert out[0].n_tokens == 3 and out[1].n_tokens == 3
    # doc 0 repeats the corpus's most frequent token -> higher mean log tf
    assert out[0].mean_log_tf > out[1].mean_log_tf


def test_bigram_lm_score_prefers_fluent_repetition(spark):
    from flight_events_flink_job_spark.operators.text import bigram_lm_score

    rows = [
        (0, "a b a b a b a b", "en", "s", 15),  # one dominant bigram pattern
        (1, "q w e r t y u i", "en", "s", 15),  # all-singleton bigrams
        (2, "x", "en", "s", 1),                  # < 2 tokens: no output row
    ]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"])
    out = {r.doc_id: r for r in bigram_lm_score(docs).collect()}
    assert set(out) == {0, 1}
    assert out[0].n_bigrams == 7 and out[1].n_bigrams == 7
    # high-count bigrams -> higher (less negative) mean log-probability
    assert out[0].mean_log_prob > out[1].mean_log_prob


def test_bigram_lm_score_matches_hand_model(spark):
    import math

    from flight_events_flink_job_spark.operators.text import bigram_lm_score

    rows = [(0, "a b a b", "en", "s", 7)]
    docs = spark.createDataFrame(rows, ["doc_id", "text", "lang", "source", "n_chars"])
    r = bigram_lm_score(docs).collect()[0]
    # bigrams: (a,b) x2, (b,a) x1; c1: a->2, b->1; V=2
    lp = [
        math.log((2 + 1) / (2 + 2)),  # a b
        math.log((1 + 1) / (1 + 2)),  # b a
        math.log((2 + 1) / (2 + 2)),  # a b
    ]
    want = round(sum(round(x, 6) for x in lp) / 3, 4)
    assert r.n_bigrams == 3
    assert abs(r.mean_log_prob - want) < 1e-9


def test_embedding_norm_outliers_detects_planted_break(spark):
    from flight_events_flink_job_spark.operators.vectors_agg import (
        embedding_norm_outliers,
    )

    rows = [(i, [1.0, 0.0, 0.0, 1.0], 0) for i in range(40)]
    rows.append((100, [80.0, 80.0, 80.0, 80.0], 0))  # double-scaled junk
    rows.append((101, [0.5, 0.5, 0.5, 0.5], 1))      # lone label: std=0
    embs = spark.createDataFrame(
        rows, "vec_id LONG, embedding ARRAY<FLOAT>, label INT"
    )
    # operator assumes dim from data; the oracle pins 64 but the
    # operator itself is dim-agnostic
    out = {r.label: r for r in embedding_norm_outliers(embs).collect()}
    assert out[0].n_vectors == 41
    assert out[0].n_norm_outliers == 1    # exactly the planted vector
    assert out[1].n_norm_outliers == 0    # std=0 guard: no divide blowup


def test_zipf_slope_near_minus_one_for_zipfian_corpus(spark):
    from flight_events_flink_job_spark.operators.text import zipf_slope

    # Construct an exactly-Zipfian corpus: term k appears floor(1000/k)
    # times -> log-log slope must land near -1.
    words = []
    for k in range(1, 51):
        words += [f"w{k:02d}"] * (1000 // k)
    docs = spark.createDataFrame(
        [(0, " ".join(words), "en", "s", 1)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    out = zipf_slope(docs, top_n=50).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_terms == 50
    assert -1.1 < r.zipf_slope < -0.9


def test_zipf_slope_flat_for_uniform_corpus(spark):
    from flight_events_flink_job_spark.operators.text import zipf_slope

    words = [f"u{k}" for k in range(1, 31)] * 10  # every term tf=10
    docs = spark.createDataFrame(
        [(0, " ".join(words), "en", "s", 1)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    r = zipf_slope(docs, top_n=30).collect()[0]
    assert r.zipf_slope == 0.0  # zero variance in y -> zero slope


def test_bpe_pair_stats_counts_and_ranks(spark):
    """Hand-checkable corpus: 'ab' appears in every word of 'abc abc abd'
    -> top pair is 'ab' with 3 weighted occurrences; ranks are dense
    and frequency-sorted with lexicographic ties."""
    from flight_events_flink_job_spark.operators.text import bpe_pair_stats

    docs = spark.createDataFrame(
        [(1, "abc abc abd", "en", "s", 11)],
        "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG",
    )
    rows = bpe_pair_stats(docs, k=10).collect()
    assert [tuple(r) for r in rows][0] == (1, "ab", 3)
    counts = [r.n_occurrences for r in rows]
    assert counts == sorted(counts, reverse=True)
    assert [r.rank for r in rows] == list(range(1, len(rows) + 1))
    # 'bc' twice, 'bd' once
    d = {r.pair: r.n_occurrences for r in rows}
    assert d["bc"] == 2 and d["bd"] == 1


def test_heavy_hitters_guaranteed_set_and_verdicts(spark, sf_dir):
    """Every emitted row must be a true heavy hitter (exact share >
    2/(k+1)) with a TRUE verdict, and the verdict must survive a
    repartition of the input (MG guarantees are partitioning-free)."""
    from flight_events_flink_job_spark.operators.text import heavy_hitters_checked
    from flight_events_flink_job_spark.sources.fixtures import load_table

    docs = load_table(spark, sf_dir, "documents")
    rows = heavy_hitters_checked(docs).collect()
    assert len(rows) > 0  # non-vacuous on the fixture corpus
    assert all(r.within_bound for r in rows)
    again = heavy_hitters_checked(docs.repartition(9)).collect()
    assert sorted(map(tuple, rows)) == sorted(map(tuple, again))


def test_heavy_hitters_planted_skew(spark):
    """A stream where one pair dominates: 'aa' from 'aaa'*many must be
    the guaranteed hitter even at tiny k."""
    from flight_events_flink_job_spark.operators.text import heavy_hitters_checked

    text = " ".join(["aaa"] * 200 + ["bc", "de", "fg", "hi", "jk"] * 4)
    docs = spark.createDataFrame(
        [(1, text, "en", "s", len(text))],
        "doc_id LONG, text STRING, lang STRING, source STRING, n_chars LONG",
    )
    rows = heavy_hitters_checked(docs, k=4).collect()
    d = {r.pair: (r.n_exact, r.within_bound) for r in rows}
    assert "aa" in d and d["aa"] == (400, True)


def test_sentence_udtf_lateral_join(spark):
    """Spark 4 Python UDTF surface: registered table function applied
    via LATERAL join emits one row per sentence with stable chunk ids.
    (API demo only — UDTFs are row-at-a-time Python and stay off the
    registered-query hot paths by the test_plans gate.)"""
    from flight_events_flink_job_spark.operators.text import sentence_udtf

    spark.udtf.register("split_sentences", sentence_udtf())
    out = spark.sql(
        """
        SELECT d.doc_id, s.chunk_id, s.sentence, s.n_tokens
        FROM VALUES (1, 'hello world. second one.'), (2, 'only one')
             AS d(doc_id, text),
        LATERAL split_sentences(d.doc_id, d.text) s
        """
    ).collect()
    rows = sorted((r.doc_id, r.chunk_id, r.sentence, r.n_tokens) for r in out)
    assert rows == [
        (1, 0, "hello world", 2),
        (1, 1, "second one", 2),
        (2, 0, "only one", 2),
    ]


def test_source_kl_zero_for_identical_distribution(spark):
    """KL(P‖Q) = 0 when a source IS the corpus distribution: a corpus
    with one source (P = Q exactly) must score 0.0; two sources with
    disjoint vocabularies must both score > 0."""
    from flight_events_flink_job_spark.operators.text import (
        source_kl_divergence,
    )

    schema = "doc_id long, text string, lang string, source string, n_chars long"
    one = spark.createDataFrame(
        [(1, "a b a", "en", "only", 5), (2, "b a", "en", "only", 3)], schema
    )
    out = source_kl_divergence(one).collect()
    assert len(out) == 1 and out[0].kl_nats == 0.0 and out[0].n_tokens == 5

    two = spark.createDataFrame(
        [(1, "a a a", "en", "s1", 5), (2, "b b b", "en", "s2", 5)], schema
    )
    rows = {r.source: r.kl_nats for r in source_kl_divergence(two).collect()}
    assert rows["s1"] > 0.0 and rows["s2"] > 0.0


def test_bm25_scores_rarer_terms_higher_and_ranks_by_tf(spark):
    """With equal doc lengths, a doc with higher tf of the query term
    ranks first; a rarer term carries higher idf so its top score beats
    a ubiquitous term's."""
    from flight_events_flink_job_spark.operators.text import bm25_topk

    rows = [
        (0, "rare filler filler filler", "en", "s", 1),
        (1, "rare rare filler filler", "en", "s", 1),
        (2, "common stuff here filler", "en", "s", 1),
        (3, "common stuff again filler", "en", "s", 1),
    ]
    docs = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    q = spark.createDataFrame([("rare",), ("filler",)], ["term"])
    out = bm25_topk(docs, queries=q).collect()
    by_term = {}
    for r in out:
        by_term.setdefault(r.term, []).append(r)
    rare = sorted(by_term["rare"], key=lambda r: r.rk)
    # doc 1 has tf=2 of 'rare' -> outranks doc 0 (tf=1)
    assert [r.doc_id for r in rare] == [1, 0]
    assert rare[0].score > rare[1].score
    # 'rare' (df=2) idf beats 'filler' (df=4, in every doc)
    assert rare[0].score > max(r.score for r in by_term["filler"])
    # row_number ranks are typed int and 1-based per term
    assert {r.rk for r in rare} == {1, 2}


def test_bm25_default_query_set_is_top_df_terms(spark):
    """With no query table, the top-num_queries df terms are used."""
    from flight_events_flink_job_spark.operators.text import bm25_topk

    rows = [
        (0, "a b", "en", "s", 1),
        (1, "a b", "en", "s", 1),
        (2, "a c", "en", "s", 1),
    ]
    docs = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    terms = {r.term for r in bm25_topk(docs, num_queries=2).collect()}
    assert terms == {"a", "b"}  # df: a=3, b=2, c=1


def test_dup_paragraph_fraction_flags_cross_doc_chunks_only(spark):
    """A chunk shared across docs counts as duplicated; a doc repeating
    its OWN chunk does not; fractions are per-doc chunk ratios."""
    from flight_events_flink_job_spark.operators.text import (
        dup_paragraph_fraction,
    )

    p1 = " ".join(f"a{i}" for i in range(4))   # shared paragraph
    p2 = " ".join(f"b{i}" for i in range(4))   # unique to doc 0
    p3 = " ".join(f"c{i}" for i in range(4))   # unique to doc 1
    rows = [
        (0, f"{p1} {p2}", "en", "s", 1),       # 2 chunks, 1 duplicated
        (1, f"{p1} {p3}", "en", "s", 1),       # 2 chunks, 1 duplicated
        (2, f"{p1} {p1}", "en", "s", 1),       # both chunks = shared p1
        (3, " ".join(f"d{i}" for i in range(8)), "en", "s", 1),  # clean
    ]
    docs = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    got = {
        r.doc_id: (r.n_chunks, r.n_dup_chunks, r.dup_fraction)
        for r in dup_paragraph_fraction(docs, chunk_tokens=4).collect()
    }
    assert got[0] == (2, 1, 0.5)
    assert got[1] == (2, 1, 0.5)
    assert got[2] == (2, 2, 1.0)   # p1 appears in docs 0,1,2 -> dup
    assert got[3] == (2, 0, 0.0)


def test_dup_paragraph_fraction_ignores_same_doc_repetition(spark):
    """Internal repetition alone (no other doc shares the chunk) is
    not cross-doc duplication."""
    from flight_events_flink_job_spark.operators.text import (
        dup_paragraph_fraction,
    )

    p = "x1 x2 x3 x4"
    docs = spark.createDataFrame(
        [(0, f"{p} {p}", "en", "s", 1), (1, "y1 y2 y3 y4", "en", "s", 1)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    got = {
        r.doc_id: (r.n_chunks, r.n_dup_chunks)
        for r in dup_paragraph_fraction(docs, chunk_tokens=4).collect()
    }
    assert got[0] == (2, 0)
    assert got[1] == (1, 0)


def test_gopher_quality_signals_gates_and_edge_cases(spark):
    """Each Gopher gate flips the pass flag independently; empty and
    whitespace-only documents get zero words, NULL ratios, and a
    definite (non-NULL) false flag."""
    from flight_events_flink_job_spark.operators.text import (
        gopher_quality_signals,
    )

    good = (
        "the black cat sleeps on the warm mat and it is a fine day today "
        * 2
    )  # 30 words, mean length ~3.3
    short = "the cat and it"                                   # < min_words
    no_stop = " ".join(f"tok{i}" for i in range(30))           # 0 stop hits
    longwords = " ".join(
        ["the", "a", "of"] + ["x" * 40] * 27
    )                                                          # mean_wl > 10
    digits = " ".join(["the", "a", "of"] + ["123"] * 27)       # alpha < 0.8
    rows = [
        (0, good, "en", "s", 1),
        (1, short, "en", "s", 1),
        (2, no_stop, "en", "s", 1),
        (3, longwords, "en", "s", 1),
        (4, digits, "en", "s", 1),
        (5, "", "en", "s", 1),
        (6, "   ", "en", "s", 1),
    ]
    docs = spark.createDataFrame(
        rows, ["doc_id", "text", "lang", "source", "n_chars"]
    )
    got = {r.doc_id: r for r in gopher_quality_signals(docs).collect()}

    assert got[0].gopher_pass is True
    assert got[0].n_words == 30
    assert got[0].stop_hits >= 2
    # each violated gate -> fail, with the signal showing why
    assert got[1].gopher_pass is False and got[1].n_words == 4
    assert got[2].gopher_pass is False and got[2].stop_hits == 0
    assert got[3].gopher_pass is False and got[3].mean_word_len > 10
    assert got[4].gopher_pass is False and got[4].frac_alpha_words < 0.8
    # degenerate docs: definite false, not NULL
    for d in (5, 6):
        assert got[d].n_words == 0
        assert got[d].mean_word_len is None
        assert got[d].frac_alpha_words is None
        assert got[d].gopher_pass is False


def test_gopher_quality_signals_is_shuffle_free(spark):
    """The signal computation is one narrow map stage: the physical
    plan must contain no Exchange."""
    from flight_events_flink_job_spark.operators.text import (
        gopher_quality_signals,
    )

    docs = spark.createDataFrame(
        [(0, "the a of and to", "en", "s", 1)],
        ["doc_id", "text", "lang", "source", "n_chars"],
    )
    plan = gopher_quality_signals(docs)._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in plan


def test_rrf_fusion_semantics(spark, sf_dir):
    """RRF invariants: every emitted doc is in at least one member
    top-k; rrf_score equals the closed-form sum of present reciprocal
    ranks; a doc ranked #1 by both rankers dominates its term."""
    from flight_events_flink_job_spark.operators.text import rrf_retrieval
    from flight_events_flink_job_spark.sources.fixtures import load_table

    rows = rrf_retrieval(load_table(spark, sf_dir, "documents")).collect()
    assert rows
    for r in rows:
        assert r.rk_bm25 is not None or r.rk_ql is not None
        want = (1.0 / (60 + r.rk_bm25) if r.rk_bm25 else 0.0) + (
            1.0 / (60 + r.rk_ql) if r.rk_ql else 0.0
        )
        assert r.rrf_score == want
        assert 1 <= r.rrf_rank <= 10
    by_term = {}
    for r in rows:
        by_term.setdefault(r.term, []).append(r)
    for term, rs in by_term.items():
        top = min(rs, key=lambda r: r.rrf_rank)
        if top.rk_bm25 == 1 and top.rk_ql == 1:
            assert top.rrf_score == 2.0 / 61


def test_token_pmi_hand_computed(spark):
    """Corpus 'a b a b': bigrams (a,b)x2 + (b,a)x1, N=3. PMI(b,a) =
    ln(3*1/(1*1)) = ln 3 beats PMI(a,b) = ln(3*2/(2*2)) = ln 1.5, both
    6dp-rounded; min_count=2 keeps only the repeated pair."""
    import math

    from flight_events_flink_job_spark.operators.text import token_pmi

    docs = spark.createDataFrame(
        [(1, "a b a b", "en", "s", 7)],
        "doc_id long, text string, lang string, source string,"
        " n_chars long",
    )
    rows = token_pmi(docs, min_count=1, k=10).collect()
    assert [(r.w1, r.w2, r.n2) for r in rows] == [("b", "a", 1), ("a", "b", 2)]
    assert rows[0].pmi == round(math.log(3.0), 6)
    assert rows[1].pmi == round(math.log(1.5), 6)
    only = token_pmi(docs, min_count=2, k=10).collect()
    assert [(r.w1, r.w2) for r in only] == [("a", "b")]
    # Top-k must be a per-partition heap, not a global sort.
    plan = (
        token_pmi(docs)._jdf.queryExecution().executedPlan().toString()
    )
    assert "TakeOrderedAndProject" in plan


# ---------------------------------------------------------------------------
# CCNet-style LM quality tiers
# ---------------------------------------------------------------------------

def test_ccnet_buckets_partition_each_lang_into_ordered_thirds(spark, sf_dir):
    """Within every language: every scored doc gets exactly one bucket,
    head scores >= middle scores >= tail scores, and head holds at
    least a third of the docs (ties join the better tier, so head can
    only be bigger than an exact third, never smaller)."""
    from flight_events_flink_job_spark.operators.text import ccnet_lm_buckets

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    rows = ccnet_lm_buckets(docs).collect()
    assert rows
    by_lang: dict[str, dict[str, list[float]]] = {}
    for r in rows:
        by_lang.setdefault(r.lang, {}).setdefault(r.bucket, []).append(
            r.mean_log_prob
        )
    for lang, buckets in by_lang.items():
        n = sum(len(v) for v in buckets.values())
        assert len(buckets.get("head", [])) >= (n + 2) // 3 - 1 or n < 3
        if "head" in buckets and "middle" in buckets:
            assert min(buckets["head"]) >= max(buckets["middle"]), lang
        if "middle" in buckets and "tail" in buckets:
            assert min(buckets["middle"]) > max(buckets["tail"]), lang
        if "head" in buckets and "tail" in buckets:
            assert min(buckets["head"]) > max(buckets["tail"]), lang


def test_ccnet_buckets_deterministic_and_no_per_doc_sort_shuffle(
    spark, sf_dir
):
    """Two runs hash-identical (no RNG), and the executed plan sorts
    only the (lang, score) HISTOGRAM, never the per-document stream:
    the document-side join is a broadcast of the per-lang cuts."""
    from flight_events_flink_job_spark.operators.text import ccnet_lm_buckets

    docs = spark.read.parquet(f"{sf_dir}/documents.parquet")
    a = sorted(map(tuple, ccnet_lm_buckets(docs).collect()))
    b = sorted(map(tuple, ccnet_lm_buckets(docs).collect()))
    assert a == b
    plan = (
        ccnet_lm_buckets(docs)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "BroadcastHashJoin" in plan


def test_ccnet_cache_lifecycle_reuse_evict_clear(spark, sf_dir, tmp_path):
    """The registry's ccnet score table is one
    ``sources.fixtures.session_artifact``: (a) the same key REUSES the
    same persisted frame, (b) a new corpus — a fixture copy in another
    dir, the in-place-regen stand-in — EVICTS and unpersists it, and (c)
    the operator without a caller-owned table returns the same rows as
    with one, and leaves nothing in the cache manager."""
    import shutil

    from flight_events_flink_job_spark.operators.text import ccnet_lm_buckets
    from flight_events_flink_job_spark.plans import QUERIES
    from flight_events_flink_job_spark.sources import fixtures

    def scores(d):
        (frame,) = [
            v
            for k, v in fixtures._ARTIFACTS.items()
            if k[0] == "ccnet_scores" and k[2] == d
        ]
        return frame

    QUERIES["ccnet_lm_buckets"](spark, sf_dir)
    first = scores(sf_dir)
    assert first.storageLevel.useMemory
    # (a) same key: the SAME frame object is reused
    QUERIES["ccnet_lm_buckets"](spark, sf_dir)
    assert scores(sf_dir) is first
    # (b) new corpus: the old frame is evicted AND unpersisted
    copy = tmp_path / "sf"
    copy.mkdir()
    shutil.copyfile(f"{sf_dir}/documents.parquet", copy / "documents.parquet")
    QUERIES["ccnet_lm_buckets"](spark, str(copy))
    assert scores(str(copy)) is not first
    assert not first.storageLevel.useMemory, "evicted frame still pinned"
    # (c) caller-owned table vs the call's own checkpoint: same rows
    served = QUERIES["ccnet_lm_buckets"](spark, sf_dir).collect()
    docs = fixtures.load_table(spark, sf_dir, "documents")
    cm = spark._jsparkSession.sharedState().cacheManager()
    before = cm.numCachedEntries()
    own = ccnet_lm_buckets(docs).collect()
    assert cm.numCachedEntries() == before
    assert sorted(map(tuple, served)) == sorted(map(tuple, own)) and own
