"""Scaling-curve bench for the expensive dedup/ANN tier (VERDICT r4 #2).

Generates deterministic fixtures at several scale factors with
``sources/scalegen.py``, times each target query at every sf
(1 warmup + 3 reps, median + MAD), counts the LSH / prefix-filter
candidate pairs that bound the dedup joins, and fits a power-law
exponent between consecutive scale points:

    alpha = ln(t_hi / t_lo) / ln(rows_hi / rows_lo)

alpha ~ 1 = linear in data; ~2 = quadratic (an all-pairs leak the
plan-shape gates missed). Candidate-count exponents are reported
separately from wall time because wall time at small sf carries fixed
scheduling overhead that flattens the curve; candidate counts are the
pure algorithmic signal.

Usage:
    python tools/scale_bench.py [--sfs 0.1,0.5,1.0] [--base /tmp/scalefix]
Prints one JSON document; intended to be committed as
bench/scale_curve_r{N}.json and summarized in BASELINE.md §4.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import statistics
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TARGETS = [
    "dedup_near_minhash",
    "dedup_ngram_jaccard",
    "dedup_simhash",
    "neardup_components",
    "pq_codes",
    "pq_topk",
    "regional_supplier_volume",
    # round-5 additions: the df-capped window join and the BM25
    # postings-only scorer must both stay linear in corpus size.
    "repeated_passages",
    "bm25_topk",
    "dup_paragraph_fraction",
    # narrow map-stage signals: must be flat-per-row (alpha ~ 1, no
    # shuffle to grow super-linearly).
    "gopher_quality_signals",
    "weighted_sample_es",
    # broadcast-queries BNLJ: O(|Q| * N), must be linear in corpus rows.
    "similarity_radius",
    # round-5 late additions: the df-capped edit-distance block and the
    # source-level signature sweep must stay linear in corpus size.
    "dedup_edit_distance",
    "source_overlap_minhash",
    "rrf_retrieval",
    # round-6 additions (VERDICT r5 item 4): the events-family ops were
    # plan-gated but never scale-measured because scalegen had no
    # events table. scalegen now writes one WITH a deliberate heavy-user
    # head (10 users own 20% of events) — the worst case for the
    # co-occurrence pair expansion (user_triangles), per-key windows
    # (events_debounced), and the skew diagnostics themselves.
    "cms_user_counts",
    "bloom_membership",
    "ewma_daily_value",
    "events_unpivot",
    "events_debounced",
    "user_triangles",
    "cusum_changepoint",
    "key_skew_profile",
    "value_histogram",
    "last_touch_attribution",
    # the flagship fuzzy-dedup pipeline, re-pointed at the linear
    # candidate union this round (VERDICT r5 item 1).
    "neardup_dedup_corpus",
    # round-6 additions: broadcast-queries label-gated top-k and the
    # per-source capped window must both stay linear in corpus rows.
    "hard_negatives",
    "source_quality_cap",
    # round-7 additions (VERDICT r6 item 2): the vector/ANN tier —
    # hyperplane-LSH buckets, IVF posting lists, PQ codebooks, and the
    # Lloyd chains — curved to sf10 (200k vectors) on BOTH the uniform
    # and the clustered (dominant-blob) embedding fixture; bucket
    # occupancy is the quantity most likely to hide a sum-of-squares
    # pathology, so it is counted per scale point alongside wall time.
    "similarity_topk_lsh",
    "similarity_topk_ivf",
    "ivf_pq_topk",
    "hash_embed_search",
    "semdedup",
    "dedup_embedding_cosine",
    "knn_label_vote",
    "kmeans_clusters",
    "cluster_balanced_sample",
    # the occupancy-bounded SemDedup scale path (added r7 after the
    # fixed-k registered semdedup measured quadratic-by-construction)
    "semdedup_scaled",
    # round-9 additions: the duplicate-span strip (window-frequency
    # join), the successor-pair calibration frame (linear by
    # construction — the pair join is an equi-join on doc_id+1), the
    # component-size rollup over the near-dup graph, the MIPS pair
    # (broadcast-queries BNLJ exact + bucketed augmented-LSH), and the
    # histogram-cut quality tiers (the whole point vs ntile: the
    # per-document side must never sort-shuffle).
    "exact_substring_strip",
    "minhash_calibration",
    "neardup_cluster_histogram",
    "mips_topk",
    "mips_topk_lsh",
    "ccnet_lm_buckets",
    # round-10 additions: the real-PNG-codec dhash (per-row-heaviest
    # mapInPandas stage — must stay linear in docs), the hashed-key
    # substring strip (same plan, narrower keys), and the
    # fully-derived MIPS config (B and T re-derived per scale point).
    "multimodal_png_dhash",
    "exact_substring_strip_hashed",
    "mips_topk_lsh_auto",
]

TABLES_NEEDED = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "documents",
    "embeddings",
    "events",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sfs", default="0.1,0.5,1.0")
    ap.add_argument("--base", default="/tmp/scalefix")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument(
        "--targets",
        default=None,
        help="comma-separated subset of TARGETS (default: all)",
    )
    ap.add_argument(
        "--tables",
        default=None,
        help="comma-separated subset of tables to generate per fixture "
        "dir (default: all). Use for emb-mode=clustered runs where only "
        "embeddings/documents are read, to skip the 60M-row lineitem.",
    )
    ap.add_argument(
        "--emb-mode",
        default="uniform",
        choices=["uniform", "clustered"],
        help="embeddings fixture distribution: 'clustered' = dominant "
        "Gaussian blob + Zipf tail (stresses LSH/IVF/PQ bucket "
        "occupancy); fixtures land in {base}/sf{sf}-clustered",
    )
    ap.add_argument(
        "--vector-occupancy",
        action="store_true",
        help="count hyperplane-LSH bucket / IVF posting-list / PQ "
        "codeword-cell occupancy per scale point (max, p99, and the "
        "sum-of-squares pair bound that drives join cost). Run "
        "separately from wall-time curves, like --skip-candidates.",
    )
    ap.add_argument(
        "--skip-candidates",
        action="store_true",
        help="skip the candidate-count phase: count jobs shuffling "
        "100M+-row streams leave the JVM with enough old-gen/GC "
        "pressure to inflate the subsequent query timings ~1.7-2x "
        "(measured round 6: dedup_simhash at sf5 26.3s in-session vs "
        "12.5s fresh) — use this for the wall-time curves and a "
        "separate run for the candidate exponents",
    )
    args = ap.parse_args()
    sfs = [float(s) for s in args.sfs.split(",")]
    # --targets none = occupancy/candidate phases only, no timed queries
    targets = (
        []
        if args.targets == "none"
        else (args.targets.split(",") if args.targets else TARGETS)
    )

    os.environ.setdefault("TZ", "UTC")
    time.tzset()
    from flight_events_flink_job_spark.operators.dedup import (
        exploded_shingles,
        lsh_candidate_pairs,
        minhash_signatures,
        prefix_filter_pairs,
        simhash_near_pairs,
    )
    from flight_events_flink_job_spark.plans import QUERIES
    from flight_events_flink_job_spark.session import get_spark
    from flight_events_flink_job_spark.sources.fixtures import load_table
    from flight_events_flink_job_spark.sources.scalegen import gen_scale_tables

    spark = get_spark("scale_bench")
    spark.sparkContext.setLogLevel("ERROR")

    out: dict = {"sfs": sfs, "emb_mode": args.emb_mode, "points": {}}
    suffix = "-clustered" if args.emb_mode == "clustered" else ""
    for sf in sfs:
        sf_dir = f"{args.base}/sf{sf}{suffix}"
        marker = f"{sf_dir}/.complete"
        if not os.path.exists(marker):
            t0 = time.perf_counter()
            rows = gen_scale_tables(
                spark, sf_dir, sf,
                tables=args.tables.split(",") if args.tables else TABLES_NEEDED,
                emb_mode=args.emb_mode,
            )
            open(marker, "w").write(json.dumps(rows))
            print(
                f"# generated sf{sf} in {time.perf_counter() - t0:.1f}s:"
                f" {rows}",
                file=sys.stderr,
            )
        rows = json.loads(open(marker).read())
        point: dict = {"rows": rows, "queries": {}, "candidates": {}}

        lsh_family = {"dedup_near_minhash", "dedup_ngram_jaccard", "dedup_simhash"}
        if lsh_family & set(targets) and not args.skip_candidates:
            from flight_events_flink_job_spark.operators.dedup import (
                linear_candidate_pairs,
            )

            docs = load_table(spark, sf_dir, "documents")
            point["candidates"]["lsh_minhash"] = lsh_candidate_pairs(
                minhash_signatures(docs)
            ).count()
            point["candidates"]["prefix_capped"] = prefix_filter_pairs(
                exploded_shingles(docs), 0.7, 64
            ).count()
            point["candidates"]["linear_union"] = linear_candidate_pairs(
                docs
            ).count()
            # The UNCAPPED exact candidate stream is the measured
            # super-linear tier (BASELINE.md §4e) — count it, and the
            # verified-pair parity that proves the linear union
            # complete at this point, only when the exact tier itself
            # is under test (it is deliberately absent from the
            # sf5/sf10 runs).
            if "dedup_ngram_jaccard" in targets:
                point["candidates"]["prefix_filter"] = prefix_filter_pairs(
                    exploded_shingles(docs), 0.7
                ).count()
                # The exact prefix filter's candidates are a superset
                # of every true pair, so linear-verified ⊆
                # exact-verified and COUNT equality proves SET equality
                # — per-scale completeness evidence for the union.
                from flight_events_flink_job_spark.operators.dedup import (
                    shingle_sets,
                    verify_jaccard,
                )

                sh = shingle_sets(docs)
                point["candidates"]["true_pairs_exact"] = verify_jaccard(
                    prefix_filter_pairs(exploded_shingles(docs), 0.7), sh, 0.7
                ).count()
                point["candidates"]["true_pairs_linear"] = verify_jaccard(
                    linear_candidate_pairs(docs, 0.7), sh, 0.7
                ).count()
            point["candidates"]["simhash_blocked"] = simhash_near_pairs(
                docs
            ).count()
        if "dedup_edit_distance" in targets and not args.skip_candidates:
            from flight_events_flink_job_spark.operators.dedup import (
                edit_candidate_pairs,
            )

            docs = load_table(spark, sf_dir, "documents")
            point["candidates"]["edit_block"] = edit_candidate_pairs(
                docs
            ).count()

        if args.vector_occupancy:
            # Bucket-occupancy counts (VERDICT r6 item 2): for each ANN
            # structure, the per-bucket row counts — max and p99 show
            # head-heaviness, and sum(n^2) is the candidate-pair bound a
            # same-bucket pair join pays (the quantity that goes
            # quadratic when a dominant blob collapses into one bucket).
            from pyspark.sql import functions as SF

            from flight_events_flink_job_spark.operators.clustering import (
                _lloyd,
            )
            from flight_events_flink_job_spark.operators.similarity import (
                _cell_of,
                _coarse_router,
                _prepared,
                hyperplane_buckets,
                ivf_centroids,
            )

            embs = load_table(spark, sf_dir, "embeddings")

            def occ_stats(counts_df) -> dict:
                row = counts_df.agg(
                    SF.count("*").alias("buckets"),
                    SF.max("n").alias("mx"),
                    SF.expr("percentile_approx(n, 0.99)").alias("p99"),
                    SF.sum(SF.col("n") * SF.col("n")).alias("sum_sq"),
                ).collect()[0]
                return {
                    "buckets": int(row["buckets"]),
                    "max": int(row["mx"]),
                    "p99": int(row["p99"]),
                    "pair_bound_sum_sq": int(row["sum_sq"]),
                }

            prep = _prepared(embs, "n")
            point["occupancy"] = {
                "lsh_hyperplane": occ_stats(
                    prep.select(
                        SF.explode(
                            hyperplane_buckets(SF.col("n_vec"))
                        ).alias("b")
                    )
                    .groupBy("b")
                    .agg(SF.count("*").alias("n"))
                )
            }
            # The scheme the PAIR JOIN actually rides
            # (embedding_neardup_cosine): adaptive planes hold expected
            # occupancy ~32 at any N; max_bucket=128 then HARD-caps the
            # per-bucket pair bound. Reported pre-cap — the cap's job
            # is visible as max >> 128 here while the join stays
            # bounded.
            from flight_events_flink_job_spark.operators.dedup import (
                adaptive_planes,
            )

            n_vecs = embs.count()
            point["occupancy"]["lsh_adaptive"] = occ_stats(
                prep.select(
                    SF.explode(
                        hyperplane_buckets(
                            SF.col("n_vec"), 8, adaptive_planes(n_vecs)
                        )
                    ).alias("b")
                )
                .groupBy("b")
                .agg(SF.count("*").alias("n"))
            )
            _, flat_ranker = _coarse_router(("flat", ivf_centroids(embs)))
            point["occupancy"]["ivf_cells"] = occ_stats(
                prep.select(
                    _cell_of(flat_ranker, SF.col("n_vec")).alias("cell")
                )
                .groupBy("cell")
                .agg(SF.count("*").alias("n"))
            )
            # round-8: the two-level quantizer's cells at the
            # PRODUCTION target (64) — the flat tier's max cell grows
            # as N/4096 past the cap; hier must hold ~target through it
            from flight_events_flink_job_spark.operators.similarity import (
                ivf_model_hier,
            )

            hier = ivf_model_hier(embs, target_occupancy=64)
            _, hier_ranker = _coarse_router(("hier", hier))
            point["occupancy"]["ivf_cells_hier_t64"] = occ_stats(
                prep.select(
                    _cell_of(hier_ranker, SF.col("n_vec")).alias("cell")
                )
                .groupBy("cell")
                .agg(SF.count("*").alias("n"))
            )
            point["occupancy"]["hier_model"] = {
                "l1_shards": len(hier[0]),
                "l2_cells": sum(len(v) for v in hier[1].values()),
            }
            assigned, _ = _lloyd(embs, 8, 2, 7, m=4, dim=64)
            point["occupancy"]["pq_cells"] = occ_stats(
                assigned.groupBy("subspace", "cid").agg(
                    SF.count("*").alias("n")
                )
            )
            print(
                f"# sf{sf} occupancy: {point['occupancy']}", file=sys.stderr
            )

        for name in targets:
            fn = QUERIES[name]
            fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
            ts = []
            for _ in range(args.reps):
                t0 = time.perf_counter()
                fn(spark, sf_dir).write.format("noop").mode("overwrite").save()
                ts.append(time.perf_counter() - t0)
            med = statistics.median(ts)
            mad = statistics.median(abs(t - med) for t in ts)
            point["queries"][name] = {
                "sec": round(med, 3),
                "mad": round(mad, 3),
                "out_rows": fn(spark, sf_dir).count(),
            }
            print(
                f"# sf{sf} {name}: {med:.2f}s (mad {mad:.3f})",
                file=sys.stderr,
            )
        out["points"][str(sf)] = point

    # fitted exponents between consecutive sf points, vs. the row count
    # of each query's dominant input table
    dominant = {
        "dedup_near_minhash": "documents",
        "dedup_ngram_jaccard": "documents",
        "dedup_simhash": "documents",
        "neardup_components": "documents",
        "pq_codes": "embeddings",
        "pq_topk": "embeddings",
        "regional_supplier_volume": "lineitem",
        "repeated_passages": "documents",
        "bm25_topk": "documents",
        "dup_paragraph_fraction": "documents",
        "gopher_quality_signals": "documents",
        "weighted_sample_es": "documents",
        "similarity_radius": "embeddings",
        "dedup_edit_distance": "documents",
        "source_overlap_minhash": "documents",
        "rrf_retrieval": "documents",
        "neardup_dedup_corpus": "documents",
        "cms_user_counts": "events",
        "bloom_membership": "events",
        "ewma_daily_value": "events",
        "events_unpivot": "events",
        "events_debounced": "events",
        "user_triangles": "events",
        "cusum_changepoint": "events",
        "key_skew_profile": "events",
        "value_histogram": "events",
        "last_touch_attribution": "events",
        "hard_negatives": "embeddings",
        "source_quality_cap": "documents",
        "similarity_topk_lsh": "embeddings",
        "similarity_topk_ivf": "embeddings",
        "ivf_pq_topk": "embeddings",
        "hash_embed_search": "documents",
        "semdedup": "embeddings",
        "dedup_embedding_cosine": "embeddings",
        "knn_label_vote": "embeddings",
        "kmeans_clusters": "embeddings",
        "cluster_balanced_sample": "embeddings",
        "semdedup_scaled": "embeddings",
        # composed end-to-end pipeline (VERDICT r6 item 7)
        "curation_pipeline": "documents",
        # round-8 hierarchical-quantizer family + residual IVFADC
        "semdedup_hier": "embeddings",
        "similarity_topk_ivf_hier": "embeddings",
        "ivf_pq_topk_hier": "embeddings",
        "ivf_pq_topk_residual": "embeddings",
        # round-9 additions
        "exact_substring_strip": "documents",
        "minhash_calibration": "documents",
        "neardup_cluster_histogram": "documents",
        "mips_topk": "embeddings",
        "mips_topk_lsh": "embeddings",
        "ccnet_lm_buckets": "documents",
        # round-10 additions
        "multimodal_png_dhash": "documents",
        "exact_substring_strip_hashed": "documents",
        "mips_topk_lsh_auto": "embeddings",
    }
    exps: dict = {"queries": {}, "candidates": {}}
    pairs = list(zip(sfs, sfs[1:]))
    for name in targets:
        # Guard, don't crash: a target missing from `dominant`, or a
        # fixture whose .complete marker recorded only a table subset
        # (--tables), used to KeyError here AFTER the whole expensive
        # curve had run (err_scale.log, round-8 VERDICT item 7). The
        # exponents for such a target are simply omitted — the raw
        # timings are still in out["points"].
        tbl = dominant.get(name)
        if tbl is None:
            print(
                f"# WARNING: no dominant-table mapping for {name}; "
                "exponent fit skipped (add it to `dominant`)",
                file=sys.stderr,
            )
            continue
        if any(tbl not in out["points"][str(sf)]["rows"] for sf in sfs):
            print(
                f"# WARNING: table {tbl} row count missing from a "
                f"fixture marker; exponent fit for {name} skipped",
                file=sys.stderr,
            )
            continue
        per = []
        for lo, hi in pairs:
            a, b = out["points"][str(lo)], out["points"][str(hi)]
            t_a = a["queries"][name]["sec"]
            t_b = b["queries"][name]["sec"]
            n_a = a["rows"][tbl]
            n_b = b["rows"][tbl]
            per.append(
                round(math.log(t_b / t_a) / math.log(n_b / n_a), 2)
            )
        exps["queries"][name] = per
    # fit exponents for whichever candidate streams were actually
    # counted for this target set (intersection across all points)
    candidate_names = set.intersection(
        *[set(p["candidates"]) for p in out["points"].values()]
    ) if out["points"] else set()
    for cname in sorted(candidate_names):
        per = []
        for lo, hi in pairs:
            a, b = out["points"][str(lo)], out["points"][str(hi)]
            c_a = max(a["candidates"][cname], 1)
            c_b = max(b["candidates"][cname], 1)
            n_a = a["rows"]["documents"]
            n_b = b["rows"]["documents"]
            per.append(
                round(math.log(c_b / c_a) / math.log(n_b / n_a), 2)
            )
        exps["candidates"][cname] = per
    out["exponents"] = exps
    print(json.dumps(out))


if __name__ == "__main__":
    main()
