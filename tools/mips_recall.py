"""recall@k of the norm-augmented MIPS LSH tier vs exact MIPS, per
regime and table count — the quality axis beside the wall-time curve
(bench/scale_curve_r9_mips.json). Sign-projection LSH has a known
adversarial regime: a dominant direction (clustered fixture) collapses
sign buckets AND, after norm augmentation, long-tail vectors with
small augmented coordinates concentrate near the equator of the
(d+1)-sphere — this measures how much recall that costs, and how many
tables buy it back.

The aggregate recall join runs entirely in Spark (the ann_recall_eval
shape specialised to MIPS): both sides are the production operators,
the comparison is two k-row-per-query tables.

Usage: python tools/mips_recall.py [out_json] [fixture_base]
Reads the fixtures tools/scale_bench.py generates (--emb-mode uniform /
clustered, --tables embeddings): uniform at sf40 (800k
vectors), clustered at sf10 (200k — the degenerate-bucket regime
admits ~half the corpus per query, so the exact-side join volume is
bounded deliberately; wall cost at 800k clustered is in the scale
curve). Writes one JSON document to out_json (NOT stdout — JVM GC
warnings under heavy allocation land on stdout and corrupted the
first artifact).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    out_path = sys.argv[1] if len(sys.argv) > 1 else "bench/mips_recall_r9.json"
    base = sys.argv[2] if len(sys.argv) > 2 else "/tmp/scalefix_r6"

    os.environ.setdefault("TZ", "UTC")
    time.tzset()
    from pyspark.sql import functions as F

    from flight_events_flink_job_spark.operators.similarity import (
        mips_topk,
        mips_topk_lsh,
    )
    from flight_events_flink_job_spark.session import get_spark

    spark = get_spark("mips-recall")
    out: dict = {"k": 10, "num_queries": 64, "regimes": {}}
    for regime, sub in [("uniform", "sf40.0"), ("clustered", "sf10.0-clustered")]:
        path = f"{base}/{sub}/embeddings.parquet"
        if not os.path.exists(path):
            out["regimes"][regime] = {"skipped": f"no fixture at {path}"}
            continue
        embs = spark.read.parquet(path)
        n = embs.count()
        exact = (
            mips_topk(embs, num_queries=64)
            .select("q_id", "n_id")
            .withColumnRenamed("n_id", "e_id")
        )
        per_tables: dict = {}
        for tables in (8, 16, 32):
            approx = mips_topk_lsh(
                embs, num_queries=64, num_tables=tables
            ).select("q_id", F.col("n_id").alias("a_id"))
            joined = exact.join(
                approx,
                (exact.q_id == approx.q_id)
                & (F.col("e_id") == F.col("a_id")),
                "left",
            ).drop(approx.q_id)
            row = joined.agg(
                F.count("*").alias("n_exact"),
                F.sum(
                    F.when(F.col("a_id").isNotNull(), 1).otherwise(0)
                ).alias("n_hit"),
            ).collect()[0]
            per_tables[str(tables)] = {
                "n_exact": int(row.n_exact),
                "n_hit": int(row.n_hit),
                "recall_at_10": round(row.n_hit / row.n_exact, 4),
            }
        out["regimes"][regime] = {"rows": n, "fixture": sub,
                                  "by_num_tables": per_tables}
    with open(out_path, "w") as fh:
        json.dump(out, fh, indent=1)
    print(f"wrote {out_path}", file=sys.stderr)


if __name__ == "__main__":
    main()
