"""Streaming vector retrieval: continuous cosine-radius alerting.

The batch radius query (operators/similarity.cosine_radius) is
stateless per corpus row — score against a bounded BROADCAST query set,
threshold-filter, emit. That shape streams in APPEND mode with NO state
store at all: each micro-batch's vectors are scored exactly once, the
static query side re-broadcasts per batch (stream-static join), and the
appended union over all micro-batches is definitionally equal to the
batch result over the same rows — the batch/stream parity contract the
driver checks with the SAME oracle as ``similarity_radius``.

This is the standing-query deployment of vector search ("alert me when
anything semantically close to these probes arrives"): at 100 TB/day the
corpus never re-scans — only the day's increment flows through, and the
per-batch cost is |batch| * |Q| Arrow-vectorized cosines with no
shuffle of the stream (the only exchange is the broadcast of Q).

The scoring expressions are shared with the batch operator by
construction (same ``to_double`` prep, same Arrow dim-by-dim cosine
fold, same NaN -> -1.0 zero-vector convention, same 4 dp round), so
stream and batch can never drift apart semantically; the batch
``spread()`` repartition gate is omitted because ``DataFrame.rdd`` is
undefined on a stream and micro-batches already arrive as >=1 split per
staged file.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions.vectors import cosine_arrow, to_double
from .roundtrip import drain, read_back, run_batches, staged_stream

# Staged-parquet twin of the embeddings fixture (post ingest-contract).
EMB_SCHEMA = "vec_id BIGINT, embedding ARRAY<FLOAT>, label INT"


def radius_alert_stream(
    stream: DataFrame, queries: DataFrame, threshold: float = 0.25
) -> DataFrame:
    """(q_id, n_id, cosine) alerts for every streamed vector within
    ``threshold`` cosine of any query vector. Stateless: safe in append
    mode with no watermark and no state store."""
    q = queries.select(
        F.col("vec_id").alias("q_id"),
        to_double(F.col("embedding")).alias("q_vec"),
    )
    c = stream.select(
        F.col("vec_id").alias("n_id"),
        to_double(F.col("embedding")).alias("n_vec"),
    )
    cos = F.nanvl(cosine_arrow(F.col("q_vec"), F.col("n_vec")), F.lit(-1.0))
    return (
        c.join(F.broadcast(q))
        .where(F.col("q_id") != F.col("n_id"))
        .select("q_id", "n_id", F.round(cos, 4).alias("cosine"))
        .where(F.col("cosine") >= threshold)
    )


def drain_radius_from_staged(
    spark: SparkSession,
    staging_dir: str,
    checkpoint_dir: str,
    queries: DataFrame,
    threshold: float = 0.25,
    files_per_trigger: int = 2,
) -> DataFrame:
    """Drain staged embedding parts through the radius alert stream in
    rate-limited micro-batches (append mode: each micro-batch's alerts
    are final when emitted) and return everything emitted."""
    stream = staged_stream(spark, EMB_SCHEMA, staging_dir, files_per_trigger)
    return drain(
        radius_alert_stream(stream, queries, threshold), checkpoint_dir, "append"
    )


def drain_ivfpq_queries_from_staged(
    spark: SparkSession,
    staging_dir: str,
    checkpoint_dir: str,
    index,
    k: int = 10,
    nprobe: int = 4,
    files_per_trigger: int = 1,
    batch_hook=None,
) -> DataFrame:
    """Continuous ANN serving from a batch-built
    :class:`operators.clustering.IvfPqIndex` — the index-tier
    batch/stream unification (round-11 VERDICT item 7): the index is
    built ONCE on the batch side (persisted cells/codes/codebook, one
    ``sources.fixtures.session_artifact`` per corpus via
    plans/registry_ext._ivfpq_index_cached) and a
    continuous stream of QUERY vectors is answered from it, micro-batch
    by micro-batch, with ZERO per-batch index work — each batch pays
    only the serve plan (broadcast probe gate onto the persisted cell
    table, code join, broadcast ADC table, k-bounded rank).

    Value contract: ranking is per q_id and every candidate of a query
    is scored within that query's own micro-batch (the corpus side is
    static and complete), so the appended union over batches equals
    the batch ``ivf_pq_query`` over the same query set EXACTLY — the
    driver checks this with the SAME oracle as ivf_pq_topk_residual.

    ``batch_hook(batch_id, seconds)`` (optional) observes per-batch
    wall times — the soak tool uses it to prove the no-rebuild claim
    (bench/stream_ivfpq_soak_r12.json).

    The batches run through the one ``foreachBatch`` runner
    (:func:`roundtrip.run_batches`) and the answers are read back like
    every drain's (:func:`roundtrip.read_back`): under the serve frame's
    schema, and as an empty frame of it when nothing was staged.
    """
    import time as _time

    from ..operators.clustering import ivf_pq_query

    stream = staged_stream(spark, EMB_SCHEMA, staging_dir, files_per_trigger)
    out_dir = f"{checkpoint_dir}_out"
    # the serve frame's schema, from analysing its plan over no queries
    schema = ivf_pq_query(
        index, spark.createDataFrame([], EMB_SCHEMA), k=k, nprobe=nprobe
    ).schema

    def serve(batch_df: DataFrame, batch_id: int) -> None:
        t0 = _time.monotonic()
        ivf_pq_query(index, batch_df, k=k, nprobe=nprobe).write.mode(
            "append"
        ).parquet(out_dir)
        if batch_hook is not None:
            batch_hook(batch_id, _time.monotonic() - t0)

    run_batches(stream, checkpoint_dir, serve)
    return read_back(spark, out_dir, schema)
