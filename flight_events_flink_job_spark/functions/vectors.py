"""Vector column expressions for the embedding operators.

Dot products and norms fold left-to-right in DOUBLE via Spark's
higher-order ``aggregate``/``zip_with`` — JVM-side, no UDF. DuckDB's
``list_cosine_similarity(CAST(x AS DOUBLE[]), …)`` reproduces the exact
same double-sequential accumulation (verified bit-identical on the
fixture embeddings), so cosine columns are oracle-hashable without
tolerance tricks.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import pandas_udf


def to_double(vec: Column) -> Column:
    """ARRAY<FLOAT> -> ARRAY<DOUBLE> (all math happens in double)."""
    return F.transform(vec, lambda x: x.cast("double"))


def dot(a: Column, b: Column) -> Column:
    """Left-to-right double dot product of two ARRAY<DOUBLE> columns."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def sq_l2(a: Column, b: Column) -> Column:
    """Left-to-right double squared-L2 distance of two ARRAY<DOUBLE>
    columns. DuckDB twin: ``plans/vector_sql.l2``."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def l2_norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two ARRAY<DOUBLE> columns.

    DuckDB twin: ``list_cosine_similarity(a, b)`` on DOUBLE[].
    """
    return dot(a, b) / (l2_norm(a) * l2_norm(b))


def cosine_safe(a: Column, b: Column) -> Column:
    """:func:`cosine` with the zero-vector corner pinned: similarity to
    a zero-norm vector is 0.0 (no direction, no similarity — the IR
    convention). The unguarded ratio is 0/0, which raises under ANSI
    mode; DuckDB's ``list_cosine_similarity`` returns -1.0 there, so
    oracles must mirror this guard explicitly:
    ``CASE WHEN list_dot_product(a,a) = 0 OR list_dot_product(b,b) = 0
    THEN 0.0 ELSE list_cosine_similarity(a,b) END``."""
    denom = l2_norm(a) * l2_norm(b)
    return F.when(denom == 0.0, F.lit(0.0)).otherwise(dot(a, b) / denom)


def cosine_arrow(a: Column, b: Column) -> Column:
    """Arrow-vectorized twin of :func:`cosine` for bulk pair scoring.

    Bit-identical to the Catalyst fold AND DuckDB's
    ``list_cosine_similarity``: the numpy loop accumulates
    dot/norm sums dimension-by-dimension left-to-right — the exact
    operation sequence of the sequential folds (each numpy elementwise
    op rounds per IEEE, no fusion). Use on verify/re-rank hot paths
    where the interpreted higher-order fold dominates; ``cosine`` stays
    the expression-level building block.
    """

    @pandas_udf("double")
    def cos(pa: pd.Series, pb: pd.Series) -> pd.Series:
        if len(pa) == 0:
            return pd.Series([], dtype="float64")
        ma = np.vstack(pa.to_numpy())
        mb = np.vstack(pb.to_numpy())
        dot_ = np.zeros(len(ma))
        na = np.zeros(len(ma))
        nb = np.zeros(len(ma))
        for i in range(ma.shape[1]):
            x, y = ma[:, i], mb[:, i]
            dot_ += x * y
            na += x * x
            nb += y * y
        return pd.Series(dot_ / (np.sqrt(na) * np.sqrt(nb)))

    return cos(a, b)


def dot_arrow(a: Column, b: Column) -> Column:
    """Arrow-vectorized twin of :func:`dot` for bulk pair scoring
    (the MIPS re-rank hot path). Bit-identical to the Catalyst fold
    AND DuckDB's ``list_dot_product``: the numpy loop accumulates the
    product sum dimension-by-dimension left-to-right — the exact
    operation sequence of the sequential folds, so inner-product
    columns are oracle-hashable without tolerance tricks (the
    :func:`cosine_arrow` argument, minus the norms)."""

    @pandas_udf("double")
    def dp(pa: pd.Series, pb: pd.Series) -> pd.Series:
        if len(pa) == 0:
            return pd.Series([], dtype="float64")
        ma = np.vstack(pa.to_numpy())
        mb = np.vstack(pb.to_numpy())
        acc = np.zeros(len(ma))
        for i in range(ma.shape[1]):
            acc += ma[:, i] * mb[:, i]
        return pd.Series(acc)

    return dp(a, b)
