"""Text column expressions shared by the dedup / text-analysis operators.

All builders return Catalyst Column expressions (JVM-side, whole-stage
codegen, zero Python UDFs) so every consumer stays a narrow map stage
until it explicitly shuffles. Each has a DuckDB twin documented inline —
the oracle SQL in plans/registry_ext.py must stay in lockstep.

The tokenizer contract is deliberately minimal: split on single spaces,
matching DuckDB ``string_split(text, ' ')`` exactly (including empty
fragments, which the fixture corpus never produces).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

# Portable polynomial-hash modulus: results stay < 2^30, so
# ``acc*31 + code`` never overflows BIGINT in either engine.
POLY_MOD = 1_000_000_007


def tokens(text: Column) -> Column:
    """Whitespace tokens. DuckDB twin: ``string_split(text, ' ')``."""
    return F.split(text, " ")


def distinct_tokens(text: Column) -> Column:
    """Token set (order of first appearance; order-insensitive uses sort)."""
    return F.array_distinct(tokens(text))


def token_set_key(text: Column) -> Column:
    """Canonical bag-of-words key: sorted distinct tokens, space-joined.

    DuckDB twin:
    ``array_to_string(list_sort(list_distinct(string_split(text,' '))),' ')``
    (byte-wise string sort matches Spark's for ASCII corpora).
    """
    return F.concat_ws(" ", F.sort_array(distinct_tokens(text)))


def word_shingles(text: Column, n: int = 3) -> Column:
    """Distinct word n-gram shingles (default trigrams) as one array
    per row — the tests' brute-force reference for the operators'
    shingle sets (operators/dedup.exploded_shingles, which the
    operators use instead).

    DuckDB twin (1-based list indexing vs Spark's 0-based arrays):
    ``list_distinct([ts[i]||' '||ts[i+1]||' '||ts[i+2]
                     for i in range(1, len(ts)-1)])``
    Documents with fewer than ``n`` tokens yield an empty set.
    """
    t = tokens(text)
    grams = F.transform(
        F.sequence(F.lit(0), F.size(t) - n),
        lambda i: F.concat_ws(" ", *[F.element_at(t, i + k + 1) for k in range(n)]),
    )
    # sequence(0, negative) would generate a DESCENDING sequence, so
    # short documents get an explicit empty set instead.
    return F.when(F.size(t) >= n, F.array_distinct(grams)).otherwise(
        F.array().cast("array<string>")
    )


def jaccard(a: Column, b: Column) -> Column:
    """Exact Jaccard of two array-of-string *sets* (already distinct),
    spelled with the materialized union — the tests' brute-force
    reference for the operators' verify tier (operators/dedup._jaccard).

    Integer-ratio double division — bit-identical across engines.
    DuckDB twin: ``len(list_intersect(a,b)) * 1.0 /
    len(list_distinct(list_concat(a,b)))``.
    """
    inter = F.size(F.array_intersect(a, b))
    union = F.size(F.array_union(a, b))
    return inter.cast("double") / union.cast("double")


def poly_hash(s: Column) -> Column:
    """Portable polynomial rolling hash of an ASCII string.

    ``acc = (acc*31 + codepoint) % 1_000_000_007`` folded left-to-right —
    expressible identically in DuckDB as ``list_reduce(list_prepend(0, [
    unicode(s[i]) for i in range(1, len(s)+1)]), (a,c) -> (a*31+c) %
    1000000007)``. Used for engine-checkable fingerprints where
    xxhash64 (Spark-only) cannot be oracle-verified.
    """
    codes = F.transform(
        F.sequence(F.lit(1), F.length(s)),
        lambda i: F.ascii(F.substring(s, i, F.lit(1))).cast("bigint"),
    )
    return F.aggregate(
        codes,
        F.lit(0).cast("bigint"),
        lambda acc, c: (acc * 31 + c) % POLY_MOD,
    )


def poly_hash_arrow(s: Column) -> Column:
    """Arrow-vectorized twin of :func:`poly_hash` for hot paths: the
    fold ``(acc*31 + codepoint) % POLY_MOD`` runs column-at-a-time over
    a padded CODEPOINT matrix (UTF-32-LE bytes viewed as uint32 — the
    same codepoints Spark's ``ascii()`` and DuckDB's ``unicode()``
    yield, so all three paths agree on any Unicode input; the round-5
    adversarial sweep caught the previous ascii-encode version crashing
    on non-ASCII text) — identical integer math (the padded tail is
    masked out), ~4x the Catalyst fold which is interpreted per
    character. The DuckDB twin is unchanged (same values as
    :func:`poly_hash`)."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("bigint")
    def _vec(col: pd.Series) -> pd.Series:
        b = col.str.encode("utf-32-le")
        lens = (b.str.len() // 4).to_numpy()
        width = int(lens.max()) if len(lens) else 0
        padded = b"".join(x.ljust(width * 4, b"\x00") for x in b)
        arr = np.frombuffer(padded, dtype=np.uint32).reshape(len(b), width)
        acc = np.zeros(len(b), dtype=np.int64)
        for i in range(width):
            nxt = (acc * 31 + arr[:, i]) % POLY_MOD
            acc = np.where(i < lens, nxt, acc)
        return pd.Series(acc)

    return _vec(s)
