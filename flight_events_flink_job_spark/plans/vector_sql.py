"""DuckDB replay kit for the vector operators (private to ``plans``).

Every DuckDB twin of the vector-search and clustering family (LSH,
IVF, PQ, SemDedup) is composed from the fragments below, so each rule
the Spark operators follow is spelled once on the oracle side: the
sequential squared-L2 fold, the portable plane recurrence, the
sign-bit bucket code, the MIPS norm augmentation, the 4096-centroid
stride widening, the stride-init Lloyd chain, the ADC sum, the
SemDedup drop verdict and the per-query (score, n_id) rank.

A fragment returns one CTE (``name AS (...)``), a list of CTEs, or a
final SELECT; :func:`query` joins them into an oracle. Fragments read
the vectors from the CTE ``e`` (:data:`E`) unless told otherwise.
"""

from __future__ import annotations

import re

from ..operators.similarity import (
    PLANE_ADD2,
    PLANE_MOD1,
    PLANE_MOD2,
    PLANE_MUL1,
    PLANE_MUL2,
)

# The embeddings as DOUBLE[]: list_dot_product / list_cosine_similarity
# on DOUBLE[] accumulate in the same order as the Spark Arrow folds.
E = "e AS (SELECT vec_id, CAST(embedding AS DOUBLE[]) v FROM embeddings)"


def query(ctes: list[str], select: str) -> str:
    """One oracle: ``WITH`` the CTEs, then the final SELECT. Indentation
    is collapsed so an oracle stays a compact, readable string."""
    sql = "\nWITH " + ",\n".join(ctes) + "\n" + select + "\n"
    return re.sub(r"\n +", "\n ", sql)


def l2(a: str, b: str, dim: int) -> str:
    """Squared L2 distance of two DOUBLE[] expressions, summed left to
    right from 0.0 — bit-identical to the Arrow path's dim-by-dim
    accumulation (a vectorized sum may add in another order)."""
    return (
        f"list_reduce(list_prepend(0.0, [({a}[i]-{b}[i])*({a}[i]-{b}[i]) "
        f"for i in range(1, {dim + 1})]), (acc, x) -> acc + x)"
    )


def top_rows(
    src: str, part: str, order: str, n: int | str, cols: str = "*", rank: str = "rn"
) -> str:
    """``cols`` of the rows of ``src`` (a FROM tail, which may carry a
    WHERE) whose ``row_number()`` per ``part`` by ``order`` is <= n."""
    return (
        f"SELECT {cols} FROM (SELECT *, row_number() OVER (PARTITION BY "
        f"{part} ORDER BY {order}) AS {rank} FROM {src}) WHERE {rank} <= {n}"
    )


def topk(src: str, score: str, k: int, cols: str) -> str:
    """The rank tail of every top-k operator (similarity._top_k): per
    q_id by ``score`` (with its direction) then n_id, BIGINT ``rank``
    <= k."""
    return top_rows(src, "q_id", f"{score}, n_id", k, cols, rank="rank")


def cosine_topk(k: int) -> str:
    """The cosine top-k output (similarity.cosine_topk) of ``scored``
    (q_id, n_id, cos)."""
    return topk("scored", "cos DESC", k, "q_id, n_id, round(cos, 4) AS cosine, rank")


def planes(num_total: int, dim: int, limit: str | None = None) -> list[str]:
    """The ``h2s``/``planes`` CTE pair rebuilding
    similarity.portable_planes(num_total, dim) from its integer
    recurrence — five integer ops and one double divide per entry, so
    a plane oracle embeds no float literals. All intermediates stay
    under 2^63, so DuckDB BIGINT arithmetic never overflows. ``limit``
    (a SQL scalar) keeps the first ``limit`` planes only: DuckDB's
    range() takes constants, so an oracle whose plane count is derived
    from the data generates ``num_total`` and cuts."""
    where = f" WHERE idx < {limit} * {dim}" if limit else ""
    return [
        f"""h2s AS (
        SELECT idx,
               (((idx + 1) * {PLANE_MUL1}) % {PLANE_MOD1}
                * {PLANE_MUL2} + {PLANE_ADD2}) % {PLANE_MOD2} AS h2
        FROM range({num_total * dim}) t(idx){where})""",
        f"""planes AS (
        SELECT idx // {dim} AS pid,
               list(((h2 * h2 % {PLANE_MOD2}) * {PLANE_MUL1} % {PLANE_MOD2}
                     + h2) % {PLANE_MOD2} / {PLANE_MOD2}.0 * 2.0 - 1.0
                    ORDER BY idx) AS p
        FROM h2s GROUP BY pid)""",
    ]


def bucket_codes(
    name: str, rows: str, vec: str, num_planes: int | str, num_queries: int = 0
) -> list[str]:
    """``{name}_bits`` / ``{name}``: one sign-LSH bucket code per
    (vec_id, table) of column ``vec`` of ``rows`` against ``planes`` —
    similarity._bucket_udf's (t << P) + bits, plane 0 the most
    significant bit, a zero dot counting as 1. ``num_planes`` is a
    literal or ``"nb"``, the column of the one-row ``params`` CTE of an
    oracle that derives it. With ``num_queries`` only the query side,
    the first ``num_queries`` vec_ids, is coded."""
    nb = num_planes
    params = " CROSS JOIN params" if nb == "nb" else ""
    where = f" WHERE r.vec_id < {num_queries}" if num_queries else ""
    return [
        f"""{name}_bits AS (
        SELECT r.vec_id, pid // {nb} AS tbl, pid % {nb} AS j,
               CASE WHEN list_dot_product(r.{vec}, planes.p) >= 0
                    THEN 1 ELSE 0 END AS b
        FROM {rows} r CROSS JOIN planes{params}{where})""",
        f"""{name} AS (
        SELECT vec_id,
               CAST(sum(b * (1 << ({nb} - 1 - j))) + tbl * (1 << {nb})
                    AS BIGINT) AS bucket
        FROM {name}_bits{params} GROUP BY vec_id, tbl{", nb" if params else ""})""",
    ]


# MIPS -> cosine reduction (similarity._augmented): scale by the corpus
# max norm, append sqrt(1 - ||u||^2) to the corpus side (``av``) and 0
# to the query side (``aq``); ``v`` keeps the original vector.
MIPS_AUGMENT = [
    "m AS (SELECT sqrt(max(list_dot_product(v, v))) AS mx FROM e)",
    "u AS (SELECT vec_id, v, [x / m.mx FOR x IN v] AS uu FROM e CROSS JOIN m)",
    """aug AS (
        SELECT vec_id, v,
               list_append(uu, sqrt(greatest(0.0,
                   1.0 - list_dot_product(uu, uu)))) AS av,
               list_append(uu, 0.0) AS aq
        FROM u)""",
]


def lsh_cand(qcodes: str, ccodes: str, num_queries: int) -> str:
    """``cand``: the distinct (query, neighbour) pairs that share a
    bucket code in any table, self excluded."""
    return f"""cand AS (
        SELECT DISTINCT qc.vec_id AS q_id, cc.vec_id AS n_id
        FROM {qcodes} qc JOIN {ccodes} cc
          ON qc.bucket = cc.bucket AND qc.vec_id <> cc.vec_id
        WHERE qc.vec_id < {num_queries})"""


def rerank(name: str, fn: str, score: str) -> str:
    """``name``: the (q_id, n_id) pairs of ``cand`` scored exactly by
    ``fn`` over the original vectors as column ``score``."""
    return f"""{name} AS (
        SELECT c.q_id, c.n_id, {fn}(eq.v, en.v) AS {score}
        FROM cand c
        JOIN e eq ON eq.vec_id = c.q_id
        JOIN e en ON en.vec_id = c.n_id)"""


def exact(name: str, fn: str, score: str, num_queries: int) -> str:
    """``name``: every (query, other vector) pair scored by ``fn`` —
    the brute-force tier an ANN tier is measured against."""
    return f"""{name} AS (
        SELECT q.vec_id AS q_id, c.vec_id AS n_id, {fn}(q.v, c.v) AS {score}
        FROM e q JOIN e c ON q.vec_id <> c.vec_id
        WHERE q.vec_id < {num_queries})"""


def ivf(stride: int, dim: int, num_queries: int = 0, nprobe: int = 0) -> list[str]:
    """The flat IVF coarse chain of similarity.ivf_centroids +
    assignment: ``iv_s`` effective stride, ``iv_c`` centroids (every
    vector whose vec_id is a stride multiple, cid = vec_id), ``iv_d`` /
    ``iv_r`` the folded distance of every vector to every centroid
    ranked by (d2, cid), ``iv_assign`` (vec_id, v, cid, d2) the nearest
    one. With ``num_queries``, also ``iv_probes`` (each query's
    ``nprobe`` nearest cells) and their candidate gate ``cand``."""
    ctes = [
        effective_stride(stride),
        "iv_c AS (SELECT vec_id AS cid, v AS cv FROM e "
        "WHERE vec_id % (SELECT st FROM iv_s) = 0)",
        f"iv_d AS (SELECT e.vec_id, e.v, c.cid, {l2('e.v', 'c.cv', dim)} AS d2 "
        "FROM e, iv_c c)",
        "iv_r AS (SELECT *, row_number() OVER ("
        "PARTITION BY vec_id ORDER BY d2, cid) AS rn FROM iv_d)",
        "iv_assign AS (SELECT vec_id, v, cid, d2 FROM iv_r WHERE rn = 1)",
    ]
    if num_queries:
        ctes.append(
            f"iv_probes AS (SELECT vec_id AS q_id, cid FROM iv_r "
            f"WHERE vec_id < {num_queries} AND rn <= {nprobe})"
        )
        ctes.append(gate("iv_probes", "iv_assign", "cid"))
    return ctes


def effective_stride(stride: int) -> str:
    """``iv_s`` (st): the stride ivf_centroids samples ``e`` at. It caps
    the centroid count at 4096 by widening the nominal ``stride`` to
    ceil((max_id + 1) / 4096) past the cap."""
    return (
        f"iv_s AS (SELECT GREATEST({stride}, "
        f"CAST(ceil((max(vec_id) + 1) / 4096.0) AS BIGINT)) AS st FROM e)"
    )


def gate(probes: str, assign: str, cell: str) -> str:
    """``cand`` (q_id, n_id, cell): every vector assigned to a cell the
    query probes, the query itself excluded."""
    return f"""cand AS (
        SELECT p.q_id, a.vec_id AS n_id, a.{cell} AS cell
        FROM {probes} p JOIN {assign} a ON p.{cell} = a.{cell}
        WHERE a.vec_id <> p.q_id)"""


def lloyd(p: str, dim: int, k: int, iterations: int, stride: int) -> list[str]:
    """The fixed-iteration Lloyd chain of operators/clustering._lloyd
    (k-means, and per subspace PQ) over the CTE ``{p}e``
    (vec_id, v): stride init (cid = vec_id / stride for the first k
    stride multiples), per iteration the folded d2 to every centroid
    with the (d2, cid) tie-break, and the DECIMAL-mean centroid update.
    CTE names carry the prefix ``p`` so several chains share one WITH;
    the final assignment (vec_id, v, cid, d2) is ``{p}a{iterations}``
    and the last codebook ``{p}c{iterations - 1}``."""
    ctes = [
        f"""{p}c0 AS (SELECT CAST(vec_id / {stride} AS BIGINT) cid, v AS cv
            FROM {p}e WHERE vec_id % {stride} = 0 AND vec_id < {stride * k})"""
    ]
    for it in range(1, iterations + 1):
        ctes.append(f"""{p}d{it} AS (
            SELECT e.vec_id, e.v, c.cid, {l2('e.v', 'c.cv', dim)} AS d2
            FROM {p}e e, {p}c{it - 1} c)""")
        ctes.append(
            f"{p}a{it} AS ("
            + top_rows(f"{p}d{it}", "vec_id", "d2, cid", 1, "vec_id, v, cid, d2")
            + ")"
        )
        if it < iterations:
            ctes.append(f"""{p}c{it} AS (
            SELECT cid, list(cx ORDER BY dim) cv FROM (
                SELECT cid, dim,
                       CAST(sum(CAST(x AS DECIMAL(20,10))) AS DOUBLE)
                           / count(*) AS cx
                FROM (SELECT cid, generate_subscripts(v, 1) dim,
                             unnest(v) x FROM {p}a{it})
                GROUP BY cid, dim)
            GROUP BY cid)""")
    return ctes


def pq_lloyd(
    m: int, width: int, k: int, iterations: int, stride: int,
    src: str = "e", vec: str = "v",
) -> list[str]:
    """One Lloyd chain per PQ subspace: chain ``s{s}_`` runs over the
    s-th contiguous ``width``-dim slice of ``src.vec``."""
    ctes: list[str] = []
    for s in range(m):
        ctes.append(
            f"s{s}_e AS (SELECT vec_id, {vec}[{s * width + 1}:{(s + 1) * width}] v "
            f"FROM {src})"
        )
        ctes.extend(lloyd(f"s{s}_", width, k, iterations, stride))
    return ctes


def adc(
    m: int, width: int, iterations: int, k: int, queries: str,
    cand: bool = False, cell: bool = False,
) -> tuple[list[str], str]:
    """The Asymmetric Distance Computation tail of clustering.pq_topk /
    ivf_pq_query (clustering._adc_topk) over the ``pq_lloyd`` chains: per subspace the query
    slice of ``queries`` (q_id[, cell], qv) against every codeword
    (``dt{s}``, the same fold), the parts union looking each code up,
    the DECIMAL sum across subspaces and the (adc, n_id) rank. Without
    ``cand`` every other vector is scored; with it only the (q_id,
    n_id) pairs of the ``cand`` CTE, and ``cell`` also matches the
    probed cell a residual query slice was taken against. Returns
    (CTEs, SELECT)."""
    keys, qkeys = ("q_id, cell", "q.q_id, q.cell") if cell else ("q_id", "q.q_id")
    ctes: list[str] = []
    parts = []
    for s in range(m):
        lo, hi = s * width + 1, (s + 1) * width
        ctes.append(f"q{s} AS (SELECT {keys}, qv[{lo}:{hi}] qv FROM {queries})")
        ctes.append(
            f"dt{s} AS (SELECT {qkeys}, c.cid, "
            f"{l2('q.qv', 'c.cv', width)} AS d2 "
            f"FROM q{s} q, s{s}_c{iterations - 1} c)"
        )
        if not cand:
            parts.append(
                f"SELECT a.vec_id, d.q_id, d.d2 FROM s{s}_a{iterations} a "
                f"JOIN dt{s} d ON d.cid = a.cid WHERE a.vec_id <> d.q_id"
            )
        else:
            on_cell = " AND d.cell = g.cell" if cell else ""
            parts.append(
                f"SELECT a.vec_id, g.q_id, d.d2 FROM s{s}_a{iterations} a "
                f"JOIN cand g ON g.n_id = a.vec_id "
                f"JOIN dt{s} d ON d.cid = a.cid AND d.q_id = g.q_id{on_cell}"
            )
    ctes.append("parts AS (" + "\n UNION ALL ".join(parts) + ")")
    ctes.append(
        "adc AS (SELECT q_id, vec_id AS n_id, "
        "sum(CAST(d2 AS DECIMAL(27,10))) AS adc_dec "
        "FROM parts GROUP BY q_id, vec_id)"
    )
    return ctes, topk(
        "adc", "adc_dec", k,
        "q_id, n_id, CAST(round(adc_dec, 4) AS DOUBLE) AS adc_d2, rank",
    )


def semdedup(
    ctes: list[str], assign: str, threshold: float, max_bucket: int | None = None
) -> str:
    """The SemDedup verdict and per-cluster summary of
    clustering.semdedup / semdedup_scaled (clustering._semdedup_verdicts)
    over ``assign`` (vec_id, v, cid, d2): x is dropped iff a
    same-cluster y with keep-precedence (farther from the centroid,
    ties lower vec_id) is >= ``threshold`` cosine-similar, a zero
    vector scoring 0.0. With ``max_bucket`` only
    each cluster's top-``max_bucket`` precedence members can drop.
    ``list_cosine_similarity`` on DOUBLE[] reproduces the Spark fold
    bit-exactly (functions/vectors.py), so the cut agrees."""
    droppers = assign
    if max_bucket is not None:
        droppers = "droppers"
        ctes = ctes + [
            "droppers AS ("
            + top_rows(assign, "cid", "d2 DESC, vec_id", max_bucket)
            + ")"
        ]
    return query(
        ctes + [f"""dropped AS (
        SELECT DISTINCT x.vec_id
        FROM {assign} x JOIN {droppers} y
          ON x.cid = y.cid AND x.vec_id != y.vec_id
         AND (y.d2 > x.d2 OR (y.d2 = x.d2 AND y.vec_id < x.vec_id))
         AND (CASE WHEN list_dot_product(x.v, x.v) = 0
                     OR list_dot_product(y.v, y.v) = 0 THEN 0.0
                   ELSE list_cosine_similarity(x.v, y.v) END)
             >= {threshold})"""],
        f"""SELECT a.cid AS cluster_id,
           count(*) AS n_vectors,
           CAST(sum(CASE WHEN dr.vec_id IS NOT NULL THEN 1 ELSE 0 END)
                AS BIGINT) AS n_dropped,
           count(*) - CAST(sum(CASE WHEN dr.vec_id IS NOT NULL
                                    THEN 1 ELSE 0 END) AS BIGINT)
               AS n_kept
    FROM {assign} a LEFT JOIN dropped dr ON a.vec_id = dr.vec_id
    GROUP BY a.cid""",
    )
