"""K-means-trained IVF similarity search (sim4) — the "at corpus
scale the centroids come from sampled k-means" substitution that
sim3's docstring promises, made real: Lloyd's algorithm as a
driver-coordinated loop of Spark jobs, then the same inverted-list
probe as sim3.

No counterpart in the reference repo (BASELINE.json ANN extension).

Cross-engine determinism (the hard part of oracling an ITERATIVE
float algorithm): the centroid update is a per-dimension mean, and
float SUM order is engine-dependent — so components are quantized to
int64 fixed-point BEFORE summing:

    q(x)  = floor((x + KM_OFFSET) * KM_Q)        # exact: double ops
    mean  = (SUM(q) div count) / KM_Q - KM_OFFSET

Every step is exact integer arithmetic or an exact power-of-two
double scaling, so Spark, Python (driver reassembly) and DuckDB agree
BITWISE no matter the summation order.  The +KM_OFFSET shift keeps
quantized values positive so integer division truncates identically
on all three.  Quantization error (2^-40 per component) is far below
any clustering-relevant signal.  int64 headroom: |q| < 3*2^40, so
sums stay exact below ~2^21 vectors per cluster — train on a <=2M
sample beyond that (standard practice; assignment of the full corpus
is unaffected).

Scale design: each Lloyd iteration is ONE distributed pass — argmax
over KM_K literal centroid arrays (constant-folded, map-side),
posexplode + codegen'd integer SUM with map-side partial aggregation,
and a k x dim driver collect (tiny).  The trained centroids then ride
into the sim3-style probe: broadcast-assign lists, probe NPROBE lists
per query, exact fold cosine inside lists only.

Reference citation: no reference file — extension operator; probe
mechanics shared with similarity.py sim3.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..functions import hashing as H
from .similarity import (
    NPROBE,
    N_QUERIES,
    _SQL_NORM_CTE,
    _SQL_RANKED,
    _emb_normalized,
    _ranked,
)

KM_K = 8
KM_ITERS = 2
KM_Q = 1 << 40
KM_OFFSET = 2.0
DIM = H.RP_DIM  # 64, the embeddings table's dimensionality


def _lit_vec(c: list[float]) -> Column:
    return F.array(*[F.lit(float(x)) for x in c])


def _dot_lit(vn: Column, c: list[float]) -> Column:
    """Sequential fold dot against a literal centroid (same fold as
    hashing.dot_fold, constant-folded centroid side)."""
    return F.aggregate(
        F.zip_with(vn, _lit_vec(c), lambda x, y: x * y),
        F.lit(0.0),
        lambda acc, v: acc + v,
    )


def _best_centroid(vn: Column, centroids: list[list[float]]) -> Column:
    """argmax_cid dot(vn, c_cid) with min-cid tie-break, as a single
    array_max over (dot, -cid) structs — struct ordering gives max
    dot first, then max(-cid) = min cid.  Equivalent to the oracle's
    ROW_NUMBER() OVER (ORDER BY dot DESC, cid ASC) = 1.

    Stays Catalyst ON PURPOSE (r10, measured): the Arrow/numpy argmax
    twin regressed sim4 3.2x and dd19 15x at sf0.1 — the assignment
    feeds self-joins and the Lloyd chain, where an ArrowEvalPython
    node blocks join fusion and re-materializes per plan reuse
    (OPTIMIZATION_r10.md)."""
    arr = F.array(
        *[
            F.struct(
                _dot_lit(vn, c).alias("dot"), F.lit(-cid).alias("ncid")
            )
            for cid, c in enumerate(centroids)
        ]
    )
    return -F.array_max(arr).getField("ncid")


def initial_centroids(n: DataFrame) -> list[list[float]]:
    """Training-free seed, same convention as sim3: the KM_K lowest-id
    normalized vectors."""
    rows = n.filter(F.col("vec_id") < KM_K).select("vec_id", "vn").collect()
    return [list(map(float, r.vn)) for r in sorted(rows, key=lambda r: r.vec_id)]


def lloyd_update(n: DataFrame, centroids: list[list[float]]) -> list[list[float]]:
    """One Lloyd iteration: assign (map-side argmax over literal
    centroids), then quantized per-dimension means.  Empty clusters
    keep their previous centroid (oracle mirrors via LEFT JOIN +
    CASE)."""
    assigned = n.select(
        "vn", _best_centroid(F.col("vn"), centroids).alias("cid")
    )
    comp = assigned.select("cid", F.posexplode("vn").alias("j", "x"))
    sums = (
        comp.groupBy("cid", "j")
        .agg(
            F.sum(
                F.floor((F.col("x") + F.lit(KM_OFFSET)) * F.lit(float(KM_Q)))
            ).alias("s"),
            F.count(F.lit(1)).alias("cnt"),
        )
        .collect()
    )
    new = [list(c) for c in centroids]
    for r in sums:
        # exact: s//cnt < 2^42 so float() is lossless; /KM_Q is a
        # power-of-two scale; -KM_OFFSET a single IEEE op — bitwise
        # identical to the oracle's CAST(s // cnt AS DOUBLE)/Q - 2.0
        new[r.cid][r.j] = float(r.s // r.cnt) / KM_Q - KM_OFFSET
    return new


def train_centroids(n: DataFrame, iters: int = KM_ITERS) -> list[list[float]]:
    cents = initial_centroids(n)
    if not cents:  # empty corpus: nothing to train (see sim4's guard)
        return cents
    for _ in range(iters):
        cents = lloyd_update(n, cents)
    return cents


def sim4_ivf_kmeans_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF top-k with k-means-trained coarse quantizer: KM_ITERS Lloyd
    iterations, then sim3's probe — assign lists under the trained
    centroids, rank each query's centroids, exact cosine within the
    NPROBE probed lists only."""
    # Persist the normalized corpus for the duration of training: the
    # driver loop runs one job per Lloyd iteration (plus the seed
    # collect and the final probe), and without the cache each job
    # would re-run the scan+normalize+repartition lineage — measured
    # 7.8 s -> ~3 s at sf0.1.  Released via the same
    # checkpoint-then-unpersist pattern as the recursion operators.
    from .recursive import finalize_recursion

    n = _emb_normalized(spark, sf_dir).persist()
    cents = train_centroids(n)
    if not cents:
        # Empty corpus: no seed vectors -> no centroids; the literal
        # centroid array would be empty and array_max(array()) fails
        # to type.  Return the result shape with zero rows (matches
        # the oracle, which yields no rows from the empty CTEs) —
        # found by the round-5 empty-input sweep.
        n.unpersist()
        return spark.createDataFrame(
            [], "query_id long, neighbor_id long, cosine double, rank int"
        )
    lists = n.select(
        "vec_id", "vn", _best_centroid(F.col("vn"), cents).alias("cid")
    )
    queries = n.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("vn").alias("qv")
    )
    return finalize_recursion(_ivf_probe(queries, lists, cents), [n])


def _ivf_probe(
    queries: DataFrame, lists: DataFrame, cents: list[list[float]]
) -> DataFrame:
    """The IVF probe over arbitrary (query_id, qv) queries and
    (vec_id, vn, cid) inverted lists: rank each query's centroids
    (dot DESC, cid ASC on ties), probe the NPROBE best lists, exact
    fold cosine inside those lists only, top-k rank.  Shared by the
    sim4 gate (lists assigned inline from freshly-trained centroids)
    and any persisted-list reader — bit-identical by construction."""
    # per-query centroid ranking: sort (dot, -cid) ascending, reverse
    # -> dot DESC with cid ASC on ties, take NPROBE
    rank_arr = F.array(
        *[
            F.struct(
                _dot_lit(F.col("qv"), c).alias("dot"),
                F.lit(-cid).alias("ncid"),
            )
            for cid, c in enumerate(cents)
        ]
    )
    qprobe = queries.select(
        "query_id",
        "qv",
        F.explode(
            F.slice(F.reverse(F.array_sort(rank_arr)), 1, NPROBE)
        ).alias("best"),
    ).select("query_id", "qv", (-F.col("best.ncid")).alias("cid"))
    pairs = (
        lists.join(F.broadcast(qprobe), "cid")
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            H.dot_fold(F.col("qv"), F.col("vn")).alias("cosine"),
        )
    )
    return _ranked(pairs)


def _sql_assign(prev_c: str, src: str = "e") -> str:
    """Assignment CTE body: nearest centroid in `prev_c` for every
    vector in `src` (dot DESC, cid ASC) — the oracle twin of
    _best_centroid."""
    return f"""
    SELECT vec_id, vn, cid FROM (
        SELECT s.vec_id, s.vn, c.cid,
               ROW_NUMBER() OVER (
                   PARTITION BY s.vec_id
                   ORDER BY {H.sql_dot('s.vn', 'c.cv')} DESC, c.cid ASC
               ) AS rn
        FROM {src} s, {prev_c} c
    ) WHERE rn = 1"""


def _sql_update(assign: str, prev_c: str) -> str:
    """Quantized-mean centroid update twin of lloyd_update."""
    return f"""
    SELECT pd.cid,
           list(CASE WHEN m.cnt IS NULL THEN pd.comp
                     ELSE CAST(m.s // m.cnt AS DOUBLE) / {KM_Q} - {KM_OFFSET}
                END ORDER BY pd.j) AS cv
    FROM (
        SELECT p.cid, d.j, p.cv[CAST(d.j AS INT) + 1] AS comp
        FROM {prev_c} p, dims d
    ) pd
    LEFT JOIN (
        SELECT cid, j,
               SUM(CAST(floor((vn[CAST(j AS INT) + 1] + {KM_OFFSET}) * {KM_Q})
                        AS BIGINT)) AS s,
               COUNT(*) AS cnt
        FROM {assign}, dims
        GROUP BY cid, j
    ) m ON m.cid = pd.cid AND m.j = pd.j
    GROUP BY pd.cid"""


def sql_lloyd_chain() -> tuple[str, str]:
    """(CTE chain, final-centroid CTE name) for KM_ITERS Lloyd
    iterations starting from c0 — the ONE builder the sim4/dd19/dd20
    oracles all share, so a change to the chain shape cannot
    silently diverge them."""
    iter_ctes = []
    prev = "c0"
    for i in range(1, KM_ITERS + 1):
        iter_ctes.append(f"a{i} AS ({_sql_assign(prev)})")
        iter_ctes.append(f"c{i} AS ({_sql_update(f'a{i}', prev)})")
        prev = f"c{i}"
    return ",\n".join(iter_ctes), prev


def _sim4_oracle() -> str:
    chain, prev = sql_lloyd_chain()
    return f"""
WITH {_SQL_NORM_CTE},
dims AS (SELECT unnest(range(0, {DIM})) AS j),
c0 AS (SELECT vec_id AS cid, vn AS cv FROM e WHERE vec_id < {KM_K}),
{chain},
lists AS ({_sql_assign(prev)}),
qp AS (
    SELECT vec_id AS query_id, vn AS qv, cid FROM (
        SELECT s.vec_id, s.vn, c.cid,
               ROW_NUMBER() OVER (
                   PARTITION BY s.vec_id
                   ORDER BY {H.sql_dot('s.vn', 'c.cv')} DESC, c.cid ASC
               ) AS rn
        FROM e s, {prev} c
        WHERE s.vec_id < {N_QUERIES}
    ) WHERE rn <= {NPROBE}
),
pairs AS (
    SELECT qp.query_id, l.vec_id AS neighbor_id,
           {H.sql_dot('qp.qv', 'l.vn')} AS cosine
    FROM lists l JOIN qp ON l.cid = qp.cid
    WHERE l.vec_id <> qp.query_id
),
{_SQL_RANKED}
"""


SIM4_ORACLE = _sim4_oracle()

QUERIES = {"sim4_ivf_kmeans_topk": sim4_ivf_kmeans_topk}
ORACLES = {"sim4_ivf_kmeans_topk": SIM4_ORACLE}
