"""Similarity search over the `embeddings` table (`array<float>`,
dim 64) — the ANN extension of BASELINE.json's north star (no
counterpart in the reference repo).

  sim1_topk_bruteforce   exact cosine top-k: the correctness baseline
  sim2_lsh_topk          random-hyperplane LSH bucketed top-k: the
                         scale path (recall < 1, cost ~ 1/2^bits)

Both are oracle-checked bit-for-bit: vectors are pre-normalized with
the same expression on both engines, cosine is then a single
sequential-fold dot product (verified bitwise identical across
engines, functions/hashing.py), and the LSH hyperplanes are an inline
LCG formula both engines evaluate identically — even bucket
assignment matches exactly.

Scale design (100 TB of embeddings):
  * Normalize ONCE per vector (map-side, persisted with the corpus at
    scale); a candidate pair then costs one 64-wide dot product
    instead of three.
  * sim1 broadcasts the QUERY side (a handful of probe vectors); the
    corpus streams map-side with no shuffle; the only exchange is the
    tiny per-query top-k.  Never materialize the full pair matrix.
  * sim2 buckets the corpus once (one long column), then hash-joins
    query buckets to corpus buckets.  On a cluster, store the corpus
    bucketed-by `bucket` so repeated probes are shuffle-free;
    multi-probe = union of the 16 one-bit-flip buckets per query.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions import hashing as H

N_QUERIES = 5  # probe set: vec_id < 5
TOP_K = 10


def normalize_embeddings(emb: DataFrame) -> DataFrame:
    """L2-normalize any (vec_id, embedding) frame -> (vec_id, vn).

    Norm is projected into a column first: referencing the dot-fold
    inside the transform() lambda would re-run it per element (64x),
    since higher-order functions evaluate captured trees interpreted.
    Repartition so the corpus side of the scoring join is spread
    across all cores — the sf parquet is one small file -> one input
    partition, which would serialize all per-pair dot products onto
    a single task (the probe side is broadcast, so the streamed
    side's partitioning IS the parallelism)."""
    spark = emb.sparkSession
    emb = emb.select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    emb = emb.repartition(
        spark.sparkContext.defaultParallelism, "vec_id"
    )
    return emb.withColumn(
        "nrm", F.sqrt(H.dot_fold(F.col("v"), F.col("v")))
    ).select(
        "vec_id",
        F.transform(F.col("v"), lambda x: x / F.col("nrm")).alias("vn"),
    )


def _emb_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    return normalize_embeddings(load_table(spark, sf_dir, "embeddings"))


_SQL_NORM_CTE = """
e AS (
    SELECT vec_id,
           list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS vn
    FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
)"""


def _ranked(pairs: DataFrame) -> DataFrame:
    w = Window.partitionBy("query_id").orderBy(
        F.desc("cosine"), F.asc("neighbor_id")
    )
    return (
        pairs.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= TOP_K)
        .select("query_id", "neighbor_id", "cosine", "rank")
    )


_SQL_RANKED = f"""
ranked AS (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY query_id ORDER BY cosine DESC, neighbor_id ASC) AS rank
    FROM pairs
)
SELECT query_id, neighbor_id, cosine, rank FROM ranked WHERE rank <= {TOP_K}
"""


# -- sim1: exact brute-force top-k -----------------------------------
def sim1_topk_bruteforce(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb_normalized(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("vn").alias("qv")
    )
    pairs = (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            H.dot_fold(F.col("qv"), F.col("vn")).alias("cosine"),
        )
    )
    return _ranked(pairs)


SIM1_ORACLE = f"""
WITH {_SQL_NORM_CTE},
q AS (SELECT vec_id AS query_id, vn AS qv FROM e WHERE vec_id < {N_QUERIES}),
pairs AS (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           {H.sql_dot('q.qv', 'e.vn')} AS cosine
    FROM e, q WHERE e.vec_id <> q.query_id
),
{_SQL_RANKED}
"""


# -- sim2: random-hyperplane LSH bucketed top-k ----------------------
def _bucket_col(v: str) -> Column:
    """Sign-of-projection bucket: bit i = (v . r_i) > 0, bucket =
    sum(bit_i * 2^i), over the RP_BITS shared LCG hyperplanes
    (hashing.RP_PLANES — bitwise identical to the formula the oracle
    evaluates inline).  r10: one Arrow/numpy kernel computes all
    RP_BITS fold-order projections and assembles the bucket —
    bit-identical to the previous per-projection interpreted Catalyst
    folds (probe + test_foldkernels), ~100x cheaper per row
    (guide §4.2)."""
    from ..functions.foldkernels import bucket_np

    return bucket_np(H.RP_PLANES[: H.RP_BITS])(F.col(v))


def sim2_lsh_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = _emb_normalized(spark, sf_dir).withColumn("bucket", _bucket_col("vn"))
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("vn").alias("qv"),
        F.col("bucket").alias("qbucket"),
    )
    pairs = (
        emb.join(F.broadcast(q), emb["bucket"] == q["qbucket"])
        .filter(F.col("vec_id") != F.col("query_id"))
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            H.dot_fold(F.col("qv"), F.col("vn")).alias("cosine"),
        )
    )
    return _ranked(pairs)


def _sim2_oracle() -> str:
    # Same bucket formula, emitted for DuckDB: projections are
    # sequential folds over (vn[j] * r(i, j)).
    bucket = H.sql_rp_bucket("vn")
    return f"""
WITH {_SQL_NORM_CTE},
eb AS (SELECT vec_id, vn, {bucket} AS bucket FROM e),
q AS (SELECT vec_id AS query_id, vn AS qv, bucket AS qbucket
      FROM eb WHERE vec_id < {N_QUERIES}),
pairs AS (
    SELECT q.query_id, eb.vec_id AS neighbor_id,
           {H.sql_dot('q.qv', 'eb.vn')} AS cosine
    FROM eb JOIN q ON eb.bucket = q.qbucket
    WHERE eb.vec_id <> q.query_id
),
{_SQL_RANKED}
"""


SIM2_ORACLE = _sim2_oracle()

# -- sim3: IVF (inverted-file) bucketed top-k ------------------------
IVF_K = 16  # coarse-quantizer centroids
NPROBE = 2  # probed lists per query


def sim3_ivf_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN: assign every vector to its nearest coarse centroid
    (inverted lists), probe the NPROBE best lists per query, exact
    cosine only within the probed lists.

    The coarse quantizer is training-free — the IVF_K lowest-id
    normalized vectors serve as centroids — so assignment is exactly
    reproducible on both engines (fold dot products + a deterministic
    (dot DESC, cid ASC) tie-break) and the driver can hash-match the
    result.  At 100 TB the centroids come from sampled k-means
    instead, and everything else is unchanged: assignment is one
    broadcast map-side pass over the corpus, lists land bucketed by
    centroid id so each probe touches ~NPROBE/IVF_K of the data with
    no shuffle, and recall/cost tunes via (IVF_K, NPROBE)."""
    emb = _emb_normalized(spark, sf_dir)
    cent = emb.filter(F.col("vec_id") < IVF_K).select(
        F.col("vec_id").alias("cid"), F.col("vn").alias("cv")
    )
    scored = emb.crossJoin(F.broadcast(cent)).select(
        "vec_id",
        "vn",
        "cid",
        H.dot_fold(F.col("vn"), F.col("cv")).alias("cdot"),
    )
    w = Window.partitionBy("vec_id").orderBy(F.desc("cdot"), F.asc("cid"))
    ranked_cent = scored.withColumn("crank", F.row_number().over(w))
    lists = ranked_cent.filter(F.col("crank") == 1).select("vec_id", "vn", "cid")
    qprobe = (
        ranked_cent.filter(
            (F.col("vec_id") < N_QUERIES) & (F.col("crank") <= NPROBE)
        )
        .select(F.col("vec_id").alias("query_id"), F.col("vn").alias("qv"), "cid")
    )
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


SIM3_ORACLE = f"""
WITH {_SQL_NORM_CTE},
c AS (SELECT vec_id AS cid, vn AS cv FROM e WHERE vec_id < {IVF_K}),
scored AS (
    SELECT e.vec_id, e.vn, c.cid, {H.sql_dot('e.vn', 'c.cv')} AS cdot
    FROM e, c
),
rc AS (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY vec_id ORDER BY cdot DESC, cid ASC) AS crank
    FROM scored
),
lists AS (SELECT vec_id, vn, cid FROM rc WHERE crank = 1),
qprobe AS (
    SELECT vec_id AS query_id, vn AS qv, cid
    FROM rc WHERE vec_id < {N_QUERIES} AND crank <= {NPROBE}
),
pairs AS (
    SELECT q.query_id, l.vec_id AS neighbor_id,
           {H.sql_dot('q.qv', 'l.vn')} AS cosine
    FROM lists l JOIN qprobe q ON l.cid = q.cid
    WHERE l.vec_id <> q.query_id
),
{_SQL_RANKED}
"""


# -- sim5: radius (range) search --------------------------------------
RADIUS_T = 0.35


def sim5_radius_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ALL corpus neighbors within a cosine radius of each probe — the
    range-query retrieval mode (recall-complete context gathering,
    near-dup audits) where sim1-4 answer top-k.  Same broadcast-probe
    map-side scan as sim1: the corpus streams, each partition emits
    its qualifying pairs, no shuffle of the corpus and no window at
    all (radius search needs no rank).

    The filter evaluates the fold ONCE per (probe, vector) and the
    projection re-evaluates only for the qualifying survivors (the
    _exact_rescore lesson); count per query is data-dependent by
    design — that is what distinguishes range search from top-k."""
    emb = _emb_normalized(spark, sf_dir)
    q = emb.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"), F.col("vn").alias("qv")
    )
    d = H.dot_fold(F.col("qv"), F.col("vn"))
    return (
        emb.crossJoin(F.broadcast(q))
        .filter(F.col("vec_id") != F.col("query_id"))
        .filter(d >= RADIUS_T)
        .select(
            "query_id",
            F.col("vec_id").alias("neighbor_id"),
            d.alias("cosine"),
        )
    )


SIM5_ORACLE = f"""
WITH {_SQL_NORM_CTE},
q AS (SELECT vec_id AS query_id, vn AS qv FROM e WHERE vec_id < {N_QUERIES})
SELECT q.query_id, e.vec_id AS neighbor_id,
       {H.sql_dot('q.qv', 'e.vn')} AS cosine
FROM e CROSS JOIN q
WHERE e.vec_id <> q.query_id
  AND {H.sql_dot('q.qv', 'e.vn')} >= {RADIUS_T}
"""


# -- sim7: self-kNN graph over LSH candidates -------------------------
SIM7_K = 3


def sim7_knn_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every vector's top-SIM7_K nearest CANDIDATE neighbors by exact
    cosine — the kNN graph that seeds clustering, manifold layouts
    and graph-based ANN serving.  Candidates come from dd6's banded
    hyperplane LSH (sublinear; no O(n^2) stage), symmetrized so both
    endpoints of a candidate pair get the neighbor; the exact
    sequential-fold cosine then ranks within each source vector.

    Approximation contract, stated not hidden: vectors whose true
    neighbors share no LSH band are missing those edges (sim9
    measures that recall); vectors with
    fewer than K candidates emit fewer than K rows.  Ranking ties
    break by neighbor id — a total order on both engines since the
    fold cosine is bitwise identical.

    Scale: band-key equi-join for candidates (id-only exchange), one
    hash join per side to re-attach vectors, rank window partitioned
    by source — per-vector state is its candidate list, never the
    corpus."""
    from .dedup import _load_normalized, _lsh_band_candidates

    n = _load_normalized(spark, sf_dir).localCheckpoint(eager=True)
    # Scoring/ranking shared verbatim with sim8 (the scale-safe
    # variant); ONLY candidate generation differs between the two.
    return _knn_rank_pairs(n, _lsh_band_candidates(n))


def _sim7_oracle() -> str:
    from .dedup import DD6_BAND_BITS, DD6_BANDS, _SQL_NORMALIZED

    mask = (1 << DD6_BAND_BITS) - 1
    return f"""
WITH {_SQL_NORMALIZED},
eb AS (
    SELECT vec_id, vn, {H.sql_rp_bucket('vn')} AS bucket FROM normalized
),
bands AS (
    SELECT vec_id,
           unnest(list_transform(range(0, {DD6_BANDS}), i ->
               ((bucket >> (CAST(i AS INT) * {DD6_BAND_BITS})) & {mask})
               + (i << {DD6_BAND_BITS}))) AS band_key
    FROM eb
),
cand AS (
    SELECT DISTINCT a.vec_id AS vec_a, c.vec_id AS vec_b
    FROM bands a JOIN bands c
      ON a.band_key = c.band_key AND a.vec_id < c.vec_id
),
sym AS (
    SELECT vec_a AS src, vec_b AS dst FROM cand
    UNION ALL
    SELECT vec_b AS src, vec_a AS dst FROM cand
),
scored AS (
    SELECT s.src, s.dst, {H.sql_dot('a.vn', 'b.vn')} AS cosine
    FROM sym s
    JOIN normalized a ON s.src = a.vec_id
    JOIN normalized b ON s.dst = b.vec_id
),
ranked AS (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY src ORDER BY cosine DESC, dst ASC) AS rank
    FROM scored
)
SELECT src, dst, cosine, rank FROM ranked WHERE rank <= {SIM7_K}
"""


# -- sim8: scale-safe kNN graph (auto-sized banding + occupancy cap) --
# WHY (VERDICT r6 "What's wrong" #1): sim7 consumes dd6's FROZEN
# banding, measured super-linear (exponent 1.41 over sf0.1 -> sf1,
# same fixed-bucket-space cause as dd6/dd14's diagnosis).  sim8 is
# the dd14/dd16 treatment applied to the kNN graph:
#   * bits-per-band derived from the corpus count (dd14's _auto_bits
#     rule) so per-bucket occupancy stays constant as n grows;
#   * a per-bucket occupancy cap: buckets at/under SIM8_OCC_CAP
#     contribute every pair; DENSE buckets (true near-dup clusters
#     that no amount of extra bits splits — the measured dd14 sf10
#     failure) contribute a deterministic RING instead — members
#     sorted by vec_id, each paired with its SIM8_RING successors.
# dd16's star reduction does NOT transfer: kNN needs real per-pair
# cosines, and a star gives non-hub members only one candidate.  The
# ring gives every member >= min(2*SIM8_RING, m-1) in-cluster
# candidates, bounding bucket pair mass at m*SIM8_RING instead of
# m^2/2 while keeping per-source candidates constant.
#
# Approximation contract, stated not hidden: inside an over-cap
# bucket the ring samples the clique by vec_id adjacency, so a
# member's top-K may miss an in-bucket neighbor outside its ring
# window UNLESS they co-occur in another small bucket (8 bands give
# 8 chances).  In the dense regime that triggers the cap, members
# are mutually similar by construction (that is WHY the bucket
# cannot split), so ranked candidates are near-ties — the same
# canopy compromise dd16 documents for dedup.  Below the cap the
# candidate set is EXACTLY dd14's auto-sized band candidates
# (pytest-pinned), and the scoring/ranking composition is pinned
# bit-identical to sim7's over any shared candidate set.
# The cap sits a 4x MARGIN above dd14's occupancy TARGET (AUTO_OCC),
# not at it: _auto_bits sizes buckets so the AVERAGE occupancy lands
# near AUTO_OCC, so a cap equal to the target bites half the ordinary
# buckets instead of the dense tail.  Measured by the sim9 recall
# audit at sf0.1 (2k vectors, avg occupancy 62 vs the original
# cap 64): graph recall 0.178 capped-at-target vs 0.577 with the
# margin — while the margin still bounds a dense cluster's pair mass
# at m*ring beyond 4*AUTO_OCC members (the dd14 sf10 failure mode was
# 742M candidates from unbounded true-dup cliques, orders past the
# margin).  Asserted against dedup.AUTO_OCC below so the two
# constants cannot drift apart silently.
SIM8_OCC_CAP = 256
SIM8_RING = 2 * SIM7_K
# Multi-probe banding (VERDICT r7 #4): SIM8_PROBES independent plane
# FAMILIES, each AUTO_BANDS bands wide, unioned before candidate
# generation.  The shared LCG plane family is prefix-stable (plane i
# is the same row for every caller), so family f simply draws bands
# [f*8, (f+1)*8) — fresh planes, zero overlap with family 0, and the
# f=0 keys stay bit-identical to the single-family gate.  Per-family
# miss rates are independent, so graph recall stacks as
# 1 - miss^PROBES while candidate mass — and therefore cost — grows
# only LINEARLY in PROBES; the occupancy cap still bounds every
# bucket, so the scale exponents are unchanged.  This is the standard
# LSH recall/cost dial: buy recall with bands, not with wider buckets.
#
# Measured by sim9 (mean recall@3 vs exact, 500-source audit):
#   PROBES        1       2       3
#   sf0.001     —       0.726   0.765
#   sf0.01      —       0.740   0.798
#   sf0.1      0.455    0.584   0.620
# Families are not fully independent — the hard edges (moderate-
# cosine neighbors, over-cap dense buckets where the ring samples the
# clique) stay hard in every family — so the per-family miss ratio is
# ~0.76-0.9, not the theoretical miss^2.  PROBES=3 clears the 0.6
# floor at every measured SF (VERDICT r7 #4); the floor is pinned by
# tests/test_plans.py::test_sim9_recall_pins_the_ring_trade.
SIM8_PROBES = 3


def _sim8_capped_ring_candidates(
    bands: DataFrame, cap: int = SIM8_OCC_CAP, ring: int = SIM8_RING
) -> DataFrame:
    """(vec_a < vec_b) candidate pairs from a (vec_id, band_key)
    assignment with per-bucket occupancy capping: full pairs for
    buckets <= cap, vec_id-ordered ring pairs (distance <= ring) for
    dense buckets.  Id-only exchange discipline throughout — the
    occupancy count, the position window and both joins move two
    longs per row, never vectors; output is bounded by
    max(cap, 2*ring)/2 pairs per member per band.  occ and pos are
    both window functions over the SAME band_key partitioning so they
    share one Exchange (a groupBy-count + join-back would shuffle the
    assignment twice for the same answer)."""
    wk = Window.partitionBy("band_key")
    # r10: the windowed assignment is referenced FOUR ways below
    # (small a/c self-join sides, over-cap left/right) and Catalyst
    # shares none of them — sim8's initial plan carried 8
    # ArrowEvalPython banding-kernel executions of the full corpus
    # plus 4 window passes.  One eager checkpoint runs the kernel and
    # the window once; the frame is (band_key, vec_id, occ, pos)
    # longs, id-only scale discipline unchanged
    # (plans/r10/sim8_knn_graph_capped_{before,after}.txt).
    banded = bands.select(
        "band_key",
        "vec_id",
        F.count(F.lit(1)).over(wk).alias("occ"),
        F.row_number().over(wk.orderBy(F.asc("vec_id"))).alias("pos"),
    ).localCheckpoint(eager=True)
    small = banded.where(F.col("occ") <= cap)
    a, c = small.alias("a"), small.alias("c")
    small_pairs = a.join(
        c,
        (F.col("a.band_key") == F.col("c.band_key"))
        & (F.col("a.vec_id") < F.col("c.vec_id")),
    ).select(F.col("a.vec_id").alias("vec_a"), F.col("c.vec_id").alias("vec_b"))
    over = banded.where(F.col("occ") > cap)
    # pos is assigned in vec_id order, so the equi-join below always
    # pairs a smaller vec_id (vec_a) with a larger one (vec_b) —
    # vec_a < vec_b holds by construction, no extra filter.
    left = over.select(
        "band_key",
        F.col("vec_id").alias("vec_a"),
        F.explode(
            F.array(*[F.col("pos") + F.lit(j) for j in range(1, ring + 1)])
        ).alias("dpos"),
    )
    right = over.select(
        "band_key", F.col("vec_id").alias("vec_b"), F.col("pos").alias("dpos")
    )
    ring_pairs = left.join(right, ["band_key", "dpos"]).select(
        "vec_a", "vec_b"
    )
    return small_pairs.unionByName(ring_pairs).distinct()


def _knn_rank_pairs(n: DataFrame, cand: DataFrame) -> DataFrame:
    """sim7's symmetrize + exact-fold score + per-source top-K over an
    arbitrary (vec_a, vec_b) candidate frame — shared verbatim by
    sim7 (dd6 frozen banding) and sim8 (auto-sized capped banding),
    so the two gates differ ONLY in candidate generation and the
    ranking semantics are bit-identical by construction."""
    sym = cand.unionByName(
        cand.select(
            F.col("vec_b").alias("vec_a"), F.col("vec_a").alias("vec_b")
        )
    ).select(F.col("vec_a").alias("src"), F.col("vec_b").alias("dst"))
    a = n.select(F.col("vec_id").alias("src"), F.col("vn").alias("va"))
    b = n.select(F.col("vec_id").alias("dst"), F.col("vn").alias("vb"))
    scored = (
        sym.join(a, "src")
        .join(b, "dst")
        .select(
            "src", "dst", H.dot_fold(F.col("va"), F.col("vb")).alias("cosine")
        )
    )
    w = Window.partitionBy("src").orderBy(F.desc("cosine"), F.asc("dst"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= SIM7_K)
        .select("src", "dst", "cosine", "rank")
    )


def sim8_knn_graph_capped(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Every vector's top-SIM7_K nearest candidate neighbors, with
    scale-adaptive banding and bounded per-bucket candidate mass —
    the production parameterization of sim7 (see the comment block
    above for the measured super-linearity this fixes and the ring
    approximation contract).  One bounded driver action (the count)
    picks the band width; everything downstream is id-only band
    machinery plus the shared scoring/ranking composition."""
    from .dedup import (
        AUTO_BANDS,
        AUTO_OCC,
        _auto_bands,
        _auto_bits,
        _load_normalized,
    )

    assert SIM8_OCC_CAP == 4 * AUTO_OCC  # margin above the sizing target
    n = _load_normalized(spark, sf_dir).localCheckpoint(eager=True)
    bits = _auto_bits(n.count())
    cand = _sim8_capped_ring_candidates(
        _auto_bands(n, bits, AUTO_BANDS * SIM8_PROBES)
    )
    return _knn_rank_pairs(n, cand)


def _sim8_oracle() -> str:
    # Reuse dd14's oracle head (normalized + integer bit-sizing meta +
    # auto-sized bands CTEs) exactly as dd16 does — widened to the
    # multi-probe band count — then the capped/ring candidate stage
    # and sim7's ranking tail.
    from .dedup import AUTO_BANDS, _dd14_oracle

    base = _dd14_oracle(AUTO_BANDS * SIM8_PROBES)
    head, _, _ = base.partition("cand AS (")
    return (
        head
        + f"""occ AS (
    SELECT band_key, COUNT(*) AS occ FROM bands GROUP BY band_key
),
small_pairs AS (
    SELECT a.vec_id AS vec_a, c.vec_id AS vec_b
    FROM bands a
    JOIN occ o ON a.band_key = o.band_key
    JOIN bands c ON a.band_key = c.band_key AND a.vec_id < c.vec_id
    WHERE o.occ <= {SIM8_OCC_CAP}
),
obands AS (
    SELECT b.vec_id, b.band_key,
           ROW_NUMBER() OVER (
               PARTITION BY b.band_key ORDER BY b.vec_id) AS pos
    FROM bands b JOIN occ o ON b.band_key = o.band_key
    WHERE o.occ > {SIM8_OCC_CAP}
),
ring_pairs AS (
    SELECT a.vec_id AS vec_a, c.vec_id AS vec_b
    FROM obands a JOIN obands c
      ON a.band_key = c.band_key
     AND c.pos - a.pos BETWEEN 1 AND {SIM8_RING}
),
cand AS (
    SELECT DISTINCT vec_a, vec_b FROM (
        SELECT * FROM small_pairs UNION ALL SELECT * FROM ring_pairs
    )
),
sym AS (
    SELECT vec_a AS src, vec_b AS dst FROM cand
    UNION ALL
    SELECT vec_b AS src, vec_a AS dst FROM cand
),
scored AS (
    SELECT s.src, s.dst, {H.sql_dot('a.vn', 'b.vn')} AS cosine
    FROM sym s
    JOIN normalized a ON s.src = a.vec_id
    JOIN normalized b ON s.dst = b.vec_id
),
ranked AS (
    SELECT *, ROW_NUMBER() OVER (
        PARTITION BY src ORDER BY cosine DESC, dst ASC) AS rank
    FROM scored
)
SELECT src, dst, cosine, rank FROM ranked WHERE rank <= {SIM7_K}
"""
    )


# -- sim9: measured recall of the capped kNN graph --------------------
SIM9_SAMPLE = 500  # bounded source sample (qa15's audit pattern)


def sim9_knn_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-source recall of sim8's capped-ring kNN edges against the
    EXACT top-K — the quantified approximation contract for the ring
    trade (qa15 plays this role for the MinHash banding): a
    banding/cap change that silently tanks graph recall
    now fails a correctness gate instead of a prose promise.

    Truth side is LINEAR in the corpus at any scale: SIM9_SAMPLE
    query vectors x one corpus map pass (sim1's shape — no pair
    matrix, no shuffle before the top-K window); found = sim8's
    edges restricted to the sampled sources (edge membership is
    per-source, so the restriction is exact).

    r10 (guide §4.2): the sample's vectors ride as a LITERAL panel
    into ONE Arrow kernel (foldkernels.dots_np) that scores all
    SIM9_SAMPLE dots per corpus row in fold order — bit-identical to
    the previous broadcast-join + per-pair interpreted fold (oracle
    unchanged, re-verified), but the hot stage walks 2 Arrow batches
    instead of |corpus| x SIM9_SAMPLE interpreted 64-step tree-walks.
    The driver-side collect is the fixed 500-vector sample (the same
    driver-metadata scale as the k-means centroid lists; it does NOT
    grow with the corpus)."""
    from ..functions.foldkernels import dots_np
    from .dedup import _load_normalized

    n = _load_normalized(spark, sf_dir).localCheckpoint(eager=True)
    qrows = sorted(
        n.filter(F.col("vec_id") < SIM9_SAMPLE)
        .select("vec_id", "vn")
        .collect(),
        key=lambda r: r.vec_id,
    )
    if not qrows:
        # Empty corpus: no sampled sources (matches the oracle's
        # empty q CTE -> empty result).
        exact_topk = spark.createDataFrame([], "src long, dst long")
    else:
        src_ids = F.array(*[F.lit(int(r.vec_id)) for r in qrows])
        dots = dots_np([list(map(float, r.vn)) for r in qrows])
        pairs = (
            n.select(
                F.col("vec_id").alias("dst"),
                F.posexplode(dots(F.col("vn"))).alias("qpos", "cosine"),
            )
            .select(
                F.element_at(src_ids, F.col("qpos") + 1).alias("src"),
                "dst",
                "cosine",
            )
            .filter(F.col("dst") != F.col("src"))
        )
        w = Window.partitionBy("src").orderBy(
            F.desc("cosine"), F.asc("dst")
        )
        exact_topk = (
            pairs.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= SIM7_K)
            .select("src", "dst")
        )
    approx = (
        sim8_knn_graph_capped(spark, sf_dir)
        .filter(F.col("src") < SIM9_SAMPLE)
        .select(F.col("src").alias("a_src"), F.col("dst").alias("a_dst"))
    )
    return (
        exact_topk.join(
            approx,
            (exact_topk.src == approx.a_src)
            & (F.col("dst") == F.col("a_dst")),
            "left",
        )
        .groupBy("src")
        .agg(F.count("a_dst").alias("n_hits"))
        .select(
            "src",
            "n_hits",
            (F.col("n_hits").cast("double") / F.lit(float(SIM7_K))).alias(
                "recall_at_k"
            ),
        )
    )


def _sim9_oracle() -> str:
    from .dedup import _SQL_NORMALIZED

    exact_sql = f"""
WITH {_SQL_NORMALIZED},
q AS (SELECT vec_id AS src, vn AS qv FROM normalized
      WHERE vec_id < {SIM9_SAMPLE}),
pairs AS (
    SELECT q.src, n.vec_id AS dst, {H.sql_dot('q.qv', 'n.vn')} AS cosine
    FROM normalized n, q WHERE n.vec_id <> q.src
),
ranked AS (
    SELECT src, dst, ROW_NUMBER() OVER (
        PARTITION BY src ORDER BY cosine DESC, dst ASC) AS rank
    FROM pairs
)
SELECT src, dst FROM ranked WHERE rank <= {SIM7_K}
"""
    return f"""
SELECT e.src, CAST(COUNT(a.dst) AS BIGINT) AS n_hits,
       CAST(COUNT(a.dst) AS DOUBLE) / {float(SIM7_K)!r} AS recall_at_k
FROM ({exact_sql}) e
LEFT JOIN (
    SELECT src, dst FROM ({_sim8_oracle()}) s WHERE src < {SIM9_SAMPLE}
) a ON e.src = a.src AND e.dst = a.dst
GROUP BY e.src
"""


QUERIES = {
    "sim1_topk_bruteforce": sim1_topk_bruteforce,
    "sim5_radius_search": sim5_radius_search,
    "sim2_lsh_topk": sim2_lsh_topk,
    "sim3_ivf_topk": sim3_ivf_topk,
    "sim7_knn_graph": sim7_knn_graph,
    "sim8_knn_graph_capped": sim8_knn_graph_capped,
    "sim9_knn_recall": sim9_knn_recall,
}
ORACLES = {
    "sim1_topk_bruteforce": SIM1_ORACLE,
    "sim5_radius_search": SIM5_ORACLE,
    "sim2_lsh_topk": SIM2_ORACLE,
    "sim3_ivf_topk": SIM3_ORACLE,
    "sim7_knn_graph": _sim7_oracle(),
    "sim8_knn_graph_capped": _sim8_oracle(),
    "sim9_knn_recall": _sim9_oracle(),
}
