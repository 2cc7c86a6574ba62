"""Deduplication operators over `documents` / `embeddings` — the
LLM-training-data extensions (BASELINE.json north star; the
reference's only dedup is the ROW_NUMBER keep-latest of SURVEY.md
§2.5 W1, covered in plans/silver.py).

  dd1_exact_dedup          hash-groupBy exact duplicate collapse
  dd2_ngram_jaccard_pairs  exact char-5-gram Jaccard, verified over
                           MinHash-LSH candidate pairs
  dd3_minhash_lsh_pairs    banded-LSH candidates + minhash-estimated
                           Jaccard (the pure sketch path)
  dd4_simhash              32-bit SimHash + banded Hamming near-dups
  dd5_embedding_neardup    cosine near-duplicates over embeddings

Every query is oracle-checked bit-for-bit against DuckDB: the
md5-based integer hashing, MinHash modular arithmetic and
sequential-fold cosine are engine-portable by construction
(functions/hashing.py).

Scale design (100 TB) — measured, not guessed: on the sf0.1 corpus
(5,000 docs sharing a tiny vocabulary) the naive all-pairs shingle
join materializes ~770M rows to surface 256 qualifying pairs; the
banded-LSH candidate join materializes 25K.  So:
  * dd1 is one hash-shuffle on a 16-byte digest; map-side partial
    aggregation dedupes before the exchange.
  * dd2/dd3 NEVER join on raw shingles.  Candidates come from the
    banded MinHash join (collision prob 1-(1-j^r)^b, r=4, b=4);
    dd2 then verifies with exact Jaccard on the per-doc hash sets
    (array_intersect on two ~300-element int arrays per candidate),
    dd3 reports the signature-agreement estimate (matches/K).
    Recall is the standard LSH S-curve; at j=0.4 with r=4,b=4 it's
    ~0.1, at j=0.7 ~0.66, at j=0.9 ~0.997 — the knob is (r, b),
    documented here as part of the operator contract.
  * dd4 bands the 32-bit SimHash into 2 x 16-bit halves: by
    pigeonhole any pair at Hamming distance <= 1 shares a half, so
    candidates-then-verify is EXACT for the <= 1 threshold (no
    recall loss), at ~2% of the all-pairs cost on clustered data.
  * dd5 pre-normalizes each vector once (no per-pair norm
    recomputation), so a pair costs one 64-wide fused dot product.
    Brute force is the verify stage; dd6's hyperplane buckets
    (dedup._bucket_col) are the recall path at corpus scale.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..functions import hashing as H
from .text import _norm, _sql_norm, _tokens, _sql_tokens

SHINGLE = 5
JACCARD_T = 0.4
EST_T = 0.25  # minhash estimate threshold (granularity 1/K = 1/16)
HAMMING_T = 1
COSINE_T = 0.40
_H31 = 1 << 31
_H32 = 1 << 32


# -- dd1: exact dedup -------------------------------------------------
def dd1_exact_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    return (
        docs.select("doc_id", F.md5(_norm(F.col("text"))).alias("content_key"))
        .groupBy("content_key")
        .agg(
            F.min("doc_id").alias("canonical_doc_id"),
            F.count(F.lit(1)).alias("n_copies"),
        )
    )


DD1_ORACLE = f"""
SELECT
    md5({_sql_norm('text')}) AS content_key,
    MIN(doc_id) AS canonical_doc_id,
    COUNT(*) AS n_copies
FROM documents
GROUP BY 1
"""


# -- shared shingle/MinHash/LSH machinery ----------------------------
def _shingles(docs: DataFrame) -> DataFrame:
    """(doc_id, shingle): distinct char-5-grams of normalized text.
    Docs shorter than one shingle are dropped on BOTH engines (Spark
    sequence() would otherwise count down).

    The normalized text is projected into a column BEFORE the
    transform(): higher-order functions run interpreted and re-evaluate
    any captured expression tree once per array element, so embedding
    the two regexp_replaces in the lambda costs O(len^2) regex work per
    doc (measured 25x slower at sf0.1).

    Docs are hash-repartitioned by doc_id BEFORE the shingle
    explosion: the exchange moves the raw documents (small), the
    explode preserves the partitioning, and the downstream
    groupBy(doc_id) reuses it — so the ~1000x-larger shingle stream
    never crosses the wire.  (The test corpus is also one parquet
    file -> one input partition; this same line spreads it.)"""
    nt = F.col("nt")
    arr = F.array_distinct(
        F.transform(
            F.sequence(F.lit(1), F.length(nt) - (SHINGLE - 1)),
            lambda i: nt.substr(i, F.lit(SHINGLE)),
        )
    )
    par = docs.sparkSession.sparkContext.defaultParallelism
    return (
        docs.repartition(par, "doc_id")
        .select("doc_id", _norm(F.col("text")).alias("nt"))
        .filter(F.length(nt) >= SHINGLE)
        .select("doc_id", F.explode(arr).alias("shingle"))
    )


def _doc_sketches(docs: DataFrame) -> DataFrame:
    """(doc_id, hs, sig): per-doc shingle-hash set + MinHash signature.

    The K signature slots are plain MIN aggregates of (a_i*h + b_i)
    mod P — whole-stage-codegen'd with map-side partial aggregation,
    so the shingle stream is reduced BEFORE the shuffle.  (The earlier
    formulation — collect_set then K interpreted array_min(transform)
    passes — moved every shingle hash through the exchange and then
    evaluated 16 lambda passes per doc; measured ~2x slower at sf0.1.)
    min over the multiset == min over the set, and the modular
    arithmetic stays in int64 (a < 2^31, h < 2^31), so values are
    bitwise identical to the oracle's set-based formulation."""
    sh = _shingles(docs).withColumn(
        "h", H.md5_long(F.col("shingle")) % F.lit(_H31)
    )
    slots = [
        F.min(
            (F.lit(H.MINHASH_A[i]) * F.col("h") + F.lit(H.MINHASH_B[i]))
            % F.lit(H.MINHASH_P)
        ).alias(f"_s{i}")
        for i in range(H.MINHASH_K)
    ]
    return (
        sh.groupBy("doc_id")
        .agg(F.collect_set("h").alias("hs"), *slots)
        .select(
            "doc_id",
            "hs",
            F.array(*[F.col(f"_s{i}") for i in range(H.MINHASH_K)]).alias("sig"),
        )
    )


def _band_assignments(sk: DataFrame) -> DataFrame:
    """(doc_id, band, band_key) minhash band assignments — the
    id-only frame every pairing policy (full self-join, capped star,
    asymmetric probe) keys on."""
    return sk.select(
        "doc_id",
        F.explode(F.sequence(F.lit(0), F.lit(H.LSH_BANDS - 1))).alias("band"),
        "sig",
    ).select(
        "doc_id",
        "band",
        F.md5(
            F.concat_ws(
                ",",
                F.transform(
                    F.slice(F.col("sig"), F.col("band") * H.LSH_ROWS + 1, H.LSH_ROWS),
                    lambda s: s.cast("string"),
                ),
            )
        ).alias("band_key"),
    )


def _lsh_candidates(sk: DataFrame) -> DataFrame:
    """Banded-LSH candidate pairs carrying both docs' sketches.

    The band self-join and the pair dedup move ONLY (doc_id, band_key)
    — the ~kilobyte hs/sig payloads are re-attached afterwards by two
    hash joins keyed on doc_id.  Shuffling the sketches through the
    band exchange (bands x docs rows, each with the full hash set)
    is the naive plan and costs ~2x at sf0.1; at 100 TB it's the
    difference between exchanging ids and exchanging the corpus.

    The sketch subplan is consumed THREE times below (band build +
    both payload re-attach joins); Catalyst does not share common
    subplans across self-joins, so without materialization the whole
    shingle-explode + 16-way MIN aggregation runs 3x per query
    (measured ~2.5x total query cost at sf0.1).  An eager
    localCheckpoint computes it once into executor storage; the
    blocks release with the RDD via ContextCleaner (same pattern as
    the recursion frontiers), and on a cluster this is the standard
    reuse answer for an expensive shared stage."""
    sk = sk.localCheckpoint(eager=True)
    bands = _band_assignments(sk)
    a = bands.select(F.col("doc_id").alias("doc_a"), "band", "band_key")
    b = bands.select(F.col("doc_id").alias("doc_b"), "band", "band_key")
    pairs = (
        a.join(b, ["band", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
        .dropDuplicates(["doc_a", "doc_b"])
    )
    lhs = sk.select(
        F.col("doc_id").alias("doc_a"),
        F.col("hs").alias("hs_a"),
        F.col("sig").alias("sig_a"),
    )
    rhs = sk.select(
        F.col("doc_id").alias("doc_b"),
        F.col("hs").alias("hs_b"),
        F.col("sig").alias("sig_b"),
    )
    return pairs.join(lhs, "doc_a").join(rhs, "doc_b")


def _sql_band_ctes() -> str:
    """shingled -> sketches -> bands CTE chain (no pairing policy) —
    shared by the self-join oracles below."""
    sig_items = ", ".join(
        f"list_min(list_transform(hs, x -> mod({H.MINHASH_A[i]} * x + "
        f"{H.MINHASH_B[i]}, {H.MINHASH_P})))"
        for i in range(H.MINHASH_K)
    )
    return f"""
shingled AS (
    SELECT doc_id,
           unnest(list_distinct(list_transform(
               range(1, length(nt) - {SHINGLE - 2}),
               i -> substr(nt, CAST(i AS INT), {SHINGLE})))) AS shingle
    FROM (SELECT doc_id, {_sql_norm('text')} AS nt FROM documents)
    WHERE length(nt) >= {SHINGLE}
),
sketches AS (
    SELECT doc_id, hs, [{sig_items}] AS sig
    FROM (
        SELECT doc_id,
               list(DISTINCT mod({H.sql_md5_long('shingle')}, {_H31})) AS hs
        FROM shingled GROUP BY doc_id
    )
),
bands AS (
    SELECT doc_id, hs, sig, band,
           md5(array_to_string(list_transform(
               list_slice(sig, band * {H.LSH_ROWS} + 1, (band + 1) * {H.LSH_ROWS}),
               s -> CAST(s AS VARCHAR)), ',')) AS band_key
    FROM sketches, (SELECT unnest(range(0, {H.LSH_BANDS})) AS band)
)"""


def _sql_sketch_ctes() -> str:
    return f"""{_sql_band_ctes()},
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.hs AS hs_a, b.hs AS hs_b, a.sig AS sig_a, b.sig AS sig_b
    FROM bands a JOIN bands b
      ON a.band = b.band AND a.band_key = b.band_key
     AND a.doc_id < b.doc_id
)"""


# -- dd2: exact n-gram Jaccard over LSH candidates --------------------
def dd2_ngram_jaccard_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cand = _lsh_candidates(_doc_sketches(docs))
    # Materialize the intersection size ONCE per pair: the naive
    # jaccard expression evaluates array_intersect (the per-pair hot
    # loop over two ~|doc| hash sets) up to 3x — numerator, union
    # term, and again inside the pushed-down filter.  Sizing it in a
    # first projection lets the score and the threshold test reuse
    # one scan of the arrays.
    sized = cand.select(
        "doc_a",
        "doc_b",
        F.size(F.array_intersect("hs_a", "hs_b")).alias("ni"),
        F.size("hs_a").alias("na"),
        F.size("hs_b").alias("nb"),
    )
    jac = F.col("ni").cast("double") / (F.col("na") + F.col("nb") - F.col("ni"))
    return (
        sized.withColumn("jaccard", jac)
        .filter(F.col("jaccard") >= JACCARD_T)
        .select("doc_a", "doc_b", "jaccard")
    )


DD2_ORACLE = f"""
WITH {_sql_sketch_ctes()}
SELECT doc_a, doc_b,
       CAST(len(list_intersect(hs_a, hs_b)) AS DOUBLE)
         / (len(hs_a) + len(hs_b) - len(list_intersect(hs_a, hs_b))) AS jaccard
FROM cand
WHERE CAST(len(list_intersect(hs_a, hs_b)) AS DOUBLE)
         / (len(hs_a) + len(hs_b) - len(list_intersect(hs_a, hs_b))) >= {JACCARD_T}
"""


# -- dd3: banded LSH + minhash-estimated Jaccard ----------------------
def _sig_agreement() -> F.Column:
    """Estimated Jaccard = fraction of agreeing MinHash signature
    slots between a candidate pair (columns sig_a / sig_b)."""
    matches = F.size(
        F.filter(
            F.zip_with("sig_a", "sig_b", lambda x, y: (x == y).cast("int")),
            lambda m: m == 1,
        )
    )
    return matches.cast("double") / F.lit(float(H.MINHASH_K))


def dd3_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    cand = _lsh_candidates(_doc_sketches(docs))
    return (
        cand.select("doc_a", "doc_b", _sig_agreement().alias("jaccard_est"))
        .filter(F.col("jaccard_est") >= EST_T)
    )


DD3_ORACLE = f"""
WITH {_sql_sketch_ctes()}
SELECT doc_a, doc_b,
       CAST(len(list_filter(list_zip(sig_a, sig_b), p -> p[1] = p[2]))
            AS DOUBLE) / {float(H.MINHASH_K)} AS jaccard_est
FROM cand
WHERE CAST(len(list_filter(list_zip(sig_a, sig_b), p -> p[1] = p[2]))
            AS DOUBLE) / {float(H.MINHASH_K)} >= {EST_T}
"""


# -- dd17: occupancy-capped minhash LSH (text-side dd16) -------------
# WHY (measured, PERF.md round-6 session 2): dd7's sf10 timeout is an
# INPUT explosion — dd3's band buckets go dense exactly like dd14's
# (500k docs with replicated duplicate structure), so the edge list CC
# must shuffle is quadratic before clustering starts.  Same rule as
# dd16: buckets at/under the cap emit every pair, dense buckets emit a
# star on the bucket's min doc_id — connectivity preserved for the
# clustering pass, candidate mass linear in bucket size.
DD17_CAP = 64


def _capped_lsh_candidates(sk: DataFrame) -> DataFrame:
    """dd3's candidate stage with the dd16 occupancy cap: identical
    id-only exchange discipline (the band join and the occupancy
    aggregate move (doc_id, band, band_key) only; sketches re-attach
    by doc_id afterwards), but per-bucket pair mass is bounded by
    DD17_CAP^2/2 — dense buckets contribute m-1 star edges instead of
    m(m-1)/2."""
    sk = sk.localCheckpoint(eager=True)
    bands = _band_assignments(sk)
    occ = bands.groupBy("band", "band_key").agg(
        F.count(F.lit(1)).alias("occ"), F.min("doc_id").alias("hub")
    )
    banded = bands.join(occ, ["band", "band_key"])
    small = banded.where(F.col("occ") <= DD17_CAP)
    a = small.select(F.col("doc_id").alias("doc_a"), "band", "band_key")
    b = small.select(F.col("doc_id").alias("doc_b"), "band", "band_key")
    small_pairs = (
        a.join(b, ["band", "band_key"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .select("doc_a", "doc_b")
    )
    star = banded.where(
        (F.col("occ") > DD17_CAP) & (F.col("doc_id") != F.col("hub"))
    ).select(F.col("hub").alias("doc_a"), F.col("doc_id").alias("doc_b"))
    pairs = small_pairs.unionByName(star).dropDuplicates(["doc_a", "doc_b"])
    lhs = sk.select(
        F.col("doc_id").alias("doc_a"),
        F.col("hs").alias("hs_a"),
        F.col("sig").alias("sig_a"),
    )
    rhs = sk.select(
        F.col("doc_id").alias("doc_b"),
        F.col("hs").alias("hs_b"),
        F.col("sig").alias("sig_b"),
    )
    return pairs.join(lhs, "doc_a").join(rhs, "doc_b")


def dd17_minhash_capped_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dd3's output contract (doc_a < doc_b, minhash-estimated
    Jaccard >= EST_T) over occupancy-capped candidates — the edge set
    a corpus-scale dedup pipeline feeds the dd7 clustering pass (see
    the dd16/dd17 comment blocks for the measured dense-corpus
    blow-up this guards against, and PERF.md for the sf10 CC
    demonstration).  Below the cap the candidate set — and therefore
    the gate — is identical to dd3 (pytest-pinned at sf0.001)."""
    docs = load_table(spark, sf_dir, "documents")
    cand = _capped_lsh_candidates(_doc_sketches(docs))
    return cand.select(
        "doc_a", "doc_b", _sig_agreement().alias("jaccard_est")
    ).filter(F.col("jaccard_est") >= EST_T)


def _sql_capped_sketch_ctes() -> str:
    return f"""{_sql_band_ctes()},
occ AS (
    SELECT band, band_key, COUNT(*) AS occ, MIN(doc_id) AS hub
    FROM bands GROUP BY band, band_key
),
cpairs AS (
    SELECT DISTINCT doc_a, doc_b FROM (
        SELECT a.doc_id AS doc_a, b.doc_id AS doc_b
        FROM bands a
        JOIN occ o ON a.band = o.band AND a.band_key = o.band_key
        JOIN bands b ON a.band = b.band AND a.band_key = b.band_key
         AND a.doc_id < b.doc_id
        WHERE o.occ <= {DD17_CAP}
        UNION ALL
        SELECT o.hub AS doc_a, b.doc_id AS doc_b
        FROM bands b JOIN occ o
          ON b.band = o.band AND b.band_key = o.band_key
        WHERE o.occ > {DD17_CAP} AND b.doc_id <> o.hub
    )
),
cand AS (
    SELECT p.doc_a, p.doc_b, a.hs AS hs_a, b.hs AS hs_b,
           a.sig AS sig_a, b.sig AS sig_b
    FROM cpairs p
    JOIN sketches a ON p.doc_a = a.doc_id
    JOIN sketches b ON p.doc_b = b.doc_id
)"""


def _dd17_oracle() -> str:
    return f"""
WITH {_sql_capped_sketch_ctes()}
SELECT doc_a, doc_b,
       CAST(len(list_filter(list_zip(sig_a, sig_b), p -> p[1] = p[2]))
            AS DOUBLE) / {float(H.MINHASH_K)} AS jaccard_est
FROM cand
WHERE CAST(len(list_filter(list_zip(sig_a, sig_b), p -> p[1] = p[2]))
            AS DOUBLE) / {float(H.MINHASH_K)} >= {EST_T}
"""


DD17_ORACLE = _dd17_oracle()


# -- dd4: SimHash with banded Hamming near-dups ----------------------
_SIMHASH_EXPR = (
    "aggregate(sequence(0, 31), cast(0 as bigint), (acc, j) -> acc + "
    "if(aggregate(hs, cast(0 as bigint), "
    "    (a, hv) -> a + 2 * (shiftright(hv, j) % 2) - 1) > 0, "
    "shiftleft(cast(1 as bigint), j), cast(0 as bigint)))"
)


def dd4_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = load_table(spark, sf_dir, "documents")
    # Pre-partition by doc_id so the token explosion runs on all
    # cores and the per-doc vote aggregation reuses the partitioning
    # (same rationale as _shingles).
    docs = docs.repartition(spark.sparkContext.defaultParallelism, "doc_id")
    toks = docs.select(
        "doc_id", F.explode(F.array_distinct(_tokens(F.col("text")))).alias("tok")
    )
    sh = (
        toks.withColumn("h", H.md5_long(F.col("tok")) % F.lit(_H32))
        .groupBy("doc_id")
        .agg(F.collect_set("h").alias("hs"))
        .select("doc_id", F.expr(_SIMHASH_EXPR).alias("simhash"))
    )
    # 2 x 16-bit bands: pigeonhole-exact for Hamming distance <= 1.
    bands = sh.select(
        "doc_id",
        "simhash",
        F.explode(
            F.array(
                (F.col("simhash") % F.lit(1 << 16)).alias("lo"),
                ((F.col("simhash") / F.lit(1 << 16)).cast("long") + F.lit(1 << 17)),
            )
        ).alias("band_key"),
    )
    a = bands.select(
        F.col("doc_id").alias("doc_a"), F.col("simhash").alias("sh_a"), "band_key"
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("simhash").alias("sh_b"), "band_key"
    )
    return (
        a.join(b, "band_key")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
        .withColumn("hamming", F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b"))))
        .filter(F.col("hamming") <= HAMMING_T)
        .select("doc_a", "doc_b", "hamming")
    )


DD4_ORACLE = f"""
WITH toks AS (
    SELECT doc_id, unnest(list_distinct({_sql_tokens('text')})) AS tok
    FROM documents
),
h AS (SELECT doc_id, mod({H.sql_md5_long('tok')}, {_H32}) AS h FROM toks),
votes AS (
    SELECT doc_id, j, SUM(2 * ((h >> j) & 1) - 1) AS vote
    FROM h, (SELECT unnest(range(0, 32)) AS j)
    GROUP BY doc_id, j
),
sh AS (
    SELECT doc_id,
           SUM(CASE WHEN vote > 0 THEN (CAST(1 AS BIGINT) << j) ELSE 0 END) AS simhash
    FROM votes GROUP BY doc_id
),
bands AS (
    SELECT doc_id, simhash,
           unnest([mod(simhash, {1 << 16}),
                   (simhash // {1 << 16}) + {1 << 17}]) AS band_key
    FROM sh
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b,
           a.simhash AS sh_a, b.simhash AS sh_b
    FROM bands a JOIN bands b
      ON a.band_key = b.band_key AND a.doc_id < b.doc_id
)
SELECT doc_a, doc_b, bit_count(xor(sh_a, sh_b)) AS hamming
FROM cand
WHERE bit_count(xor(sh_a, sh_b)) <= {HAMMING_T}
"""


# -- dd5: embedding cosine near-dup ----------------------------------
def _normalized(emb: DataFrame) -> DataFrame:
    """Pre-normalize once so a pair costs a single dot product.  The
    norm is projected into a column first — referencing the dot-fold
    inside the transform() lambda would re-run it per element (64x).
    Stays Catalyst (r10, measured): normalize is ~1% of the banding
    cost, and the Arrow twin's per-stage node overhead dominated it
    at bench scale (OPTIMIZATION_r10.md)."""
    return emb.withColumn(
        "nrm", F.sqrt(H.dot_fold(F.col("v"), F.col("v")))
    ).select(
        "vec_id",
        F.transform(F.col("v"), lambda x: x / F.col("nrm")).alias("vn"),
    )


_SQL_NORMALIZED = """
normalized AS (
    SELECT vec_id,
           list_transform(v, x -> x / sqrt(list_dot_product(v, v))) AS vn
    FROM (SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings)
)"""

# Guard for the vectorized candidate stage: BLAS pairwise summation and
# the sequential fold agree to ~dim*ulp (= 64 * 2^-52 ~ 1.4e-14 for
# unit vectors); 1e-9 of slack makes the candidate set a strict
# superset of the exact answer, which the fold-rescore then trims.
_COS_EPS = 1e-9
# Block count for the block-nested-loop pair scoring.  Work = NB*(NB+1)/2
# block pairs (36 tasks at 8 — saturates local[32]); shuffle cost = each
# vector replicated ~NB/2+1 times per side.  On a cluster, raise NB so
# that (n/NB)^2 * dim * 8B fits comfortably per task (~sqrt of total
# pair-flops per core).
_DD5_BLOCKS = 8


def _block_candidates(n: DataFrame, nb: int) -> DataFrame:
    """All-pairs cosine candidates via block-nested-loop + BLAS.

    Every vector lands in block (vec_id mod nb); group (bi, bj) holds
    block bi as the L side and block bj as the R side, and one Arrow
    batch per group computes the (n/nb)^2 dot products as a single
    numpy matmul — no driver collect, no broadcast of the corpus, and
    the quadratic work is spread over nb*(nb+1)/2 independent tasks.
    Output is the (vec_a < vec_b) candidate pair set at threshold
    COSINE_T - eps; the caller rescores with the exact fold."""
    import numpy as np
    import pandas as pd

    blk = n.withColumn("blk", F.pmod(F.col("vec_id"), F.lit(nb)).cast("int"))
    left = blk.select(
        "vec_id",
        "vn",
        F.col("blk").alias("bi"),
        F.explode(F.sequence(F.col("blk"), F.lit(nb - 1))).alias("bj"),
        F.lit(0).alias("side"),
    )
    right = blk.select(
        "vec_id",
        "vn",
        F.explode(F.sequence(F.lit(0), F.col("blk"))).alias("bi"),
        F.col("blk").alias("bj"),
        F.lit(1).alias("side"),
    )
    both = left.unionByName(right)

    thresh = COSINE_T - _COS_EPS

    def score_block(pdf: pd.DataFrame) -> pd.DataFrame:
        lhs = pdf[pdf["side"] == 0]
        rhs = pdf[pdf["side"] == 1]
        empty = pd.DataFrame({"vec_a": [], "vec_b": []}).astype("int64")
        if lhs.empty or rhs.empty:
            return empty
        a = np.stack(lhs["vn"].to_numpy())
        b = np.stack(rhs["vn"].to_numpy())
        ia, jb = np.nonzero(a @ b.T >= thresh)
        va = lhs["vec_id"].to_numpy()[ia]
        vb = rhs["vec_id"].to_numpy()[jb]
        if int(pdf["bi"].iat[0]) == int(pdf["bj"].iat[0]):
            keep = va < vb  # same block: every pair shows up mirrored
            va, vb = va[keep], vb[keep]
        else:
            va, vb = np.minimum(va, vb), np.maximum(va, vb)
        return pd.DataFrame({"vec_a": va, "vec_b": vb})

    return both.groupBy("bi", "bj").applyInPandas(
        score_block, "vec_a long, vec_b long"
    )


def _load_normalized(spark: SparkSession, sf_dir: str) -> DataFrame:
    emb = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", F.col("embedding").cast("array<double>").alias("v")
    )
    return _normalized(emb)


def _exact_rescore(n: DataFrame, cand: DataFrame) -> DataFrame:
    """Shared verify stage: exact fold cosine over a candidate pair
    set, filtered at COSINE_T.  No forced broadcast: dd5's exact
    candidates are tiny (AQE broadcasts them on its own) but a
    coarse-bucketed LSH run can propose millions of pairs — forcing a
    broadcast there floods executor memory.  AQE picks per-run."""
    a = n.select(F.col("vec_id").alias("vec_a"), F.col("vn").alias("va"))
    b = n.select(F.col("vec_id").alias("vec_b"), F.col("vn").alias("vb"))
    withA = a.join(cand, "vec_a")
    # Filter BEFORE projecting the score: project-then-filter runs the
    # interpreted fold twice over EVERY candidate (the threshold
    # pushes below the projection and re-evaluates it); filtering on
    # the raw expression first pays one pass over the candidates and
    # re-evaluates only for the handful of survivors.
    d = H.dot_fold(F.col("va"), F.col("vb"))
    return (
        b.join(withA, "vec_b")
        .filter(d >= COSINE_T)
        .select("vec_a", "vec_b", d.alias("cosine"))
    )


def dd5_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT cosine near-dup pairs, computed candidates-then-verify:
    blocked BLAS matmul proposes (superset, eps-slack threshold), the
    sequential-fold dot product — bitwise identical to the DuckDB
    oracle — scores and filters.  The candidate stage is O(n^2) work
    by construction (that is the price of exactness); at corpus scale
    use dd6_embedding_neardup_lsh, which swaps in banded hyperplane
    buckets (sublinear candidates, recall < 1) around the SAME verify
    stage."""
    # The normalized frame feeds the candidate stage AND both rescore
    # sides; checkpoint it once instead of re-running the norm fold
    # 3x (same shared-subplan rationale as _lsh_candidates).
    n = _load_normalized(spark, sf_dir).localCheckpoint(eager=True)
    cand = _block_candidates(n, _DD5_BLOCKS)
    return _exact_rescore(n, cand)


DD5_ORACLE = f"""
WITH {_SQL_NORMALIZED}
SELECT a.vec_id AS vec_a, b.vec_id AS vec_b,
       {H.sql_dot('a.vn', 'b.vn')} AS cosine
FROM normalized a JOIN normalized b ON a.vec_id < b.vec_id
WHERE {H.sql_dot('a.vn', 'b.vn')} >= {COSINE_T}
"""


# -- dd6: embedding near-dup, banded hyperplane-LSH candidates --------
# The RP_BITS-bit sign signature (_bucket_col — bitwise identical
# on both engines) is cut into DD6_BANDS bands of DD6_BAND_BITS bits;
# two vectors are candidates iff they agree on ALL bits of at least
# one band.  At p = 1 - theta/pi per-bit agreement this gives recall
# 1 - (1 - p^DD6_BAND_BITS)^DD6_BANDS per qualifying pair.  Declared
# semantics (and the oracle) are "exact cosine >= T among banded
# candidates" — recall < 1 vs dd5 is the documented LSH trade.
# Measured at sf0.01: 27/59 of dd5's exact pairs (0.46 — the theory
# value for pairs near T = 0.40; a production near-dup threshold of
# 0.9 predicts ~0.95 recall with these same constants, and recall
# tunes up with more bands exactly as in dd3).
#
# 100 TB parameterization: candidate volume is sum over band-buckets
# of n_b^2, so bucket count per band (2^DD6_BAND_BITS) must scale with
# corpus size — at 10^9+ docs use a wider signature (e.g. 128
# hyperplanes, 8 bands x 16 bits -> 65k buckets/band), which changes
# only these constants.  The band join exchanges (vec_id, band_key)
# pairs ONLY (two longs/row, dd3's discipline); vectors are
# re-attached by the shared rescore afterwards.
DD6_BANDS = 4
DD6_BAND_BITS = H.RP_BITS // DD6_BANDS


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


def _rp_bands(n: DataFrame) -> DataFrame:
    """(vec_id, band_key): dd6's banded hyperplane-LSH keys as a
    frame."""
    mask = (1 << DD6_BAND_BITS) - 1
    sig = n.withColumn("bucket", _bucket_col("vn")).select("vec_id", "bucket")
    band_keys = F.array(
        *[
            (
                F.shiftright(F.col("bucket"), DD6_BAND_BITS * i).bitwiseAND(
                    F.lit(mask)
                )
                + F.lit(i << DD6_BAND_BITS)
            ).cast("long")
            for i in range(DD6_BANDS)
        ]
    )
    return sig.select("vec_id", F.explode(band_keys).alias("band_key"))


def _lsh_band_candidates(n: DataFrame) -> DataFrame:
    # r10: checkpointed for the same two-exchange duplication as
    # _auto_band_candidates (dd6's banding stage ran twice; see that
    # function's comment).
    bands = _rp_bands(n).localCheckpoint(eager=True)
    a, c = bands.alias("a"), bands.alias("c")
    return (
        a.join(
            c,
            (F.col("a.band_key") == F.col("c.band_key"))
            & (F.col("a.vec_id") < F.col("c.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"), F.col("c.vec_id").alias("vec_b")
        )
        .distinct()
    )


def dd6_embedding_neardup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup with SUBLINEAR candidates: banded
    hyperplane-LSH buckets propose, the shared exact fold rescore
    verifies.  Same output shape as dd5; the plan contains no O(n^2)
    stage (asserted in tests/test_plans.py) — this is the operator to
    run at corpus scale."""
    n = _load_normalized(spark, sf_dir).localCheckpoint(eager=True)
    return _exact_rescore(n, _lsh_band_candidates(n))


def _dd6_oracle() -> str:
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
)
SELECT cand.vec_a, cand.vec_b, {H.sql_dot('a.vn', 'b.vn')} AS cosine
FROM cand
JOIN normalized a ON cand.vec_a = a.vec_id
JOIN normalized b ON cand.vec_b = b.vec_id
WHERE {H.sql_dot('a.vn', 'b.vn')} >= {COSINE_T}
"""


DD6_ORACLE = _dd6_oracle()


# -- dd14: auto-sized hyperplane LSH (the deploy-time sizing rule) ----
# dd6's constants are frozen (4 bands x 4 bits -> 16 buckets/band), so
# its candidate volume grows ~quadratically once the corpus outgrows
# the bucket space — measured at sf1: 46.6M candidates, exponent 1.37
# (PERF.md round-6 Diagnosis 1).  The documented fix is a sizing rule,
# implemented here as the production path: hold per-band bucket
# OCCUPANCY constant by growing bits-per-band with the corpus
# (2^bits * AUTO_OCC >= n), keep band count fixed for recall.  The
# rule is integer-only on both engines (no transcendentals), so the
# Spark plan and the DuckDB oracle derive the SAME width from the
# SAME count — the gate stays bit-exact at every scale, which is the
# point: this is the operator whose CONSTANTS adapt, oracled.
#
# RECALL ENVELOPE (measured, PERF.md round-6 recall study): constant
# cost-per-vector is a TRADE.  Collision prob per plane at cosine c
# is p = 1 - arccos(c)/pi; recall = 1-(1-p^bits)^bands.  For
# high-similarity pairs — the dedup regime, c >= 0.9, p >= 0.9 —
# 8 fixed bands hold recall 0.90/0.74 through bits 9/12.  At this
# gate's aggressive COSINE_T = 0.40 (p = 0.63) borderline recall
# DECAYS as bits grow (measured 0.48 at n=2k/bits=5 -> 0.16 at
# n=20k/bits=9, matching theory), and holding it constant would take
# bands ~ (n/occ)^0.66 — candidates O(n^1.66), the LSH exponent
# floor at low thresholds; dd6's frozen constants pay O(n^2) for the
# same flat ~0.46.  Per candidate generated, dd14 recalls ~1.9x more
# true pairs than dd6 at sf1 — the rule buys a better point on the
# cost/recall frontier, not a free lunch.
AUTO_BANDS = 8  # recall at COSINE_T ~ 1-(1-p^bits)^8, p = 1-theta/pi
AUTO_OCC = 64  # target vectors per band-bucket
AUTO_MIN_BITS = 4
AUTO_MAX_BITS = 24  # 2^24 buckets/band * 64 occ ~ 10^9 vectors


def _auto_bits(n_vectors: int) -> int:
    """Smallest bits-per-band with 2^bits * AUTO_OCC >= n, clamped to
    [AUTO_MIN_BITS, AUTO_MAX_BITS].  Integer arithmetic only — the
    oracle computes the identical value with a MIN over range()."""
    b = AUTO_MIN_BITS
    while b < AUTO_MAX_BITS and (1 << b) * AUTO_OCC < n_vectors:
        b += 1
    return b


def _auto_bands(
    n: DataFrame, bits: int, bands_count: int = AUTO_BANDS
) -> DataFrame:
    """(vec_id, band_key) band assignments at a caller-chosen width:
    band k keys on bits [k*bits, (k+1)*bits) of the projection
    signature, offset by k << bits so band keyspaces never collide.
    Id-only discipline: the frame carries two longs, never vectors.

    bands_count > AUTO_BANDS is the MULTI-PROBE extension:
    the shared LCG plane family is prefix-stable (hashing.rp_planes —
    plane i is the same row for every caller), so bands [8, 16) draw
    FRESH planes [8*bits, 16*bits) and form a second independent
    band family; the first 8 bands' keys are bit-identical to the
    single-family call.  Recall stacks as 1-(1-p^bits)^bands_count
    while candidate mass grows only linearly in bands_count.

    r10: the bands_count*bits fold-order projections + bit assembly
    run in ONE Arrow/numpy kernel per row (foldkernels.band_keys_np,
    bit-identical to the previous interpreted per-projection Catalyst
    folds — probe + test_foldkernels); at sf0.1's 24x5 multi-probe
    signature that deletes ~7.7k interpreted tree-walks per row from
    the hottest stage of every auto-banded gate (guide §4.2)."""
    from ..functions.foldkernels import band_keys_np

    planes = H.rp_planes(bands_count * bits)
    keys = band_keys_np(planes, bits, bands_count)(F.col("vn"))
    return n.select("vec_id", F.explode(keys).alias("band_key"))


def _auto_band_candidates(n: DataFrame, bits: int) -> DataFrame:
    """Banded hyperplane-LSH candidate pairs over _auto_bands: every
    same-bucket pair, deduped across bands.  Same id-only exchange
    discipline as dd6: the band join ships (vec_id, band_key) longs,
    never vectors."""
    # r10: the band assignment is eagerly checkpointed because the
    # self-join references it under TWO DIFFERENT exchanges (one
    # broadcast, one hash) — Catalyst does not share the subplan and
    # exchange reuse cannot fire across exchange kinds, so the
    # corpus-wide banding kernel executed twice per gate (initial
    # plan: 2 ArrowEvalPython nodes -> 1 Scan ExistingRDD).  The
    # checkpointed frame is (vec_id, band_key) longs — the id-only
    # discipline keeps it small at any scale.
    bands = _auto_bands(n, bits).localCheckpoint(eager=True)
    a, c = bands.alias("a"), bands.alias("c")
    return (
        a.join(
            c,
            (F.col("a.band_key") == F.col("c.band_key"))
            & (F.col("a.vec_id") < F.col("c.vec_id")),
        )
        .select(
            F.col("a.vec_id").alias("vec_a"), F.col("c.vec_id").alias("vec_b")
        )
        .distinct()
    )


def dd14_lsh_autosized(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding near-dup with SCALE-ADAPTIVE banded LSH: same
    candidates-then-verify shape as dd6, but bits-per-band is derived
    from the corpus size so per-bucket occupancy — and therefore
    candidates-per-vector — stays constant as the corpus grows.  One
    bounded driver action (the count) picks the width; everything
    downstream is the shared id-only band join + exact fold rescore.

    Measured (PERF.md round 6): frozen dd6 is 46.6M candidates /
    exponent 1.37 across the sf0.1 -> sf1 decade; the occupancy rule
    at the same decade holds candidates near-linear — this gate is
    the production parameterization of that diagnosis.  Recall:
    constant cost-per-vector holds recall in the high-similarity
    dedup regime but cedes borderline pairs at the gate's low 0.40
    threshold as n grows (module comment block + PERF.md recall
    study for the measured envelope and the O(n^1.66) constant-
    recall alternative).

    SECOND-DECADE LIMIT (measured, PERF.md round-6 session 2): the
    occupancy rule is noise-limited in DENSE corpora — at n=200k the
    corpus's true near-dup clusters stop splitting (3.3-4.3k vectors
    per bucket, 742M candidates, >1500 s where sf1 took 37 s); extra
    bits flip inside the cluster noise radius and buy nothing.  For
    corpora with large duplicate clusters use dd16_lsh_capped_star:
    same banding, occupancy cap + star reduction, constant
    per-vector candidates across both measured decades."""
    n = _load_normalized(spark, sf_dir).localCheckpoint(eager=True)
    bits = _auto_bits(n.count())
    return _exact_rescore(n, _auto_band_candidates(n, bits))


def _sql_auto_band_ctes() -> str:
    """normalized -> meta (SQL-derived bits) -> bands CTE chain for
    the auto-sized hyperplane banding — dd14's oracle, which dd16
    builds on.  The meta CTE
    derives bits-per-band from COUNT(*) exactly like the Spark side's
    `_auto_bits(n.count())`."""
    # Plane index for band k, local bit t: i = k*bits + t; component
    # r(i, j) is the shared LCG (sql_rp_component) — identical to the
    # literal arrays the Spark side folds over.
    proj = (
        "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
        "list_transform(range(0, {dim}), j -> "
        "vn[CAST(j AS INT) + 1] * {r})), (acc, x) -> acc + x)"
    ).format(
        dim=H.RP_DIM,
        r=H.sql_rp_component("(CAST(k AS INT) * b + CAST(t AS INT))", "j"),
    )
    local = (
        f"list_sum(list_transform(range(0, CAST(b AS BIGINT)), t -> "
        f"CASE WHEN {proj} > 0 THEN (CAST(1 AS BIGINT) << CAST(t AS INT)) "
        f"ELSE CAST(0 AS BIGINT) END))"
    )
    return f"""{_SQL_NORMALIZED},
meta AS (
    SELECT CAST(COALESCE(MIN(i), {AUTO_MAX_BITS}) AS INT) AS b
    FROM range({AUTO_MIN_BITS}, {AUTO_MAX_BITS + 1}) t(i)
    WHERE (CAST(1 AS BIGINT) << CAST(i AS INT)) * {AUTO_OCC}
          >= (SELECT COUNT(*) FROM normalized)
),
bands AS (
    SELECT vec_id,
           unnest(list_transform(range(0, {AUTO_BANDS}), k ->
               (CAST(k AS BIGINT) << b) + {local})) AS band_key
    FROM normalized, meta
)"""


def _dd14_oracle() -> str:
    return f"""
WITH {_sql_auto_band_ctes()},
cand AS (
    SELECT DISTINCT a.vec_id AS vec_a, c.vec_id AS vec_b
    FROM bands a JOIN bands c
      ON a.band_key = c.band_key AND a.vec_id < c.vec_id
)
SELECT cand.vec_a, cand.vec_b, {H.sql_dot('a.vn', 'b.vn')} AS cosine
FROM cand
JOIN normalized a ON cand.vec_a = a.vec_id
JOIN normalized b ON cand.vec_b = b.vec_id
WHERE {H.sql_dot('a.vn', 'b.vn')} >= {COSINE_T}
"""


DD14_ORACLE = _dd14_oracle()


# -- dd16: occupancy-capped LSH with star reduction -------------------
# WHY (measured, PERF.md round-6 sf10 study): dd14's occupancy rule
# assumes adding bits splits buckets, but a bucket whose members are a
# genuinely DENSE near-dup cluster stops splitting once the extra
# plane bits flip inside the cluster's noise radius — at n=200k the
# corpus's dense clusters put 3.3-4.3k vectors in single buckets and
# the full pair expansion hits 742M candidates (3,710/vector; the
# gate ran past 25 min where sf1 took 37 s).  No banded LSH fixes
# that by resizing: within-cluster pairs are IRREDUCIBLE candidates.
# For DEDUP the clique is not needed — connectivity is: a bucket over
# the cap emits a STAR (every member paired to the bucket's min
# vec_id) instead of all pairs, and the downstream connected-
# components pass (dd7) reconstructs the cluster from the star
# exactly as it would from the clique.  Measured candidate counts
# (numpy replication of the plane family, cross-checked exactly):
# sf0.1 120k vs 763k, sf1 1.25M vs 13.2M, sf10 6.0M vs 742M — per-
# vector 60/63/30, CONSTANT across two decades where the uncapped
# expansion grows x56.  Honest trade: a pair inside an over-cap
# bucket survives only through hub transitivity (both ends >= t with
# the hub, or co-located in some other small bucket) — the canopy-
# clustering compromise; recall in the c >= 0.9 dedup regime is
# unaffected because dense-cluster members are mutually similar to
# the hub by construction.
DD16_CAP = AUTO_OCC  # occupancy ceiling: <= CAP all pairs, > CAP star


def _capped_star_candidates(n: DataFrame, bits: int) -> DataFrame:
    """Candidate pairs with per-bucket occupancy cap: buckets at or
    under DD16_CAP contribute every pair; larger buckets contribute
    (member, hub=min vec_id) star edges.  hub < member always, so the
    vec_a < vec_b invariant and the cross-band DISTINCT both hold.
    Shuffle shape: one band-key aggregate (two longs per bucket) plus
    the same id-only band self-join as dd14, now bounded by CAP^2/2
    pairs per bucket."""
    # r10: checkpoint the assignment — referenced by the occupancy
    # aggregate, the banded join, and both self-join sides, the
    # banding kernel otherwise executes SIX times per gate (initial
    # plan had 6 ArrowEvalPython nodes; _auto_band_candidates has the
    # full rationale).
    bands = _auto_bands(n, bits).localCheckpoint(eager=True)
    occ = bands.groupBy("band_key").agg(
        F.count(F.lit(1)).alias("occ"), F.min("vec_id").alias("hub")
    )
    banded = bands.join(occ, "band_key")
    small = banded.where(F.col("occ") <= DD16_CAP)
    a, c = small.alias("a"), small.alias("c")
    small_pairs = a.join(
        c,
        (F.col("a.band_key") == F.col("c.band_key"))
        & (F.col("a.vec_id") < F.col("c.vec_id")),
    ).select(F.col("a.vec_id").alias("vec_a"), F.col("c.vec_id").alias("vec_b"))
    star = banded.where(
        (F.col("occ") > DD16_CAP) & (F.col("vec_id") != F.col("hub"))
    ).select(F.col("hub").alias("vec_a"), F.col("vec_id").alias("vec_b"))
    return small_pairs.unionByName(star).distinct()


def dd16_lsh_capped_star(spark: SparkSession, sf_dir: str) -> DataFrame:
    """dd14's auto-sized banding with an occupancy cap and star
    reduction over dense buckets — the parameterization that stays
    linear when the corpus contains large true near-dup clusters (the
    100 TB case; see the measured blow-up in the comment block
    above).  Output contract matches dd6/dd14 (vec_a < vec_b, exact
    fold cosine >= COSINE_T); the edge SET is the connectivity-
    preserving subset, which is what the dd7 clustering pass
    consumes."""
    n = _load_normalized(spark, sf_dir).localCheckpoint(eager=True)
    bits = _auto_bits(n.count())
    return _exact_rescore(n, _capped_star_candidates(n, bits))


def _dd16_oracle() -> str:
    base = _dd14_oracle()
    head, _, _ = base.partition("cand AS (")
    return (
        head
        + f"""occ AS (
    SELECT band_key, COUNT(*) AS occ, MIN(vec_id) AS hub
    FROM bands GROUP BY band_key
),
cand AS (
    SELECT DISTINCT vec_a, vec_b FROM (
        SELECT a.vec_id AS vec_a, c.vec_id AS vec_b
        FROM bands a
        JOIN occ o ON a.band_key = o.band_key
        JOIN bands c ON a.band_key = c.band_key AND a.vec_id < c.vec_id
        WHERE o.occ <= {DD16_CAP}
        UNION ALL
        SELECT o.hub AS vec_a, b.vec_id AS vec_b
        FROM bands b JOIN occ o ON b.band_key = o.band_key
        WHERE o.occ > {DD16_CAP} AND b.vec_id <> o.hub
    )
)
SELECT cand.vec_a, cand.vec_b, {H.sql_dot('a.vn', 'b.vn')} AS cosine
FROM cand
JOIN normalized a ON cand.vec_a = a.vec_id
JOIN normalized b ON cand.vec_b = b.vec_id
WHERE {H.sql_dot('a.vn', 'b.vn')} >= {COSINE_T}
"""
    )


DD16_ORACLE = _dd16_oracle()


# -- dd7: duplicate clustering (connected components) -----------------
DD7_MAX_ROUNDS = 50


def dd7_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs -> clusters: the step that turns near-dup PAIR lists
    (dd2/dd3/dd6 emit edges) into the per-document verdict a dedup
    pipeline actually applies — every doc labeled with its connected
    component over the dd3 near-dup graph, the min doc_id as the
    canonical representative, and `keep` marking the one row per
    cluster that survives.  Singletons keep themselves.

    Connected components run as driver-coordinated min-label
    propagation with pointer jumping: each round every doc takes the
    minimum label among itself and its neighbors, then compresses by
    TWO extra hops — label(u) <- label(label(label(u))) — so label
    chains shrink ~4x every round and convergence is O(log diameter)
    rounds, not O(diameter).  That matters here concretely: the
    sf0.1 near-dup graph has long chains (plain propagation was
    still mutating at round 6), and it is the difference between ~4
    rounds and ~40 at corpus scale.  Each round is one edge-sized
    shuffle join + MIN aggregate (checkpointed, so the round's two
    label-join references read it once — see the r10 note in
    _propagate_clusters) plus two label-sized hop joins.

    Every round's labels are eagerly localCheckpoint'ed, NOT merely
    persisted: the round plan references the previous labels frame
    twice (neighbor join + compression join), so without plan
    truncation the logical tree doubles per round and Catalyst
    analysis itself OOMs the driver around round 7 (measured).  The
    checkpoint makes each round's plan constant-size, and block
    lifetime follows the DataFrame refs (ContextCleaner frees prior
    rounds; `finalize_recursion` releases the tail) — repeated
    invocations hold no residual storage.

    Convergence is detected through the monotone invariant: every
    label change strictly decreases the label sum, so the fixpoint —
    where neighbor-min and compression are both identity, i.e. every
    doc holds its component minimum — is exactly "sum unchanged",
    one cheap aggregate over the already-materialized round.

    Oracled bit-exactly: the fixpoint IS the component minimum,
    which DuckDB computes as a recursive reachability closure + MIN
    — integer-only logic on both engines.
    """
    docs = load_table(spark, sf_dir, "documents")
    pairs = (
        _lsh_candidates(_doc_sketches(docs))
        .select("doc_a", "doc_b", _sig_agreement().alias("est"))
        .filter(F.col("est") >= EST_T)
        .select("doc_a", "doc_b")
    )
    return _propagate_clusters(spark, docs, pairs)


def _propagate_clusters(
    spark: SparkSession, docs: DataFrame, pairs: DataFrame
) -> DataFrame:
    """dd7's pointer-jumping min-label propagation over an ARBITRARY
    (doc_a, doc_b) pair frame — the inline dd7 gate feeds it pairs
    recomputed from documents; a persisted pair table can feed it the
    same way."""
    from .recursive import finalize_recursion

    edges = (
        pairs.select(F.col("doc_a").alias("u"), F.col("doc_b").alias("v"))
        .unionByName(
            pairs.select(F.col("doc_b").alias("u"), F.col("doc_a").alias("v"))
        )
        .persist()
    )
    # Materialize the persisted edges NOW, while the session shuffle
    # partitioning still applies: the candidate pipeline behind them
    # is corpus-scale work and must not run under the loop's
    # label-sized partition count below.
    edges.count()
    labels = docs.select(
        "doc_id", F.col("doc_id").alias("cluster_id")
    ).localCheckpoint(eager=True)
    # Right-size the propagation rounds' shuffles to the LABEL table
    # (|docs| rows of two longs), not the session's fact-table
    # setting: each round is 2 joins + an agg over that small frame,
    # and at 32 partitions the ~100 near-empty tasks per round cost
    # 2x the round's real work (measured 11.8 s -> 5.8 s at sf0.1).
    # The clamp targets ~2M labels per partition and never exceeds
    # the session setting, so at corpus scale (labels ~ n_docs) the
    # session/default partitioning governs and this is a no-op.
    shuffle_conf = "spark.sql.shuffle.partitions"
    prev_parts = spark.conf.get(shuffle_conf)
    n_labels = labels.count()
    parts = max(4, min(int(prev_parts), n_labels // 2_000_000 + 1))
    spark.conf.set(shuffle_conf, str(parts))
    try:
        from pyspark.sql import Observation

        prev_sum = None
        for rnd in range(DD7_MAX_ROUNDS):
            nbr_min = (
                edges.join(labels, edges["v"] == labels["doc_id"])
                .groupBy("u")
                .agg(F.min("cluster_id").alias("nbr_min"))
            )
            # r10: `m` is eagerly checkpointed because the round
            # references it under TWO DIFFERENT join keys (left side
            # keyed on the label value, hop side keyed on doc_id) —
            # exchange reuse cannot fire across keys, so the
            # EDGE-SIZED neighbor-min join ran twice per round.  The
            # checkpoint runs it once; the hops below are label-table
            # joins reading the materialized blocks.
            #
            # r11 (VERDICT r10 #3): the convergence test moved from
            # the post-hop labels to HERE, riding m's checkpoint job
            # as an observed metric.  Labels are elementwise
            # monotone non-increasing, so sum(m) == sum(prev labels)
            # iff neighbor-min changed nothing — and neighbor-min
            # identity IS the fixpoint: for every edge (u,v) it
            # forces l(u) <= l(v) and l(v) <= l(u), so labels are
            # already constant per component (the component min,
            # since the min label never increases and is present
            # from initialization).  The converged round therefore
            # stops after ONE edge join instead of also paying the
            # hop joins and a second materialization job.
            obs_m = Observation(f"dd7_round_{rnd}_m")
            m = (
                labels.join(
                    nbr_min, labels["doc_id"] == nbr_min["u"], "left"
                )
                .select(
                    "doc_id",
                    F.least(
                        F.col("cluster_id"),
                        F.coalesce(F.col("nbr_min"), F.col("cluster_id")),
                    ).alias("m"),
                )
                .observe(obs_m, F.sum("m").alias("label_sum"))
                .localCheckpoint(eager=True)
            )
            m_sum = obs_m.get["label_sum"] or 0
            if m_sum == prev_sum:
                # neighbor-min was identity: labels (not m) already
                # hold the component minimum — break before the hops.
                break
            hop = m.select(F.col("doc_id").alias("h_id"), F.col("m").alias("h_m"))
            # r10: TWO pointer-jump hops per round instead of one —
            # label chains shrink ~4x per round instead of ~2x, so
            # long-diameter graphs converge in about half the rounds
            # (each round saved is a full edge join + label shuffle at
            # cluster scale) for the price of one extra label-sized
            # join per round.  The fixpoint is unchanged — hops only
            # ever decrease labels, and the stationary point of
            # neighbor-min + any number of hops is the component
            # minimum — so the converged output is bit-identical.
            r1 = m.join(hop, m["m"] == hop["h_id"], "left").select(
                "doc_id",
                F.coalesce(F.col("h_m"), F.col("m")).alias("l1"),
            )
            # The next round's convergence sum rides this checkpoint
            # job as an observed metric — no separate aggregate pass.
            # (r11 probe: a THIRD hop per round was tried and did not
            # reduce the round count at sf0.1 — 5 full rounds either
            # way, so convergence here is propagation-distance-bound,
            # not chain-compression-bound; the extra label-sized join
            # per round was pure cost and was reverted.)
            obs = Observation(f"dd7_round_{rnd}")
            labels = (
                r1.join(hop, r1["l1"] == hop["h_id"], "left")
                .select(
                    "doc_id",
                    F.coalesce(F.col("h_m"), F.col("l1")).alias("cluster_id"),
                )
                .observe(obs, F.sum("cluster_id").alias("label_sum"))
                .localCheckpoint(eager=True)
            )
            prev_sum = obs.get["label_sum"] or 0
        else:
            raise RuntimeError(
                f"dd7 label propagation did not converge in {DD7_MAX_ROUNDS} rounds"
            )
        from pyspark.sql import Window

        w = Window.partitionBy("cluster_id")
        out = labels.select(
            "doc_id",
            "cluster_id",
            F.count(F.lit(1)).over(w).alias("cluster_size"),
            (F.col("doc_id") == F.col("cluster_id")).alias("keep"),
        )
        # finalize inside the scope: the window over doc-scale labels
        # materializes here, under the right-sized partitioning.
        return finalize_recursion(out, [edges])
    finally:
        spark.conf.set(shuffle_conf, prev_parts)


DD7_ORACLE = f"""
WITH RECURSIVE {_sql_sketch_ctes()},
pairs AS (
    SELECT doc_a, doc_b FROM cand
    WHERE CAST(len(list_filter(list_zip(sig_a, sig_b), p -> p[1] = p[2]))
               AS DOUBLE) / {float(H.MINHASH_K)} >= {EST_T}
),
edges AS (
    SELECT doc_a AS u, doc_b AS v FROM pairs
    UNION ALL
    SELECT doc_b AS u, doc_a AS v FROM pairs
),
reach(u, lbl) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT e.u, r.lbl FROM edges e JOIN reach r ON r.u = e.v
),
clusters AS (
    SELECT u AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY u
)
SELECT doc_id, cluster_id,
       COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size,
       doc_id = cluster_id AS keep
FROM clusters
"""


# -- dd8: shingle containment over LSH candidates ---------------------
CONTAIN_T = 0.6


def dd8_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric near-dup: containment C(A,B) = |A∩B| / min(|A|,|B|)
    over the same 5-gram shingle sets as dd2 — catches a short doc
    quoted inside a long one, which Jaccard dilutes below threshold
    (|A∩B|/|A∪B| shrinks as the long doc grows; the min-denominator
    does not).  The standard complement to Jaccard in corpus dedup
    (containment sketches go back to Broder's resemblance/containment
    pair).

    Candidates come from the banded-MinHash join (one (doc_id,
    band_key) exchange, sketches re-attached by hash join — see
    _lsh_candidates).  Honest recall note: MinHash bands target
    Jaccard, so a tiny doc inside a huge one can miss candidacy even
    with containment 1.0; at corpus scale a containment-first pipeline
    seeds candidates from sampled shingles instead.  Both engines
    score the identical candidate set, so the gate checks the scoring
    exactly."""
    docs = load_table(spark, sf_dir, "documents")
    cand = _lsh_candidates(_doc_sketches(docs))
    # Same one-scan-per-pair shape as dd2: size the intersection once
    # so the score and the pushed-down threshold reuse it.
    sized = cand.select(
        "doc_a",
        "doc_b",
        F.size(F.array_intersect("hs_a", "hs_b")).alias("ni"),
        F.least(F.size("hs_a"), F.size("hs_b")).alias("nmin"),
    )
    return (
        sized.withColumn(
            "containment", F.col("ni").cast("double") / F.col("nmin")
        )
        .filter(F.col("containment") >= CONTAIN_T)
        .select("doc_a", "doc_b", "containment")
    )


DD8_ORACLE = f"""
WITH {_sql_sketch_ctes()}
SELECT doc_a, doc_b,
       CAST(len(list_intersect(hs_a, hs_b)) AS DOUBLE)
         / least(len(hs_a), len(hs_b)) AS containment
FROM cand
WHERE CAST(len(list_intersect(hs_a, hs_b)) AS DOUBLE)
         / least(len(hs_a), len(hs_b)) >= {CONTAIN_T}
"""


# -- dd9: blocked-Levenshtein fuzzy matching --------------------------
DD9_PREFIX = 40
DD9_MAX_DIST = 10
DD9_BLOCK_CHARS = 16


def dd9_fuzzy_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classic entity-resolution shape: blocking + edit-distance
    scoring.  Documents are blocked on (lang, length bucket); within
    a block, pairs whose PREFIX edit distance is <= DD9_MAX_DIST
    match.  The prefix cap bounds the O(m*n) Levenshtein DP per pair
    (full-text edit distance on long documents is quadratic in doc
    length — never do that; near-identical docs are near-identical in
    their prefix, and dd2/dd8 cover content-level similarity).

    Honest recall note (standard blocking trade): a true pair whose
    lengths straddle a bucket boundary is missed; production ER runs
    2-3 complementary blockings (length, sorted-token prefix,
    phonetic key) and unions candidates — each is this same plan with
    a different block key.  Both engines score the identical blocked
    candidate set, so the gate checks the scoring exactly.

    Scale: the self-join key (lang, bucket) bounds candidates per
    block; the Levenshtein filter evaluates BEFORE the score is
    projected (survivor-only re-eval, the _exact_rescore lesson)."""
    docs = load_table(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        "lang",
        F.expr(f"n_chars div {DD9_BLOCK_CHARS}").alias("blk"),
        F.substring("text", 1, DD9_PREFIX).alias("pfx"),
    )
    a = d.select(
        "lang", "blk", F.col("doc_id").alias("doc_a"), F.col("pfx").alias("pfx_a")
    )
    b = d.select(
        "lang", "blk", F.col("doc_id").alias("doc_b"), F.col("pfx").alias("pfx_b")
    )
    dist = F.levenshtein("pfx_a", "pfx_b")
    return (
        a.join(b, ["lang", "blk"])
        .filter(F.col("doc_a") < F.col("doc_b"))
        .filter(dist <= DD9_MAX_DIST)
        .select("doc_a", "doc_b", dist.alias("dist"))
    )


DD9_ORACLE = f"""
WITH d AS (
    SELECT doc_id, lang, n_chars // {DD9_BLOCK_CHARS} AS blk,
           substr(text, 1, {DD9_PREFIX}) AS pfx
    FROM documents
)
SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
       CAST(levenshtein(a.pfx, b.pfx) AS INT) AS dist
FROM d a JOIN d b
  ON a.lang = b.lang AND a.blk = b.blk AND a.doc_id < b.doc_id
WHERE levenshtein(a.pfx, b.pfx) <= {DD9_MAX_DIST}
"""


# -- dd10: sorted-neighborhood fuzzy matching -------------------------
DD10_WINDOW = 8  # compare each doc with its next 8 sort neighbors


def dd10_sorted_neighborhood(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The OTHER classic ER candidate generator: sort the records on
    a similarity-correlated key ((lang, n_chars, doc_id) here), then
    compare each record only with its next DD10_WINDOW sort
    neighbors.  Complements dd9's disjoint length-bucket blocking —
    the sliding window catches exactly the near-boundary pairs a
    bucket edge splits; production ER unions both candidate sets.

    Plan shape: the rank-offset join is a PURE EQUI-join — each left
    row explodes into (rank + o) probes for o in 1..W, joined on
    (lang, rank) — never a range/theta join (a BETWEEN on rank plans
    a nested loop or a skewed sort-merge + filter; the offset explode
    is W x |docs| rows of a few columns, bounded and shuffle-friendly)
    — and the scoring filter evaluates before the score projection
    (the _exact_rescore lesson).  The per-lang rank window is
    dim-scale here; at corpus scale the rank comes from a
    range-partitioned sort + per-partition offsets instead of one
    window partition per language."""
    from pyspark.sql import Window

    docs = load_table(spark, sf_dir, "documents")
    w = Window.partitionBy("lang").orderBy("n_chars", "doc_id")
    ranked = docs.select(
        "lang",
        "n_chars",
        "doc_id",
        F.substring("text", 1, DD9_PREFIX).alias("pfx"),
        F.row_number().over(w).alias("rn"),
    )
    probes = ranked.select(
        "lang",
        F.col("doc_id").alias("doc_a"),
        F.col("pfx").alias("pfx_a"),
        "rn",
        F.explode(F.sequence(F.lit(1), F.lit(DD10_WINDOW))).alias("o"),
    ).select(
        "lang",
        "doc_a",
        "pfx_a",
        (F.col("rn") + F.col("o")).alias("rn"),
    )
    right = ranked.select(
        "lang", "rn", F.col("doc_id").alias("doc_b"), F.col("pfx").alias("pfx_b")
    )
    dist = F.levenshtein("pfx_a", "pfx_b")
    return (
        probes.join(right, ["lang", "rn"])
        .filter(dist <= DD9_MAX_DIST)
        .select("doc_a", "doc_b", dist.alias("dist"))
    )


DD10_ORACLE = f"""
WITH ranked AS (
    SELECT lang, n_chars, doc_id, substr(text, 1, {DD9_PREFIX}) AS pfx,
           ROW_NUMBER() OVER (
               PARTITION BY lang ORDER BY n_chars, doc_id) AS rn
    FROM documents
),
probes AS (
    SELECT lang, doc_id AS doc_a, pfx AS pfx_a,
           rn + CAST(o AS INT) AS rn
    FROM ranked, unnest(range(1, {DD10_WINDOW + 1})) AS t(o)
)
SELECT p.doc_a, r.doc_id AS doc_b,
       CAST(levenshtein(p.pfx_a, r.pfx) AS INT) AS dist
FROM probes p JOIN ranked r ON p.lang = r.lang AND p.rn = r.rn
WHERE levenshtein(p.pfx_a, r.pfx) <= {DD9_MAX_DIST}
"""


# -- dd12: triangle census of the near-dup graph ----------------------
def dd12_triangle_census(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global triangle/wedge census of the dd3 near-dup graph: edge
    count, ordered-wedge count, triangle count and the transitivity
    ratio (triangles per wedge) — the graph-quality dial that tells a
    dedup pipeline whether its LSH bands are producing coherent
    clusters (high transitivity: near-dup sets close into cliques) or
    chains of accidental band collisions (low).

    Ordered-edge formulation: with every edge stored once as
    (a < b), each triangle a<b<c is counted exactly once as
    e(a,b) ⋈ e(b,c) ⋈ e(a,c) and each wedge once as e(a,b) ⋈ e(b,c)
    — no /3 or /2 corrections, so both engines count identically in
    plain integers.  The pair frame is checkpointed once (it feeds
    the edge count, the wedge join and the closing probe — the
    _lsh_candidates shared-subplan rule again).

    r10 (guide §2.4, fewer passes): wedge and triangle counts fold
    into ONE pass — the closing probe is a LEFT join against the
    (unique, a<c) closing edges plus count()/count(closed) in a
    single aggregate, so the wedge join executes once instead of
    twice (the old n_wedges/n_triangles pair of actions re-ran the
    e1⋈e2 join).  Left-join cardinality equals the wedge count
    because closing (a, c) keys are distinct edges; count(closed)
    equals the old left_semi count for the same reason.

    Scale: the wedge join shuffles (a, b) pairs on their shared
    vertex; the closing probe is another id-only equi-join.  This is
    the standard distributed triangle count; for skew (one hub vertex
    fanning out) the production refinement is degree-ordering each
    edge before the join — noted, not needed for near-dup graphs
    whose components are bounded by dd7's cluster sizes."""
    docs = load_table(spark, sf_dir, "documents")
    pairs = (
        _lsh_candidates(_doc_sketches(docs))
        .select("doc_a", "doc_b", _sig_agreement().alias("est"))
        .filter(F.col("est") >= EST_T)
        .select("doc_a", "doc_b")
        .localCheckpoint(eager=True)
    )
    e1 = pairs.select(F.col("doc_a").alias("a"), F.col("doc_b").alias("b"))
    e2 = pairs.select(F.col("doc_a").alias("b2"), F.col("doc_b").alias("c"))
    wedges = e1.join(e2, F.col("b") == F.col("b2")).select("a", "b", "c")
    closing = pairs.select(
        F.col("doc_a").alias("a"),
        F.col("doc_b").alias("c"),
        F.lit(1).alias("closed"),
    )
    n_edges = pairs.count()
    wedge_tri = (
        wedges.join(closing, ["a", "c"], "left")
        .agg(
            F.count(F.lit(1)).alias("n_wedges"),
            F.count("closed").alias("n_triangles"),
        )
        .collect()[0]
    )
    n_wedges = wedge_tri["n_wedges"]
    n_triangles = wedge_tri["n_triangles"]
    row = spark.createDataFrame(
        [(n_edges, n_wedges, n_triangles)],
        "n_edges long, n_wedges long, n_triangles long",
    )
    return row.select(
        "n_edges",
        "n_wedges",
        "n_triangles",
        (
            F.col("n_triangles").cast("double")
            / F.nullif(F.col("n_wedges").cast("double"), F.lit(0.0))
        ).alias("transitivity"),
    )


DD12_ORACLE = f"""
WITH {_sql_sketch_ctes()},
pairs AS (
    SELECT doc_a, doc_b FROM cand
    WHERE CAST(len(list_filter(list_zip(sig_a, sig_b), p -> p[1] = p[2]))
               AS DOUBLE) / {float(H.MINHASH_K)} >= {EST_T}
),
wedges AS (
    SELECT e1.doc_a AS a, e1.doc_b AS b, e2.doc_b AS c
    FROM pairs e1 JOIN pairs e2 ON e1.doc_b = e2.doc_a
),
stats AS (
    SELECT (SELECT COUNT(*) FROM pairs) AS n_edges,
           (SELECT COUNT(*) FROM wedges) AS n_wedges,
           (SELECT COUNT(*) FROM wedges w
            WHERE EXISTS (SELECT 1 FROM pairs p
                          WHERE p.doc_a = w.a AND p.doc_b = w.c))
               AS n_triangles
)
SELECT n_edges, n_wedges, n_triangles,
       CAST(n_triangles AS DOUBLE)
           / NULLIF(CAST(n_wedges AS DOUBLE), 0.0) AS transitivity
FROM stats
"""


# -- cs1: quality-ranked canonical selection over dd7 clusters --------
def cs1_canonical_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The dedup pipeline's FINAL verdict: within each near-dup
    cluster (dd7's connected components), keep the HIGHEST-QUALITY
    document rather than dd7's min-id representative — tx2's quality
    score with doc_id tiebreak, the "canonical selection" stage real
    corpora apply so boilerplate-laden copies lose to the clean one.

    Pure composition: dd7's labels (one row per doc) joined to tx2's
    scores (proven bit-identical cross-engine, so the argmax is
    deterministic), ROW_NUMBER per cluster.  Costs one extra
    label-sized shuffle on top of dd7 — the window partitions by
    cluster_id over (id, label, score) triples only.

    The gate recomputes dd7's full closure inline (a pure function of
    the input tables, as the oracle contract requires); a production
    pipeline would read persisted cluster labels into the SAME
    composition below."""
    labels = dd7_dup_clusters(spark, sf_dir).select(
        "doc_id", "cluster_id", "cluster_size"
    )
    return _canonical_from_labels(spark, sf_dir, labels)


def _canonical_from_labels(
    spark: SparkSession, sf_dir: str, labels: DataFrame
) -> DataFrame:
    """cs1's scoring+argmax composition over an arbitrary label frame
    (doc_id, cluster_id, cluster_size) — shared by cs1 and cs2."""
    from pyspark.sql import Window

    from .text import tx2_quality_score

    scored = labels.join(
        tx2_quality_score(spark, sf_dir).select("doc_id", "quality_score"),
        "doc_id",
    )
    w = Window.partitionBy("cluster_id").orderBy(
        F.col("quality_score").desc(), F.col("doc_id").asc()
    )
    return scored.select(
        "doc_id",
        "cluster_id",
        "cluster_size",
        "quality_score",
        (F.row_number().over(w) == 1).alias("selected"),
    )


def _cs1_oracle() -> str:
    from .text import TX2_ORACLE

    # DD7_ORACLE is a complete WITH RECURSIVE ... SELECT; wrap it and
    # tx2's score query as CTE bodies for the ranked composition.
    dd7_body = DD7_ORACLE.strip()
    assert dd7_body.upper().startswith("WITH RECURSIVE")
    ctes = dd7_body[len("WITH RECURSIVE") :]
    # split the trailing top-level SELECT off the CTE list: it starts
    # at the last "SELECT doc_id, cluster_id" occurrence
    cut = ctes.rindex("SELECT doc_id, cluster_id")
    return f"""
WITH RECURSIVE {ctes[:cut].rstrip()},
labeled AS ({ctes[cut:]}),
scored AS ({TX2_ORACLE.strip()})
SELECT l.doc_id, l.cluster_id, l.cluster_size, s.quality_score,
       ROW_NUMBER() OVER (
           PARTITION BY l.cluster_id
           ORDER BY s.quality_score DESC, l.doc_id ASC
       ) = 1 AS selected
FROM labeled l JOIN scored s ON l.doc_id = s.doc_id
"""


CS1_ORACLE = _cs1_oracle()


# -- cs2: the production dedup pipeline, composed and capped ----------
def cs2_capped_canonical_pipeline(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """The corpus-scale dedup verdict as ONE gate: dd17's
    occupancy-capped minhash edges -> dd7's pointer-jumping connected
    components -> cs1's quality-argmax canonical selection.  This is
    the composition PERF.md measured end-to-end at sf10 (dd17 edges +
    CC complete in 221 s where the uncapped dd7 was killed at
    1500 s) — previously prose + three separate gates, now oracled as
    the single pipeline a production corpus actually runs.

    Semantics vs cs1: identical composition code
    (`_propagate_clusters` + `_canonical_from_labels`, shared
    verbatim), differing ONLY in the edge generator — dd17's capped
    candidates instead of dd3's uncapped ones.  Below the cap dd17 ==
    dd3 bit-for-bit, so cs2 == cs1 there.  Above the cap,
    dense buckets contribute hub-star edges whose estimated Jaccard
    still must clear EST_T, trading a documented sliver of recall
    (dd17's contract) for the measured 7x sf10 completion.
    """
    docs = load_table(spark, sf_dir, "documents")
    pairs = dd17_minhash_capped_pairs(spark, sf_dir).select(
        "doc_a", "doc_b"
    )
    labels = _propagate_clusters(spark, docs, pairs).select(
        "doc_id", "cluster_id", "cluster_size"
    )
    return _canonical_from_labels(spark, sf_dir, labels)


def _cs2_oracle() -> str:
    from .text import TX2_ORACLE

    return f"""
WITH RECURSIVE {_sql_capped_sketch_ctes()},
pairs AS (
    SELECT doc_a, doc_b FROM cand
    WHERE CAST(len(list_filter(list_zip(sig_a, sig_b), p -> p[1] = p[2]))
               AS DOUBLE) / {float(H.MINHASH_K)} >= {EST_T}
),
edges AS (
    SELECT doc_a AS u, doc_b AS v FROM pairs
    UNION ALL
    SELECT doc_b AS u, doc_a AS v FROM pairs
),
reach(u, lbl) AS (
    SELECT doc_id, doc_id FROM documents
    UNION
    SELECT e.u, r.lbl FROM edges e JOIN reach r ON r.u = e.v
),
clusters AS (
    SELECT u AS doc_id, MIN(lbl) AS cluster_id FROM reach GROUP BY u
),
labeled AS (
    SELECT doc_id, cluster_id,
           COUNT(*) OVER (PARTITION BY cluster_id) AS cluster_size
    FROM clusters
),
scored AS ({TX2_ORACLE.strip()})
SELECT l.doc_id, l.cluster_id, l.cluster_size, s.quality_score,
       ROW_NUMBER() OVER (
           PARTITION BY l.cluster_id
           ORDER BY s.quality_score DESC, l.doc_id ASC
       ) = 1 AS selected
FROM labeled l JOIN scored s ON l.doc_id = s.doc_id
"""


CS2_ORACLE = _cs2_oracle()


# -- dd13: multi-signal near-dup agreement ----------------------------
def dd13_ensemble_agreement(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Agreement between the two independent near-dup signals — text
    MinHash-LSH pairs (dd3) vs embedding hyperplane-LSH pairs (dd6,
    vec_id == doc_id in the corpus) — the calibration readout an
    ensemble dedup policy is built on: pairs BOTH signals flag are
    near-certain dups; single-signal pairs show where each modality
    sees what the other misses (paraphrase: embedding-only; verbatim
    overlap of short docs: text-only).

    Output: one row of exact counts (text-only / embedding-only /
    both) plus the Jaccard agreement of the two pair sets (one IEEE
    division).

    Scale: composes the two gate pipelines unchanged — both are
    banded-LSH sublinear candidate generators; the FULL OUTER join
    runs on pair keys (|pairs|, not |docs|^2) and the final aggregate
    is a 1-row scalar (audited SinglePartition).

    Like cs1, the gate recomputes BOTH candidate pipelines inline; a
    production pipeline would read persisted pair tables into the
    SAME set algebra below."""
    tp = dd3_minhash_lsh_pairs(spark, sf_dir)
    ep = dd6_embedding_neardup_lsh(spark, sf_dir)
    return _agreement_from_pairs(tp, ep)


def _agreement_from_pairs(tp: DataFrame, ep: DataFrame) -> DataFrame:
    """dd13's set algebra over arbitrary text-pair (doc_a, doc_b, ...)
    and embedding-pair (vec_a, vec_b, ...) frames."""
    tp = tp.select(
        F.col("doc_a").alias("a"), F.col("doc_b").alias("b"),
        F.lit(1).alias("_t"),
    )
    ep = ep.select(
        F.col("vec_a").alias("a"), F.col("vec_b").alias("b"),
        F.lit(1).alias("_e"),
    )
    j = tp.join(ep, ["a", "b"], "full_outer")
    both = F.sum(
        F.when(F.col("_t").isNotNull() & F.col("_e").isNotNull(), 1).otherwise(0)
    )
    t_only = F.sum(
        F.when(F.col("_t").isNotNull() & F.col("_e").isNull(), 1).otherwise(0)
    )
    e_only = F.sum(
        F.when(F.col("_e").isNotNull() & F.col("_t").isNull(), 1).otherwise(0)
    )
    return j.agg(
        t_only.alias("n_text_only"),
        e_only.alias("n_emb_only"),
        both.alias("n_both"),
    ).select(
        "n_text_only",
        "n_emb_only",
        "n_both",
        (
            F.col("n_both").cast("double")
            / (
                F.col("n_text_only") + F.col("n_emb_only") + F.col("n_both")
            ).cast("double")
        ).alias("pair_agreement"),
    )


DD13_ORACLE = f"""
WITH tp AS (
    SELECT doc_a AS a, doc_b AS b FROM ({DD3_ORACLE})
),
ep AS (
    SELECT vec_a AS a, vec_b AS b FROM ({DD6_ORACLE})
),
j AS (
    SELECT tp.a AS ta, ep.a AS ea
    FROM tp FULL OUTER JOIN ep ON tp.a = ep.a AND tp.b = ep.b
),
c AS (
    SELECT
        CAST(SUM(CASE WHEN ta IS NOT NULL AND ea IS NULL
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_text_only,
        CAST(SUM(CASE WHEN ea IS NOT NULL AND ta IS NULL
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_emb_only,
        CAST(SUM(CASE WHEN ta IS NOT NULL AND ea IS NOT NULL
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_both
    FROM j
)
SELECT n_text_only, n_emb_only, n_both,
       CAST(n_both AS DOUBLE)
           / CAST(n_text_only + n_emb_only + n_both AS DOUBLE)
           AS pair_agreement
FROM c
"""


# -- tx20: fuzzy (MinHash) benchmark decontamination ------------------
def tx20_fuzzy_decontamination(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination at NEAR-DUP granularity: a corpus document is
    flagged iff it shares an LSH band bucket with a benchmark doc
    (doc_id % BENCH_MOD == 0, tx6/qa23's split) AND their MinHash
    signatures agree on >= EST_T of slots — catching paraphrased /
    lightly-edited benchmark leakage that exact-gram screens (tx6
    exact join, qa23 bloom) structurally miss, the third rung of the
    decontamination ladder.

    Scale shape is an asymmetric band probe of the eval suite:
    the benchmark side's band assignments AND signatures are both
    BROADCAST (bounded by the suite, 4 band rows + 16 longs per
    bench doc), so the corpus never shuffles — band-bucket match and
    slot agreement evaluate map-side over the corpus sketch pass,
    and the only exchange is the final per-doc aggregation of the
    (tiny) flagged set.  Per-doc output (match count + max estimate)
    rather than pairs, so the result is the curation verdict a
    pipeline consumes directly."""
    from .text import BENCH_MOD

    docs = load_table(spark, sf_dir, "documents")
    sk = _doc_sketches(docs).localCheckpoint(eager=True)
    bands = _band_assignments(sk)
    is_bench = F.col("doc_id") % BENCH_MOD == 0
    bench_bands = bands.where(is_bench).select(
        F.col("doc_id").alias("bench_id"), "band", "band_key"
    )
    pairs = (
        bands.where(~is_bench)
        .join(F.broadcast(bench_bands), ["band", "band_key"])
        .select("doc_id", "bench_id")
        .distinct()
    )
    sig = sk.select("doc_id", "sig")
    cand = pairs.join(
        F.broadcast(
            sig.select(
                F.col("doc_id").alias("bench_id"), F.col("sig").alias("sig_b")
            )
        ),
        "bench_id",
    ).join(
        sig.select("doc_id", F.col("sig").alias("sig_a")), "doc_id"
    )
    est = cand.select(
        "doc_id", "bench_id", _sig_agreement().alias("est")
    ).where(F.col("est") >= EST_T)
    return est.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_bench_matches"),
        F.max("est").alias("max_jaccard_est"),
    )


def _tx20_oracle() -> str:
    from .text import BENCH_MOD

    return f"""
WITH {_sql_band_ctes()},
cand AS (
    SELECT DISTINCT c.doc_id AS doc_id, b.doc_id AS bench_id,
           c.sig AS sig_a, b.sig AS sig_b
    FROM bands c JOIN bands b
      ON c.band = b.band AND c.band_key = b.band_key
    WHERE c.doc_id % {BENCH_MOD} <> 0 AND b.doc_id % {BENCH_MOD} = 0
),
est AS (
    SELECT doc_id, bench_id,
           CAST(len(list_filter(list_zip(sig_a, sig_b), p -> p[1] = p[2]))
                AS DOUBLE) / {float(H.MINHASH_K)} AS est
    FROM cand
)
SELECT doc_id, COUNT(*) AS n_bench_matches, MAX(est) AS max_jaccard_est
FROM est WHERE est >= {EST_T} GROUP BY 1
"""


QUERIES = {
    "dd1_exact_dedup": dd1_exact_dedup,
    "dd2_ngram_jaccard_pairs": dd2_ngram_jaccard_pairs,
    "dd3_minhash_lsh_pairs": dd3_minhash_lsh_pairs,
    "dd4_simhash": dd4_simhash,
    "dd5_embedding_neardup": dd5_embedding_neardup,
    "dd6_embedding_neardup_lsh": dd6_embedding_neardup_lsh,
    "dd7_dup_clusters": dd7_dup_clusters,
    "dd8_containment_pairs": dd8_containment_pairs,
    "dd9_fuzzy_pairs": dd9_fuzzy_pairs,
    "dd10_sorted_neighborhood": dd10_sorted_neighborhood,
    "cs1_canonical_selection": cs1_canonical_selection,
    "cs2_capped_canonical_pipeline": cs2_capped_canonical_pipeline,
    "dd12_triangle_census": dd12_triangle_census,
    "dd13_ensemble_agreement": dd13_ensemble_agreement,
    "dd14_lsh_autosized": dd14_lsh_autosized,
    "dd16_lsh_capped_star": dd16_lsh_capped_star,
    "dd17_minhash_capped_pairs": dd17_minhash_capped_pairs,
    "tx20_fuzzy_decontamination": tx20_fuzzy_decontamination,
}
ORACLES = {
    "dd1_exact_dedup": DD1_ORACLE,
    "dd2_ngram_jaccard_pairs": DD2_ORACLE,
    "dd3_minhash_lsh_pairs": DD3_ORACLE,
    "dd4_simhash": DD4_ORACLE,
    "dd5_embedding_neardup": DD5_ORACLE,
    "dd6_embedding_neardup_lsh": DD6_ORACLE,
    "dd7_dup_clusters": DD7_ORACLE,
    "dd8_containment_pairs": DD8_ORACLE,
    "dd9_fuzzy_pairs": DD9_ORACLE,
    "dd10_sorted_neighborhood": DD10_ORACLE,
    "cs1_canonical_selection": CS1_ORACLE,
    "cs2_capped_canonical_pipeline": CS2_ORACLE,
    "dd12_triangle_census": DD12_ORACLE,
    "dd13_ensemble_agreement": DD13_ORACLE,
    "dd14_lsh_autosized": DD14_ORACLE,
    "dd16_lsh_capped_star": DD16_ORACLE,
    "dd17_minhash_capped_pairs": DD17_ORACLE,
    "tx20_fuzzy_decontamination": _tx20_oracle(),
}
