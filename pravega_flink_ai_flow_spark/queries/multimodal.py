"""Multimodal-column queries (SURVEY.md L5) — binary payloads with typed
metadata, exercised over ``documents`` (text bytes stand in for media
bytes; the plumbing — BinaryType payloads, hash-dedup keys, frame-sample
plan expansion — is byte-for-byte what an image/audio pipeline uses).

The decode path is REAL for PNG (sequential + Adam7), JPEG (baseline +
progressive), GIF, WebP lossless/VP8L (with the subtract-green,
predictor and color transforms) and PCM16 WAV (pure-python codecs in
``ops.multimodal`` / ``ops.jpeg`` / ``ops.webp``). Each round-trip query
builds on :func:`_per_doc`: per doc it synthesizes deterministic media,
runs it through encode→decode in one ``ops.multimodal.map_rows`` pass,
and emits properties the DuckDB oracle recomputes directly from the
generating formula — so a bug anywhere in the zlib/filter/entropy/RIFF
handling breaks the value hash. The VP8L color-indexing transform and
meta-prefix codes, lossy VP8 and video frames remain a
NotImplementedError seam.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from . import declared, tables
from ..ops.multimodal import (
    _px_stats, decode_image, decode_image_safe, decode_png, decode_wav,
    encode_gif, encode_png, encode_wav, map_rows, resize_nearest,
)
from ..ops.partitioning import spread


def _per_doc(spark: SparkSession, sf_dir: str,
             row: Callable[[int, int], tuple], schema: str, *,
             order: bool = True) -> DataFrame:
    """One ``row(doc_id, n_chars)`` tuple per document, as a frame in
    ``schema`` ordered by doc_id (``order=False`` for a caller that
    windows before its own ordering). The skinny meta rows are spread
    with force: the codec work is interpreter-bound per row, and a file
    scan's partition COUNT can lie (byte splits ≥ cores, row groups in a
    few) — see ops/partitioning.spread."""
    (docs,) = tables(spark, sf_dir, "documents")
    meta = spread(docs.select("doc_id", "n_chars"), force=True)
    out = map_rows(meta, lambda d, n: row(int(d), int(n)), schema)
    return out.orderBy("doc_id") if order else out


def _formula_image(doc_id: int, bw: int, bh: int, a: int, bx: int, by: int,
                   block: int = 1):
    """Grayscale bw×bh-cell raster whose cell (x, y) is
    (doc_id·a + x·bx + y·by) mod 256, each cell filling a block×block
    square: 1 for the lossless codecs, 8 so every JPEG block is constant
    and round-trips bit-exactly at quality 100."""
    y, x = np.mgrid[0:bh, 0:bw]
    px = ((doc_id * a + x * bx + y * by) % 256).astype(np.uint8)
    return np.repeat(np.repeat(px, block, 0), block, 1)


def _formula_oracle(width_sql: str, height_sql: str, a: int, bx: int,
                    by: int, block: int = 1, extra: str = "") -> str:
    """DuckDB oracle of a :func:`_formula_image` round trip: per doc the
    pixel width and height (SQL over ``documents``), the optional
    ``extra`` column (``<expr> AS <name>``), and the mean and
    position-weighted checksum of the raster, recomputed pixel by
    pixel."""
    extra = f", {extra}" if extra else ""
    v = (f"(m.doc_id * {a} + (x.r // {block}) * {bx}"
         f" + (y.r // {block}) * {by}) % 256")
    grid = """FROM unnest(generate_series(0, m.width - 1)) x(r),
                 unnest(generate_series(0, m.height - 1)) y(r)"""
    return f"""
    WITH m AS (
        SELECT doc_id,
               CAST({width_sql} AS INTEGER)  AS width,
               CAST({height_sql} AS INTEGER) AS height{extra}
        FROM documents
    )
    SELECT m.*,
           (SELECT AVG(CAST({v} AS DOUBLE))
            {grid}) AS mean_px,
           (SELECT CAST(SUM(({v}) * (y.r * m.width + x.r)) AS BIGINT)
            {grid}) AS px_checksum
    FROM m ORDER BY m.doc_id
    """


def _mixed_payload(doc_id: int, n_chars: int) -> tuple[bytes, str]:
    """The mixed-format fixture: the 8-px block formula raster encoded
    as PNG (doc_id % 3 == 0), baseline JPEG at quality 100 (== 1) or
    GIF (== 2). Returns the payload and its codec name."""
    from ..ops.jpeg import encode_jpeg

    px = _formula_image(doc_id, n_chars % 3 + 1, (doc_id // 2) % 2 + 1,
                        41, 13, 29, 8)
    route = doc_id % 3
    if route == 0:
        return encode_png(px), "png"
    if route == 1:
        return encode_jpeg(px, 100), "jpeg"
    return encode_gif(px), "gif"


def _formula_wav(doc_id: int, n_chars: int, rate: int):
    """Round-trip the formula clip — n_chars mod 50 + 10 samples, sample
    i = (doc_id·7 + i·11) mod 512 − 256 — through the PCM16 WAV codec.
    Returns the decoded rate and int64 samples."""
    i = np.arange(n_chars % 50 + 10, dtype=np.int64)
    samples = ((doc_id * 7 + i * 11) % 512 - 256).astype("<i2")
    drate, _nch, dec = decode_wav(encode_wav(samples, rate))
    return drate, dec.astype(np.int64)


@declared(
    "l5_binary_meta",
    oracle="""
    SELECT doc_id,
           sha256(text)                       AS content_sha256,
           CAST(octet_length(encode(text)) AS INTEGER) AS n_bytes
    FROM documents
    ORDER BY doc_id
    """,
    survey_ids=("L5", "L1"),
)
def l5_binary_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Opaque-binary handling: payload as BinaryType, content-addressed
    sha256 dedup key + byte length, computed JVM-side (never base64)."""
    (docs,) = tables(spark, sf_dir, "documents")
    payload = F.col("text").cast("binary")
    return docs.select(
        "doc_id",
        F.sha2(payload, 256).alias("content_sha256"),
        F.octet_length(payload).alias("n_bytes"),
    ).orderBy("doc_id")


@declared(
    "l5_image_decode",
    oracle=_formula_oracle("n_chars % 7 + 2", "doc_id % 5 + 2", 31, 7, 13),
    survey_ids=("L5",),
)
def l5_image_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image decode: per doc, synthesize a grayscale PNG whose pixel
    (x,y) = (doc_id·31 + x·7 + y·13) mod 256, run it through the pure-
    python PNG encoder AND decoder (zlib inflate + scanline filters),
    and report width/height/mean/position-weighted checksum FROM THE
    DECODED PIXELS. The oracle recomputes all four from the generating
    formula, so any codec bug — wrong stride, filter reconstruction,
    chunk parsing — flips the hash."""
    def row(doc_id, n_chars):
        px = _formula_image(doc_id, n_chars % 7 + 2, doc_id % 5 + 2,
                            31, 7, 13)
        w, h, _c, arr = decode_png(encode_png(px))
        return (doc_id, w, h, *_px_stats(arr))

    return _per_doc(spark, sf_dir, row,
                    "doc_id long, width int, height int, mean_px double, "
                    "px_checksum long")


@declared(
    "l5_jpeg_decode",
    oracle=_formula_oracle("(n_chars % 3 + 1) * 8", "(doc_id % 2 + 1) * 8",
                           37, 11, 23, 8),
    survey_ids=("L5",),
)
def l5_jpeg_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL baseline-JPEG decode: per doc, synthesize a grayscale image
    whose 8×8 block (bx,by) is the constant (doc_id·37 + bx·11 + by·23)
    mod 256, run it through the pure-python JPEG encoder AND decoder
    (ops/jpeg.py — DCT, quantization, Huffman entropy coding, byte
    stuffing) at quality 100, and report width/height/mean/position-
    weighted checksum FROM THE DECODED PIXELS. At quality 100
    block-constant grayscale round-trips BIT-exactly (all-ones quant
    table, DC-only blocks, no chroma rounding), so the DuckDB oracle
    recomputes all four values from the generating formula and any
    codec bug — zigzag order, Huffman table construction, EXTEND sign
    logic, IDCT scaling — flips the hash."""
    from ..ops.jpeg import decode_jpeg, encode_jpeg

    def row(doc_id, n_chars):
        px = _formula_image(doc_id, n_chars % 3 + 1, doc_id % 2 + 1,
                            37, 11, 23, 8)
        w, h, _c, arr = decode_jpeg(encode_jpeg(px, 100))
        return (doc_id, w, h, *_px_stats(arr))

    return _per_doc(spark, sf_dir, row,
                    "doc_id long, width int, height int, mean_px double, "
                    "px_checksum long")


@declared(
    "l5_interlaced_decode",
    oracle=_formula_oracle("n_chars % 9 + 4", "doc_id % 11 + 4", 47, 5, 3),
    survey_ids=("L5",),
)
def l5_interlaced_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL Adam7-interlaced PNG decode: per doc, synthesize a grayscale
    image with pixel (x,y) = (doc_id·47 + x·5 + y·3) mod 256 at sizes
    4-12 × 4-14 (straddling the 8-px interlace grid so EMPTY passes
    occur), write it through the Adam7 encoder (7 independently
    filtered passes) and decode it back through the pass-scatter path.
    PNG is lossless, so the DuckDB formula oracle hash-checks the
    decoded stats; a pass-grid, pass-ordering, or empty-pass bug flips
    the hash."""
    def row(doc_id, n_chars):
        px = _formula_image(doc_id, n_chars % 9 + 4, doc_id % 11 + 4,
                            47, 5, 3)
        w, h, _c, arr = decode_png(encode_png(px, interlace=True))
        return (doc_id, w, h, *_px_stats(arr))

    return _per_doc(spark, sf_dir, row,
                    "doc_id long, width int, height int, mean_px double, "
                    "px_checksum long")


@declared(
    "l5_gif_decode",
    oracle=_formula_oracle("n_chars % 9 + 4", "doc_id % 13 + 3", 53, 7, 11,
                           extra="CAST(doc_id % 2 AS INTEGER) AS interlaced"),
    survey_ids=("L5",),
)
def l5_gif_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL GIF decode: per doc, synthesize a grayscale image with pixel
    (x,y) = (doc_id·53 + x·7 + y·11) mod 256 at sizes 4-12 × 3-15
    (straddling GIF's 4-pass 8-row interlace grid so degenerate passes
    occur), write it through the LZW encoder — odd doc_ids through the
    interlaced row order — and decode it back via the magic-byte
    ``decode_image`` seam. GIF is lossless (palette indices survive LZW
    exactly), so the DuckDB formula oracle hash-checks the decoded
    stats; a code-width, clear-reset, palette-mapping, or de-interlace
    bug flips the hash. The hand-derived spec bitstream
    (tests/test_properties.py::test_gif_lzw_spec_vector) anchors the
    wire format itself, since a roundtrip-only contract could hide
    complementary encode/decode bugs."""
    def row(doc_id, n_chars):
        px = _formula_image(doc_id, n_chars % 9 + 4, doc_id % 13 + 3,
                            53, 7, 11)
        interlaced = doc_id % 2
        w, h, _c, arr = decode_image(
            encode_gif(px, interlace=interlaced == 1))
        return (doc_id, w, h, interlaced, *_px_stats(arr))

    return _per_doc(spark, sf_dir, row,
                    "doc_id long, width int, height int, interlaced int, "
                    "mean_px double, px_checksum long")


@declared(
    "l5_progressive_decode",
    oracle=_formula_oracle("(n_chars % 3 + 1) * 8", "(doc_id % 3 + 1) * 8",
                           43, 17, 19, 8),
    survey_ids=("L5",),
)
def l5_progressive_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL progressive-JPEG decode (most web JPEGs are progressive): per
    doc, synthesize a grayscale image whose 8×8 block (bx,by) is the
    constant (doc_id·43 + bx·17 + by·19) mod 256, encode it with the
    SOF2 scan script (spectral selection + successive approximation:
    DC at Al=1 + refinement, AC bands at Al=2 refined twice —
    ops/jpeg.py:_PROG_SCRIPT) and decode it through the multi-scan
    coefficient-accumulation path. Progressive transmission reorders
    the SAME quantized coefficients, so the quality-100 block-constant
    exactness contract carries over and the DuckDB formula oracle
    hash-checks the decoded stats; any bug in EOB-run handling,
    refinement correction bits, the DC point transform, or scan
    sequencing flips the hash."""
    from ..ops.jpeg import decode_jpeg, encode_jpeg

    def row(doc_id, n_chars):
        px = _formula_image(doc_id, n_chars % 3 + 1, doc_id % 3 + 1,
                            43, 17, 19, 8)
        w, h, _c, arr = decode_jpeg(encode_jpeg(px, 100, progressive=True))
        return (doc_id, w, h, *_px_stats(arr))

    return _per_doc(spark, sf_dir, row,
                    "doc_id long, width int, height int, mean_px double, "
                    "px_checksum long")


@declared(
    "l5_mixed_codec_decode",
    oracle=_formula_oracle(
        "(n_chars % 3 + 1) * 8", "((doc_id // 2) % 2 + 1) * 8", 41, 13, 29, 8,
        extra="CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg' "
              "ELSE 'gif' END AS codec"),
    survey_ids=("L5", "F6"),
)
def l5_mixed_codec_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mixed-format ingest through the ONE decode seam: per doc the
    payload is encoded as PNG, baseline JPEG or GIF by doc_id % 3
    (:func:`_mixed_payload`), then decoded by
    ``ops.multimodal.decode_image`` — which must route by the payload's
    own magic bytes, exactly how a real binary-column ingest handles a
    crawl of mixed formats. Block-constant grayscale at JPEG quality 100
    keeps ALL THREE codecs bit-exact, so the formula oracle hash-checks
    the decoded stats; a routing bug (wrong codec, signature misread) or
    any codec regressing flips the gate. Stats read channel 0 (GIF
    decodes palette-mapped RGB; PNG/JPEG grayscale decode 1-channel —
    channel 0 is the index raster in every case)."""
    def row(doc_id, n_chars):
        payload, codec = _mixed_payload(doc_id, n_chars)
        w, h, _c, arr = decode_image(payload)
        return (doc_id, codec, w, h, *_px_stats(arr))

    return _per_doc(spark, sf_dir, row,
                    "doc_id long, codec string, width int, height int, "
                    "mean_px double, px_checksum long")


@declared(
    "l5_quarantine_decode",
    oracle="""
    WITH m AS (
        SELECT doc_id,
               doc_id % 7 <> 3 AS ok,
               CASE doc_id % 3 WHEN 0 THEN 'png' WHEN 1 THEN 'jpeg'
                    ELSE 'gif' END AS codec,
               CAST((n_chars % 3 + 1) * 8 AS INTEGER)      AS w,
               CAST(((doc_id // 2) % 2 + 1) * 8 AS INTEGER) AS h
        FROM documents
    )
    SELECT m.doc_id, m.ok, m.codec,
           CASE WHEN m.ok THEN m.w END AS width,
           CASE WHEN m.ok THEN m.h END AS height,
           CASE WHEN m.ok THEN
               (SELECT CAST(SUM(((m.doc_id * 41 + (x.r // 8) * 13
                                  + (y.r // 8) * 29) % 256)
                                * (y.r * m.w + x.r)) AS BIGINT)
                FROM unnest(generate_series(0, m.w - 1)) x(r),
                     unnest(generate_series(0, m.h - 1)) y(r))
           END AS px_checksum
    FROM m ORDER BY m.doc_id
    """,
    survey_ids=("L5", "S1", "F6"),
)
def l5_quarantine_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The s18 PERMISSIVE-quarantine pattern on the BINARY seam: every
    doc's payload is encoded like l5_mixed_codec_decode (PNG/JPEG/GIF by
    doc_id % 3), but docs with ``doc_id % 7 == 3`` are TRUNCATED to
    their first 25 bytes — a cut inside the header/table region that
    every codec must reject. Each payload runs through
    ``ops.multimodal.decode_image_safe`` (the quarantining wrapper
    fuzz-tested with 170+ mutated payloads in
    tests/test_multimodal_fuzz.py): malformed rows come back as dead
    letters (``ok=false``, NULL stats) instead of task failures,
    decodable rows carry their exact pixel stats — both halves
    hash-checked against the generating formula, so a quarantine leak
    in EITHER direction (a bad row decoding, a good row dying) flips
    the gate."""
    def row(doc_id, n_chars):
        payload, codec = _mixed_payload(doc_id, n_chars)
        if doc_id % 7 == 3:
            payload = payload[:25]
        w, h, _c, arr, err = decode_image_safe(payload)
        if err is not None:
            return doc_id, False, codec, None, None, None
        return doc_id, True, codec, w, h, _px_stats(arr)[1]

    return _per_doc(spark, sf_dir, row,
                    "doc_id long, ok boolean, codec string, width int, "
                    "height int, px_checksum long")


@declared(
    "l5_audio_decode",
    oracle="""
    WITH m AS (
        SELECT doc_id,
               CAST(n_chars % 50 + 10 AS INTEGER)        AS n_samples,
               CAST(8000 + (doc_id % 4) * 4000 AS INTEGER) AS sample_rate
        FROM documents
    )
    SELECT m.doc_id, m.n_samples, m.sample_rate,
           (SELECT AVG(CAST((m.doc_id * 7 + i.r * 11) % 512 - 256 AS DOUBLE))
            FROM unnest(generate_series(0, m.n_samples - 1)) i(r)) AS mean_sample,
           (SELECT CAST(SUM(((m.doc_id * 7 + i.r * 11) % 512 - 256) * i.r)
                        AS BIGINT)
            FROM unnest(generate_series(0, m.n_samples - 1)) i(r)) AS sample_checksum
    FROM m ORDER BY m.doc_id
    """,
    survey_ids=("L5",),
)
def l5_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio decode: per doc, synthesize PCM16 mono WAV with sample
    i = (doc_id·7 + i·11) mod 512 − 256, encode→decode through the RIFF
    codec, report rate/length/mean/position-weighted checksum FROM THE
    DECODED SAMPLES; oracle recomputes from the formula."""
    def row(doc_id, n_chars):
        rate, d = _formula_wav(doc_id, n_chars, 8000 + doc_id % 4 * 4000)
        return (doc_id, int(d.size), int(rate), float(d.mean()),
                int((d * np.arange(d.size)).sum()))

    return _per_doc(spark, sf_dir, row,
                    "doc_id long, n_samples int, sample_rate int, "
                    "mean_sample double, sample_checksum long")


@declared(
    "l5_frame_sample_plan",
    oracle="""
    SELECT doc_id AS media_id, unnest(range(0, (n_chars % 100) + 1, 10)) AS frame_idx
    FROM documents
    ORDER BY media_id, frame_idx
    """,
    survey_ids=("L5",),
)
def l5_frame_sample_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Video frame-sampling plan: (media_id, n_frames) → one row per
    sampled frame index via sequence+explode — pure plan expansion, the
    decode of each sampled frame is the stubbed seam."""
    (docs,) = tables(spark, sf_dir, "documents")
    meta = docs.select(F.col("doc_id").alias("media_id"),
                       (F.col("n_chars") % 100).alias("last_frame"))
    return (meta.select(
        "media_id",
        F.explode(F.sequence(F.lit(0), F.col("last_frame"), F.lit(10)))
         .alias("frame_idx"))
        .orderBy("media_id", "frame_idx"))


@declared(
    "l5_image_resize",
    oracle="""
    WITH m AS (
        SELECT doc_id,
               CAST(n_chars % 7 + 4 AS INTEGER) AS width,
               CAST(doc_id % 5 + 4 AS INTEGER)  AS height
        FROM documents
    )
    SELECT m.doc_id,
           CAST(m.width // 2 AS INTEGER)  AS new_width,
           CAST(m.height // 2 AS INTEGER) AS new_height,
           (SELECT AVG(CAST((m.doc_id * 31 + (2 * x.r) * 7
                             + (2 * y.r) * 13) % 256 AS DOUBLE))
            FROM unnest(generate_series(0, m.width // 2 - 1)) x(r),
                 unnest(generate_series(0, m.height // 2 - 1)) y(r)) AS mean_px,
           (SELECT CAST(SUM(((m.doc_id * 31 + (2 * x.r) * 7
                              + (2 * y.r) * 13) % 256)
                            * (y.r * (m.width // 2) + x.r)) AS BIGINT)
            FROM unnest(generate_series(0, m.width // 2 - 1)) x(r),
                 unnest(generate_series(0, m.height // 2 - 1)) y(r)) AS px_checksum
    FROM m ORDER BY m.doc_id
    """,
    survey_ids=("L5",),
)
def l5_image_resize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image resize: synthesize a formula PNG per doc, decode it,
    factor-2 nearest-neighbor downsample (ops/multimodal.resize_nearest
    — picks pixel (2y, 2x) exactly), RE-ENCODE the resized image and
    decode again, reporting dims/mean/position-weighted checksum from
    the final decode. Two full codec round-trips per row; the oracle
    recomputes everything from the generating formula at (2x, 2y), so a
    bug in the resize index mapping or in either codec pass flips the
    hash."""
    def row(doc_id, n_chars):
        w, h = n_chars % 7 + 4, doc_id % 5 + 4
        px = _formula_image(doc_id, w, h, 31, 7, 13)
        _w, _h, _c, arr = decode_png(encode_png(px))
        small = resize_nearest(arr.reshape(h, w), h // 2, w // 2)
        dw, dh, _c, arr2 = decode_png(encode_png(small))
        return (doc_id, dw, dh, *_px_stats(arr2))

    return _per_doc(spark, sf_dir, row,
                    "doc_id long, new_width int, new_height int, "
                    "mean_px double, px_checksum long")


@declared(
    "l5_audio_features",
    oracle="""
    WITH m AS (
        SELECT doc_id, CAST(n_chars % 50 + 10 AS INTEGER) AS n_samples
        FROM documents
    ),
    s AS (
        SELECT m.doc_id, m.n_samples, i.r AS i,
               (m.doc_id * 7 + i.r * 11) % 512 - 256 AS v
        FROM m, unnest(generate_series(0, m.n_samples - 1)) i(r)
    )
    SELECT doc_id, CAST(MAX(n_samples) AS INTEGER) AS n_samples,
           sqrt(CAST(SUM(v * v) AS DOUBLE) / MAX(n_samples)) AS rms,
           CAST(SUM(CASE WHEN i > 0 AND
                    ((v >= 0) != ((doc_id * 7 + (i - 1) * 11) % 512 - 256
                                  >= 0))
                    THEN 1 ELSE 0 END) AS BIGINT) AS n_zero_crossings
    FROM s GROUP BY doc_id ORDER BY doc_id
    """,
    survey_ids=("L5", "L4"),
)
def l5_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Audio FEATURE EXTRACTION from decoded samples (the step after
    l5_audio_decode in a real pipeline): RMS energy and zero-crossing
    count per clip, computed from the samples that come OUT of the RIFF
    encode→decode round trip — the oracle recomputes both from the
    generating formula, so any codec bug breaks the hash. RMS is
    sqrt(mean(v²)): integer sum + one IEEE division + sqrt, and IEEE
    sqrt is correctly rounded (unlike libm ln/exp), so the doubles are
    bit-identical across engines. Zero crossings use the sign predicate
    (v ≥ 0) — exact integers."""
    def row(doc_id, n_chars):
        _rate, d = _formula_wav(doc_id, n_chars, 8000)
        nz = d >= 0
        return (doc_id, int(d.size), float(np.sqrt((d * d).sum() / d.size)),
                int((nz[1:] != nz[:-1]).sum()))

    return _per_doc(spark, sf_dir, row,
                    "doc_id long, n_samples int, rms double, "
                    "n_zero_crossings long")


@declared(
    "l5_image_phash",
    oracle="""
    WITH m AS (
        SELECT doc_id,
               CAST(n_chars % 7 + 2 AS INTEGER) AS w,
               CAST(doc_id % 5 + 2 AS INTEGER)  AS h
        FROM documents
    ),
    px AS (
        SELECT m.doc_id, m.w, m.h, x.r AS x, y.r AS y,
               (m.doc_id * 31 + x.r * 7 + y.r * 13) % 256 AS v
        FROM m,
             unnest(generate_series(0, m.w - 1)) x(r),
             unnest(generate_series(0, m.h - 1)) y(r)
    ),
    stats AS (
        SELECT doc_id, AVG(CAST(v AS DOUBLE)) AS mean_v
        FROM px GROUP BY doc_id
    ),
    hashes AS (
        SELECT px.doc_id, px.w AS width, px.h AS height,
               CAST(SUM(CASE WHEN CAST(px.v AS DOUBLE) > s.mean_v
                             THEN (CAST(1 AS BIGINT) << (px.y * px.w + px.x))
                             ELSE CAST(0 AS BIGINT) END) AS BIGINT) AS phash
        FROM px JOIN stats s ON s.doc_id = px.doc_id
        GROUP BY 1, 2, 3
    )
    SELECT doc_id, width, height, phash,
           CAST(COUNT(*) OVER (PARTITION BY width, height, phash)
                AS BIGINT) AS bucket_n
    FROM hashes ORDER BY doc_id
    """,
    survey_ids=("L5", "L2", "F6"),
)
def l5_image_phash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual average-hash for image near-dedup: every image runs
    the REAL PNG encode→decode round-trip, then each DECODED pixel
    contributes one bit (above the image mean) to a packed 64-bit
    signature; images bucket by (dims, phash) exactly like text docs
    bucket by MinHash band — the multimodal leg of the dedup family
    (constant-size signature per image, bucket-join instead of
    pairwise compare; at 100 TB of images only the 8-byte signatures
    shuffle). The oracle recomputes the bit-pack from the generating
    formula, so a codec or bit-order bug flips the hash. Grids here
    are <= 8x6, so the native-resolution pack fits 48 bits; real-photo
    aHash downsamples to 8x8 first (the l5_image_resize machinery)."""
    def row(doc_id, n_chars):
        px = _formula_image(doc_id, n_chars % 7 + 2, doc_id % 5 + 2,
                            31, 7, 13)
        w, h, _c, arr = decode_png(encode_png(px))
        flat = arr.reshape(-1).astype(np.float64)
        bits = (flat > flat.mean()).astype(np.int64)
        return doc_id, w, h, int((bits << np.arange(flat.size)).sum())

    hashes = _per_doc(spark, sf_dir, row,
                      "doc_id long, width int, height int, phash long",
                      order=False)
    wb = Window.partitionBy("width", "height", "phash")
    return (hashes
            .withColumn("bucket_n", F.count(F.lit(1)).over(wb))
            .orderBy("doc_id"))


@declared(
    "l5_webp_decode",
    oracle="""
    WITH m AS (
        SELECT doc_id,
               CAST(n_chars % 11 + 3 AS INTEGER)  AS width,
               CAST(doc_id % 9 + 2 AS INTEGER)    AS height,
               CAST(doc_id % 2 AS INTEGER)        AS cached
        FROM documents
    ), px AS (
        SELECT m.doc_id, m.width, m.height, m.cached,
               (y.r * m.width + x.r) * 4                       AS base,
               (m.doc_id * 31 + x.r * 5 + (y.r % 2) * 3) % 256 AS r,
               (m.doc_id * 17 + x.r * 7) % 256                 AS g,
               (m.doc_id + x.r * 11 + (y.r % 2) * 13) % 256    AS b,
               (m.doc_id * 7 + x.r * 3 + (y.r % 2) * 5) % 256  AS a
        FROM m,
             unnest(generate_series(0, m.width - 1))  x(r),
             unnest(generate_series(0, m.height - 1)) y(r)
    )
    SELECT doc_id, width, height, cached,
           CAST(SUM(r + g + b + a) AS DOUBLE)
               / (4 * width * height)                          AS mean_px,
           CAST(SUM(r * base + g * (base + 1) + b * (base + 2)
                    + a * (base + 3)) AS BIGINT)               AS px_checksum
    FROM px
    GROUP BY doc_id, width, height, cached
    ORDER BY doc_id
    """,
    survey_ids=("L5",),
)
def l5_webp_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL WebP-lossless decode: per doc, synthesize an RGBA image whose
    channels follow row-period-2 formulas — so the pixel-above LZ77
    back-reference (distance = width, a 2-D plane code) and the
    previous-pixel run both fire — at sizes 3-13 × 2-10, encode through
    ``ops.webp.encode_webp_lossless`` (even doc_ids plain, odd with a
    5-bit color cache, every third through the subtract-green
    transform, every fifth through a PREDICTOR transform — the mode
    rotating over all 14 — and every seventh through the COLOR
    transform) and decode back via the magic-byte ``decode_image`` seam.
    VP8L is lossless, so the DuckDB formula oracle hash-checks the
    decoded stats over all four channels: a canonical-code,
    code-length-code, distance-mapping, cache-insertion, transform or
    bit-order bug flips the hash. The hand-built spec vector
    (tests/test_properties.py::test_webp_vp8l_spec_vector) anchors the
    wire format itself — a roundtrip-only contract could hide
    complementary encode/decode bugs."""
    from ..ops.webp import encode_webp_lossless

    def row(doc_id, n_chars):
        w, h, cached = n_chars % 11 + 3, doc_id % 9 + 2, doc_id % 2
        y, x = np.mgrid[0:h, 0:w]
        img = np.empty((h, w, 4), dtype=np.uint8)
        img[:, :, 0] = (doc_id * 31 + x * 5 + (y % 2) * 3) % 256
        img[:, :, 1] = (doc_id * 17 + x * 7) % 256
        img[:, :, 2] = (doc_id + x * 11 + (y % 2) * 13) % 256
        img[:, :, 3] = (doc_id * 7 + x * 3 + (y % 2) * 5) % 256
        dw, dh, _c, arr = decode_image(encode_webp_lossless(
            img, use_lz77=True, cache_bits=5 if cached else 0,
            subtract_green=doc_id % 3 == 0,
            predictor=doc_id % 14 if doc_id % 5 == 0 else None,
            color_transform=(16, -5, 3) if doc_id % 7 == 0 else None,
            transform_bits=2 + doc_id % 8))
        flat = arr.reshape(-1).astype(np.int64)
        return (doc_id, dw, dh, cached, float(flat.sum()) / flat.size,
                int((flat * np.arange(flat.size)).sum()))

    return _per_doc(spark, sf_dir, row,
                    "doc_id long, width int, height int, cached int, "
                    "mean_px double, px_checksum long")
