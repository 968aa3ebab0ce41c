"""Adversarial robustness of the image-decode seam (r11 verdict #5).

The GIF/JPEG/PNG decoders take CORPUS bytes — untrusted input — so a
malformed payload must become a per-row dead letter (the s18
PERMISSIVE-CSV pattern), never a task failure. This suite feeds 100+
mutated payloads (truncated sub-blocks, bit-flipped tables/streams,
dims-overflow headers, wrong magic, empty) through
``decode_images_quarantined`` on a real Spark job. In local mode one
task failure fails the whole query, so the job COMPLETING with every
input row accounted for IS the zero-task-retry assertion.
"""

from __future__ import annotations

import struct

import numpy as np
import pytest
from pyspark.sql import types as T

from pravega_flink_ai_flow_spark.ops.jpeg import encode_jpeg
from pravega_flink_ai_flow_spark.ops.multimodal import (
    _IMG_MAX_PIXELS,
    decode_image_safe,
    decode_images_quarantined,
    encode_gif,
    encode_png,
)
from pravega_flink_ai_flow_spark.ops.webp import encode_webp_lossless

pytestmark = pytest.mark.usefixtures("spark")


def _bases() -> list[bytes]:
    """Valid payloads across all three codecs, both PNG/GIF interlace
    modes, several dims — the seeds the mutations start from."""
    rng = np.random.default_rng(42)
    out = []
    for h, w in ((8, 8), (16, 24), (5, 7), (32, 8)):
        px = rng.integers(0, 256, size=(h, w)).astype(np.uint8)
        out.append(encode_png(px))
        out.append(encode_png(px, interlace=True))
        out.append(encode_gif(px))
        out.append(encode_gif(px, interlace=True))
        out.append(encode_jpeg(px, 90))
        out.append(encode_jpeg(px, 100))
        out.append(encode_webp_lossless(px))
        out.append(encode_webp_lossless(
            np.repeat(px[:, :, None], 4, axis=2), cache_bits=5))
    return out


def _mutations(bases: list[bytes]):
    """(payload, expect) pairs; expect is 'dead' when the mutation MUST
    quarantine, 'any' when it may legally still decode (bit flips in
    pixel data change pixels, not validity)."""
    rng = np.random.default_rng(7)
    muts: list[tuple[bytes, str]] = []
    for b in bases:
        # truncations: cuts into the header/table/pixel-stream region
        # must die; cuts near the tail may legally still decode (a PNG
        # missing only IEND bytes has already yielded its raster) but
        # must never fail the task
        for frac in (0.25, 0.5):
            muts.append((b[: max(1, int(len(b) * frac))], "dead"))
        muts.append((b[: max(1, int(len(b) * 0.75))], "any"))
        muts.append((b[:-1], "any"))
        # single-byte flips at seeded offsets — may or may not die,
        # but must NEVER fail the task
        for off in rng.integers(0, len(b), size=3):
            m = bytearray(b)
            m[off] ^= 0xFF
            # keep the magic intact so the flip exercises the codec,
            # not just the router
            if off < 8:
                continue
            muts.append((bytes(m), "any"))
    # dims-overflow headers: each codec's declared size patched huge
    png = bytearray(_bases()[0])
    png[16:24] = struct.pack(">II", 0xFFFFFF0, 0xFFFFFF0)
    muts.append((bytes(png), "dead"))
    gif = bytearray(encode_gif(np.zeros((4, 4), np.uint8)))
    gif[6:10] = struct.pack("<HH", 0xFFFF, 0xFFFF)
    muts.append((bytes(gif), "dead"))
    jpg = bytearray(encode_jpeg(np.zeros((8, 8), np.uint8), 90))
    i = jpg.find(b"\xff\xc0")
    if i < 0:
        i = jpg.find(b"\xff\xc2")
    assert i > 0
    jpg[i + 5:i + 9] = struct.pack(">HH", 0xFFF0, 0xFFF0)
    muts.append((bytes(jpg), "dead"))
    wbp = bytearray(encode_webp_lossless(np.zeros((4, 4), np.uint8)))
    # VP8L dims live in the 28 bits after the signature byte: patch to
    # the 14-bit max (16384² = 268 Mpx > the 64 Mpx guard)
    rest = int.from_bytes(wbp[21:25], "little") >> 28
    wbp[21:25] = ((rest << 28) | (0x3FFF << 14) | 0x3FFF) \
        .to_bytes(4, "little")
    muts.append((bytes(wbp), "dead"))
    # unknown formats / garbage / empty
    muts.append((b"RIFF0000WEBPVP8 ", "dead"))
    muts.append((b"\x00" * 64, "dead"))
    muts.append((b"", "dead"))
    muts.append((b"\x89PNG\r\n\x1a\n", "dead"))       # magic only
    muts.append((b"GIF89a", "dead"))
    muts.append((b"\xff\xd8", "dead"))
    return muts


def test_fuzz_decode_quarantines_instead_of_failing(spark):
    bases = _bases()
    muts = _mutations(bases)
    assert len(muts) >= 100, f"only {len(muts)} mutated payloads"

    rows = [(i, p) for i, p in enumerate(b for b, _ in muts)]
    n_valid = len(bases)
    rows += [(len(rows) + i, b) for i, b in enumerate(bases)]
    schema = T.StructType([
        T.StructField("media_id", T.LongType()),
        T.StructField("content", T.BinaryType()),
    ])
    df = spark.createDataFrame(rows, schema).repartition(8)
    out = decode_images_quarantined(
        df, id_col="media_id", content_col="content").collect()

    # every input row came back exactly once — the job completed, so
    # (local mode) zero tasks failed or retried
    assert sorted(r.media_id for r in out) == list(range(len(rows)))
    by_id = {r.media_id: r for r in out}

    # the valid bases all decode
    for i in range(len(muts), len(rows)):
        assert by_id[i].ok, f"valid base {i} dead-lettered: {by_id[i].err}"

    # every must-die mutation is a dead letter with an error class
    dead = 0
    for i, (_, expect) in enumerate(muts):
        r = by_id[i]
        if not r.ok:
            dead += 1
            assert r.err and ":" in r.err
            assert r.px_checksum is None and r.width is None
        if expect == "dead":
            assert not r.ok, f"mutation {i} ({expect}) decoded: {r}"
    # the dead-letter channel carries the real count (bit flips in
    # pixel streams may legally survive; everything crafted-fatal dies)
    n_must_die = sum(1 for _, e in muts if e == "dead")
    assert dead >= n_must_die
    print(f"fuzz: {len(muts)} mutated payloads, {dead} dead-lettered, "
          f"{len(muts) - dead} decoded, {n_valid} valid bases ok")


def test_dims_overflow_rejected_before_allocation():
    """The pixel-count guard must fire from the HEADER pre-parse — a
    2^52-px PNG claim dies in microseconds, not in np.zeros."""
    import time

    png = bytearray(encode_png(np.zeros((4, 4), np.uint8)))
    png[16:24] = struct.pack(">II", 1 << 26, 1 << 26)
    t0 = time.perf_counter()
    w, h, c, arr, err = decode_image_safe(bytes(png))
    assert err is not None and "guard" in err
    assert time.perf_counter() - t0 < 0.1
    assert (1 << 26) * (1 << 26) > _IMG_MAX_PIXELS


def test_decode_image_safe_success_passthrough():
    px = np.arange(64, dtype=np.uint8).reshape(8, 8)
    w, h, c, arr, err = decode_image_safe(encode_png(px))
    assert err is None and (w, h) == (8, 8)
    assert np.array_equal(arr[:, :, 0] if arr.ndim == 3 else arr, px)


def test_quarantine_dead_letters_null_id(spark):
    """A NULL id is a dead letter like any malformed payload: the row
    comes back with ``ok=false`` and the null-id error, and no row is
    lost or added."""
    schema = T.StructType([
        T.StructField("media_id", T.LongType()),
        T.StructField("content", T.BinaryType()),
    ])
    png = encode_png(np.arange(16, dtype=np.uint8).reshape(4, 4))
    df = spark.createDataFrame([(None, png), (7, png)], schema)
    out = decode_images_quarantined(df).collect()
    assert len(out) == 2
    by_id = {r.media_id: r for r in out}
    dead = by_id[None]
    assert not dead.ok and dead.err == "ValueError: null id"
    assert dead.px_checksum is None and dead.codec is None
    assert by_id[7].ok and by_id[7].codec == "png"
