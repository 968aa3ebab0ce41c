"""Multimodal columns (SURVEY.md L5): image and audio payloads as
opaque ``binary`` columns, decoded by pure python/numpy codecs (no media
libraries in this container).

PNG (sequential and Adam7), JPEG (baseline sequential and progressive,
:mod:`.jpeg`), GIF 87a/89a, WebP lossless/VP8L (:mod:`.webp`, with the
subtract-green, predictor and color transforms) and PCM16 WAV decode
for real. The VP8L color-indexing transform and meta-prefix codes,
lossy VP8, other audio encodings and video raise
``NotImplementedError``.

At 100 TB the rules encoded here: payloads ride in ``BinaryType`` columns
(never base64 strings), and per-row decode work runs in one
:func:`map_rows` pass over small-`maxRecordsPerBatch` Arrow batches, so a
partition of 100 MB images never materializes as one pandas block.
"""

from __future__ import annotations

from collections.abc import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, functions as F


def map_rows(df: DataFrame, row: Callable[..., tuple],
             schema: str) -> DataFrame:
    """The per-row Python pass for media work: ``row(*values)`` maps each
    input row (values in ``df``'s column order) to one output tuple in
    the column order of ``schema``, a flat DDL string. Rows arrive one
    Arrow batch at a time, so peak worker memory is one batch of
    payloads."""
    names = [field.split()[0] for field in schema.split(",")]

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            yield pd.DataFrame(
                [row(*values)
                 for values in pdf.itertuples(index=False, name=None)],
                columns=names)

    return df.mapInPandas(run, schema)


def _px_stats(arr) -> tuple[float, int]:
    """``(mean, position-weighted checksum)`` of channel 0 of a decoded
    h×w×c raster — the stats every formula oracle recomputes in SQL."""
    import numpy as np

    flat = arr[:, :, 0].reshape(-1).astype(np.int64)
    return float(flat.mean()), int((flat * np.arange(flat.size)).sum())


# -- real codecs (pure python/stdlib — no media libraries needed) ----------
#
# PNG: full 8-bit-depth decoder (all five scanline filters, grey/RGB/
# alpha color types, multi-IDAT) and a filter-0 encoder, on zlib+struct.
# JPEG: baseline sequential AND progressive DCT decode + encode in the
# sibling ``ops.jpeg`` module (numpy IDCT, file-driven Huffman/quant
# tables, 4:2:0, restarts, spectral selection + successive
# approximation). GIF: LZW codec below. WebP lossless/VP8L: ``ops.webp``.
# WAV: PCM16 via the stdlib ``wave`` module. Everything else raises
# NotImplementedError at the decode_image seam or inside its codec.

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}   # color type → samples/pixel


def encode_png(pixels, *, interlace: bool = False) -> bytes:
    """uint8 array (h×w or h×w×channels) → PNG bytes (8-bit, filter 0).
    ``interlace=True`` writes the Adam7 layout (7 independently
    filtered passes) — used to synthesize interlaced fixtures for the
    decode path."""
    import struct
    import zlib

    import numpy as np

    arr = np.ascontiguousarray(pixels, dtype=np.uint8)
    if arr.ndim == 2:
        arr = arr[:, :, None]
    h, w, c = arr.shape
    color_type = {1: 0, 2: 4, 3: 2, 4: 6}[c]

    def chunk(tag: bytes, data: bytes) -> bytes:
        return (struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", zlib.crc32(tag + data) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, color_type, 0, 0,
                       1 if interlace else 0)

    def filter0_block(sub) -> bytes:
        # whole filtered sub-image in one numpy op: a zero filter byte
        # column prepended to the scanlines — one tobytes per pass
        # instead of a python loop per scanline (the per-scanline form
        # dominated the per-image cost of the tiny interlace passes)
        rows = sub.reshape(sub.shape[0], -1)
        blk = np.zeros((rows.shape[0], rows.shape[1] + 1), np.uint8)
        blk[:, 1:] = rows
        return blk.tobytes()

    if interlace:
        raw = b"".join(
            filter0_block(np.ascontiguousarray(arr[y0::dy, x0::dx]))
            for x0, y0, dx, dy in _ADAM7
            if arr[y0::dy, x0::dx].shape[0] and arr[y0::dy, x0::dx].shape[1]
        )   # empty pass contributes nothing, per spec
    else:
        raw = filter0_block(arr)
    return (_PNG_SIG + chunk(b"IHDR", ihdr)
            + chunk(b"IDAT", zlib.compress(raw)) + chunk(b"IEND", b""))


# Adam7 interlace pass grid: (x_start, y_start, x_step, y_step).
# Pass k's sub-image holds the pixels at (x_start + i·x_step,
# y_start + j·y_step); each non-empty pass is filtered INDEPENDENTLY
# (its own filter byte per scanline, its own "row above").
_ADAM7 = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
          (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))


def _png_unfilter(raw: bytes, h: int, w: int, c: int, p: int):
    """Reconstruct one filtered image (spec filters 0-4: None, Sub, Up,
    Average, Paeth) of h scanlines × w pixels × c samples starting at
    byte offset ``p`` of the decompressed stream. Returns the (h, w·c)
    uint8 array and the offset past the consumed bytes — the shared
    core of the sequential and Adam7 decode paths."""
    import numpy as np

    stride = w * c
    need = h * (stride + 1)
    if len(raw) - p < need:
        raise ValueError("truncated PNG pixel data")
    block = np.frombuffer(raw, np.uint8, count=need,
                          offset=p).reshape(h, stride + 1)
    p += need
    fts = block[:, 0]
    # vectorized fast paths for the filters that need no left-neighbor
    # recurrence: all-None is a plain slice; all-Up is a wrapping
    # column cumsum (uint8 accumulate == mod-256 by construction).
    # These cover our own encoder (filter 0) and the common screen-
    # content case; mixed/Sub/Average/Paeth take the general loop.
    if not fts.any():
        out = np.ascontiguousarray(block[:, 1:])
        if not out.flags.writeable:
            # h == 1: the slice is already contiguous, so
            # ascontiguousarray returns the read-only frombuffer view
            # itself — copy so the contract (writable array, no
            # reference pinning the whole decompressed stream) holds
            # shape-independently
            out = out.copy()
        return out, p
    if (fts == 2).all():
        return np.add.accumulate(block[:, 1:], axis=0, dtype=np.uint8), p
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    for y in range(h):
        ft = int(fts[y])
        cur = block[y, 1:].copy()
        if ft == 1:    # Sub: + left
            for i in range(c, stride):
                cur[i] = (int(cur[i]) + int(cur[i - c])) & 0xFF
        elif ft == 2:  # Up: + above (uint8 wraps = mod 256)
            cur += prev
        elif ft == 3:  # Average: + floor((left+above)/2)
            for i in range(stride):
                left = int(cur[i - c]) if i >= c else 0
                cur[i] = (int(cur[i]) + ((left + int(prev[i])) >> 1)) & 0xFF
        elif ft == 4:  # Paeth predictor
            for i in range(stride):
                a = int(cur[i - c]) if i >= c else 0
                b = int(prev[i])
                cc = int(prev[i - c]) if i >= c else 0
                pp = a + b - cc
                pa, pb, pc = abs(pp - a), abs(pp - b), abs(pp - cc)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else cc)
                cur[i] = (int(cur[i]) + pred) & 0xFF
        elif ft != 0:
            raise ValueError(f"bad PNG filter type {ft}")
        out[y] = cur
        prev = out[y]
    return out, p


def decode_png(content: bytes):
    """PNG bytes → (width, height, channels, uint8 array h×w×channels).

    Implements the spec's scanline reconstruction (filters 0-4: None,
    Sub, Up, Average, Paeth) for 8-bit depth images, sequential AND
    Adam7-interlaced — each interlace pass is an independently
    filtered sub-image scattered back through the pass grid."""
    import struct
    import zlib

    import numpy as np

    if content[:8] != _PNG_SIG:
        raise ValueError("not a PNG payload (bad signature)")
    pos, idat, hdr = 8, [], None
    while pos + 8 <= len(content):
        ln, tag = struct.unpack(">I4s", content[pos:pos + 8])
        pos += 8
        data = content[pos:pos + ln]
        pos += ln + 4  # payload + CRC
        if tag == b"IHDR":
            hdr = struct.unpack(">IIBBBBB", data)
        elif tag == b"IDAT":
            idat.append(data)
        elif tag == b"IEND":
            break
    if hdr is None:
        raise ValueError("PNG missing IHDR")
    w, h, depth, color, _comp, _filt, interlace = hdr
    if depth != 8:
        raise NotImplementedError("only 8-bit PNG is supported here")
    if interlace not in (0, 1):
        raise ValueError(f"bad PNG interlace method {interlace}")
    c = _PNG_CHANNELS[color]
    raw = zlib.decompress(b"".join(idat))
    if interlace == 0:
        out, _ = _png_unfilter(raw, h, w, c, 0)
        return w, h, c, out.reshape(h, w, c)
    img = np.zeros((h, w, c), dtype=np.uint8)
    p = 0
    for x0, y0, dx, dy in _ADAM7:
        pw = (w - x0 + dx - 1) // dx if w > x0 else 0
        ph = (h - y0 + dy - 1) // dy if h > y0 else 0
        if pw == 0 or ph == 0:
            continue       # empty pass: not even a filter byte on the wire
        sub, p = _png_unfilter(raw, ph, pw, c, p)
        img[y0::dy, x0::dx] = sub.reshape(ph, pw, c)
    return w, h, c, img


# GIF (87a/89a): real LZW codec — the last common web-corpus image
# format that is feasible pure-python (variable-width LSB-first codes,
# 12-bit dict cap with clear-code reset, 4-pass row interlace, local
# color tables, 89a extension blocks). Encoder writes a grayscale
# global palette; decoder returns palette-mapped RGB.

_GIF_SIGS = (b"GIF87a", b"GIF89a")
# constant 256-entry grayscale global palette (index i → RGB (i,i,i)) —
# module-level because encode_gif runs once per ROW inside map_rows
# (the CLAUDE.md per-call lookup-table rule)
_GIF_GRAY_PALETTE = bytes(v for i in range(256) for v in (i, i, i))
# GIF row-interlace pass grid: (first_row, row_step)
_GIF_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))
_GIF_MAX_CODE = 4096        # 12-bit LZW dictionary cap (GIF spec)


def _lzw_encode(indices: bytes, mcs: int) -> bytes:
    """GIF-variant LZW: variable-width codes starting at mcs+1 bits,
    packed LSB-first; emits CLEAR up front and again whenever the
    dictionary hits the 12-bit cap. Width grows the moment the just-
    added entry's value reaches ``1 << width`` (the next emitted code
    may be that entry — the cScSc case — so it must already fit)."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    out = bytearray()
    acc = nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    width = mcs + 1
    table: dict[tuple[int, int], int] = {}
    next_code = eoi + 1
    emit(clear, width)
    prev = -1
    for sym in indices:
        if prev < 0:
            prev = sym
            continue
        code = table.get((prev, sym))
        if code is not None:
            prev = code
            continue
        emit(prev, width)
        if next_code < _GIF_MAX_CODE:
            table[(prev, sym)] = next_code
            if next_code == (1 << width) and width < 12:
                width += 1
            next_code += 1
        else:
            emit(clear, width)
            table.clear()
            width, next_code = mcs + 1, eoi + 1
        prev = sym
    if prev >= 0:
        emit(prev, width)
    emit(eoi, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def _lzw_decode(data: bytes, mcs: int, n_expected: int) -> bytearray:
    """Inverse of :func:`_lzw_encode`; tolerates deferred clears (the
    dictionary freezes at the 12-bit cap until a CLEAR arrives)."""
    clear, eoi = 1 << mcs, (1 << mcs) + 1
    base = [bytes([i]) for i in range(1 << mcs)] + [b"", b""]
    table = list(base)
    width = mcs + 1
    out = bytearray()
    prev: bytes | None = None
    acc = nbits = pos = 0
    while True:
        while nbits < width:
            if pos >= len(data):
                return out          # stream ended without EOI — tolerate
            acc |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = acc & ((1 << width) - 1)
        acc >>= width
        nbits -= width
        if code == clear:
            table = list(base)
            width, prev = mcs + 1, None
            continue
        if code == eoi:
            return out
        if prev is None:
            if code >= len(table):
                raise ValueError("corrupt GIF LZW stream (first code)")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
        elif code == len(table):
            entry = prev + prev[:1]     # the cScSc case
        else:
            raise ValueError("corrupt GIF LZW stream (code gap)")
        out += entry
        if len(out) > n_expected:
            raise ValueError("GIF LZW stream overruns the raster")
        if prev is not None and len(table) < _GIF_MAX_CODE:
            table.append(prev + entry[:1])
            if len(table) == (1 << width) and width < 12:
                width += 1
        prev = entry


def _gif_subblocks(payload: bytes) -> bytes:
    """Wrap a byte stream into GIF data sub-blocks (≤255 + terminator)."""
    out = bytearray()
    for i in range(0, len(payload), 255):
        chunk = payload[i:i + 255]
        out.append(len(chunk))
        out += chunk
    out.append(0)
    return bytes(out)


def encode_gif(pixels, *, interlace: bool = False) -> bytes:
    """uint8 array (h×w, values = palette indices) → GIF89a bytes with
    a 256-entry grayscale global palette (index i → RGB (i,i,i)) and a
    REAL LZW-compressed raster. ``interlace=True`` writes the 4-pass
    row order with the interlace flag set."""
    import struct

    import numpy as np

    arr = np.ascontiguousarray(pixels, dtype=np.uint8)
    if arr.ndim != 2:
        raise ValueError("encode_gif takes a 2-D index array")
    h, w = arr.shape
    palette = _GIF_GRAY_PALETTE
    if interlace:
        rows = np.concatenate([arr[y0::dy] for y0, dy in _GIF_PASSES])
        raster = rows.tobytes()
    else:
        raster = arr.tobytes()
    return (b"GIF89a"
            + struct.pack("<HHBBB", w, h, 0xF7, 0, 0)   # GCT, 256 entries
            + palette
            + struct.pack("<BHHHHB", 0x2C, 0, 0, w, h,
                          0x40 if interlace else 0)
            + bytes([8])                                 # LZW min code size
            + _gif_subblocks(_lzw_encode(raster, 8))
            + b"\x3b")


def decode_gif(content: bytes):
    """GIF bytes → (width, height, 3, uint8 RGB array h×w×3).

    Implements the 87a/89a container (global + local color tables,
    extension-block skipping, 4-pass row de-interlace) and the
    variable-width LZW raster decode; decodes the FIRST image block
    (animation frames beyond it are out of scope here)."""
    import struct

    import numpy as np

    if content[:6] not in _GIF_SIGS:
        raise ValueError("not a GIF payload (bad signature)")
    if len(content) < 14:
        raise ValueError("truncated GIF (no logical screen descriptor)")
    w, h, packed, _bg, _ar = struct.unpack("<HHBBB", content[6:13])
    pos = 13
    gct = None
    if packed & 0x80:
        n = 2 << (packed & 0x07)
        gct = np.frombuffer(content, np.uint8, 3 * n, pos).reshape(n, 3)
        pos += 3 * n
    # bytes indexing raises IndexError and short struct slices raise
    # struct.error on payloads cut off mid block-chain; the codec's
    # corrupt-input contract is ValueError (quarantine wrappers around
    # the decode seam catch that family), so normalize.
    try:
        return _decode_gif_blocks(content, pos, w, h, gct)
    except (IndexError, struct.error) as e:
        raise ValueError(f"truncated GIF ({e})") from e


def _decode_gif_blocks(content: bytes, pos: int, w: int, h: int, gct):
    """Walk the GIF block chain from ``pos`` and decode the first
    image block — the body of :func:`decode_gif`, split out so its
    truncation guard stays one obvious wrapper."""
    import struct

    import numpy as np

    while pos < len(content):
        block = content[pos]
        pos += 1
        if block == 0x3B:                   # trailer
            break
        if block == 0x21:                   # extension: label + sub-blocks
            pos += 1
            while content[pos]:
                pos += 1 + content[pos]
            pos += 1
            continue
        if block != 0x2C:
            raise ValueError(f"bad GIF block introducer 0x{block:02x}")
        left, top, iw, ih, ipacked = struct.unpack("<HHHHB",
                                                   content[pos:pos + 9])
        pos += 9
        table = gct
        if ipacked & 0x80:
            n = 2 << (ipacked & 0x07)
            table = np.frombuffer(content, np.uint8, 3 * n,
                                  pos).reshape(n, 3)
            pos += 3 * n
        if table is None:
            raise ValueError("GIF image has no color table")
        mcs = content[pos]
        pos += 1
        chunks = []
        while content[pos]:
            ln = content[pos]
            chunks.append(content[pos + 1:pos + 1 + ln])
            pos += 1 + ln
        pos += 1
        idx = _lzw_decode(b"".join(chunks), mcs, iw * ih)
        if len(idx) < iw * ih:
            raise ValueError("truncated GIF raster")
        rows = np.frombuffer(bytes(idx), np.uint8,
                             iw * ih).reshape(ih, iw)
        if ipacked & 0x40:                  # de-interlace
            ordered = np.empty_like(rows)
            r = 0
            for y0, dy in _GIF_PASSES:
                n_rows = len(range(y0, ih, dy))
                ordered[y0::dy] = rows[r:r + n_rows]
                r += n_rows
            rows = ordered
        img = np.zeros((h, w, 3), dtype=np.uint8)
        img[top:top + ih, left:left + iw] = table[rows]
        return w, h, 3, img
    raise ValueError("GIF contains no image block")


def encode_wav(samples, sample_rate: int) -> bytes:
    """int16 sample array (mono) → PCM16 WAV bytes (stdlib ``wave``)."""
    import io
    import wave

    import numpy as np

    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(1)
        wf.setsampwidth(2)
        wf.setframerate(sample_rate)
        wf.writeframes(np.asarray(samples, dtype="<i2").tobytes())
    return buf.getvalue()


def decode_wav(content: bytes):
    """WAV bytes → (sample_rate, n_channels, int16 sample array)."""
    import io
    import wave

    import numpy as np

    with wave.open(io.BytesIO(content), "rb") as wf:
        if wf.getsampwidth() != 2:
            raise NotImplementedError("only PCM16 WAV is supported here")
        rate, nch = wf.getframerate(), wf.getnchannels()
        frames = wf.readframes(wf.getnframes())
    return rate, nch, np.frombuffer(frames, dtype="<i2")


def decode_image(content: bytes):
    """Image decode seam, routed by the payload's magic bytes. PNG, JPEG
    (baseline and progressive, :mod:`.jpeg`), GIF 87a/89a and WebP
    lossless/VP8L (:mod:`.webp`, including the subtract-green, predictor
    and color transforms) decode for real. The VP8L color-indexing
    transform and meta-prefix codes, lossy VP8, and every other format
    raise ``NotImplementedError`` — swap in
    PIL.Image.open(io.BytesIO(content)) where it's available."""
    if content[:8] == _PNG_SIG:
        return decode_png(content)
    if content[:2] == b"\xff\xd8":
        from .jpeg import decode_jpeg
        return decode_jpeg(content)
    if content[:6] in _GIF_SIGS:
        return decode_gif(content)
    if content[:4] == b"RIFF" and content[8:12] == b"WEBP":
        from .webp import decode_webp
        return decode_webp(content)
    raise NotImplementedError(
        "non-PNG/JPEG/GIF/WebP image decode requires an image library "
        "not present in this container; swap this seam for "
        "PIL.Image.open(...)")


# Pixel-count ceiling for quarantined decodes: 64 Mpx ≈ a 256 MB RGBA
# allocation — far above any legitimate testdata payload, far below an
# allocation that stalls or OOMs an executor. A crafted header claiming
# 2^32-px dims must die HERE (cheap header pre-parse), not inside the
# codec's np.zeros.
_IMG_MAX_PIXELS = 1 << 26


def _declared_pixels(content: bytes):
    """Best-effort header pre-parse of the DECLARED pixel count (PNG
    IHDR / GIF logical screen / JPEG SOF scan) — the dims-overflow
    guard of :func:`decode_image_safe`. Returns None when the header
    is unreadable (the decoder itself will then reject the payload)."""
    import struct

    try:
        if content[:8] == _PNG_SIG:
            # walk the chunk chain to the IHDR instead of assuming it is
            # first (a non-IHDR first chunk would both
            # bypass the guard — huge dims in a later IHDR — and
            # false-quarantine lenient-but-decodable payloads). The walk
            # is bounded; a chain the walk can't resolve is one the
            # decoder's identical arithmetic can't reach an IHDR in
            # either, so returning None is safe.
            pos = 8
            for _ in range(4096):
                if pos + 16 > len(content):
                    return None
                length = int.from_bytes(content[pos:pos + 4], "big")
                if content[pos + 4:pos + 8] == b"IHDR":
                    w, h = struct.unpack(">II", content[pos + 8:pos + 16])
                    return w * h
                pos += 12 + length
            return None
        if content[:6] in _GIF_SIGS:
            w, h = struct.unpack("<HH", content[6:10])
            return w * h
        if content[:4] == b"RIFF" and content[8:12] == b"WEBP" \
                and content[12:16] == b"VP8L" and len(content) >= 25:
            # VP8L: signature byte then 14-bit width-1 / height-1,
            # LSB-first from payload byte 1
            bits = int.from_bytes(content[21:25], "little")
            return ((bits & 0x3FFF) + 1) * (((bits >> 14) & 0x3FFF) + 1)
        if content[:2] == b"\xff\xd8":
            i = 2
            while i + 9 < len(content):
                if content[i] != 0xFF:
                    i += 1
                    continue
                m = content[i + 1]
                if m in (0xC0, 0xC1, 0xC2):
                    h, w = struct.unpack(">HH", content[i + 5:i + 9])
                    return w * h
                if m == 0x01 or 0xD0 <= m <= 0xD8:
                    i += 2
                    continue
                i += 2 + int.from_bytes(content[i + 2:i + 4], "big")
    except Exception:
        return None
    return None


def decode_image_safe(content, max_pixels: int = _IMG_MAX_PIXELS):
    """Quarantining wrapper around :func:`decode_image` — the per-row
    s18 pattern for binary columns: corpus bytes are
    untrusted, and ONE malformed payload must become a dead-letter row,
    never a task failure that kills the whole partition (and, after
    retries, the job). Returns ``(width, height, channels, arr, None)``
    on success and ``(None, None, None, None, "<ExcType>: <msg>")`` on
    any decode failure.

    Guarded failure classes (fuzz-tested in
    tests/test_multimodal_fuzz.py with ≥100 mutated payloads):
    truncations anywhere (ValueError via each codec's truncation
    contract), corrupted tables/streams (ValueError/zlib.error),
    dims-overflow headers (rejected by the cheap pre-parse above BEFORE
    any allocation; MemoryError from interior fields is caught as the
    second line of defense), unsupported formats and codec features
    (NotImplementedError), and empty/None payloads."""
    try:
        if content is None or len(content) == 0:
            raise ValueError("empty payload")
        content = bytes(content)
        npx = _declared_pixels(content)
        if npx is not None and npx > max_pixels:
            raise ValueError(
                f"declared {npx} px exceeds the {max_pixels} px guard")
        w, h, c, arr = decode_image(content)
        return w, h, c, arr, None
    except Exception as e:   # noqa: BLE001 — quarantine semantics:
        # ANY per-row failure (incl. MemoryError) dead-letters the row
        return None, None, None, None, f"{type(e).__name__}: {e}"


def decode_images_quarantined(df: DataFrame, *, id_col: str = "media_id",
                              content_col: str = "content",
                              max_pixels: int = _IMG_MAX_PIXELS) -> DataFrame:
    """Frame-level quarantined decode (the s18 PERMISSIVE-CSV pattern
    applied to the image seam): one :func:`map_rows` pass emits
    ``(id, ok, codec, width, height, channels, px_checksum, err)`` per
    input row — decodable payloads carry their stats, malformed ones
    carry ``ok=false`` and the error class (the dead-letter channel a
    production ingest routes to a review table). Row-count is conserved
    by construction; in local mode a single task failure fails the job,
    so the fuzz pytest's completion IS the zero-task-retry assertion."""
    def row(mid, content):
        # a NULL id must dead-letter like any other bad row, not
        # TypeError the task
        if mid is None or (isinstance(mid, float) and mid != mid):
            return (None, False) + (None,) * 5 + ("ValueError: null id",)
        w, h, c, arr, err = decode_image_safe(content, max_pixels)
        if err is not None:
            return (int(mid), False) + (None,) * 5 + (err,)
        raw = bytes(content)
        codec = ("png" if raw[:8] == _PNG_SIG
                 else "gif" if raw[:6] in _GIF_SIGS
                 else "webp" if raw[:4] == b"RIFF" else "jpeg")
        return int(mid), True, codec, w, h, c, _px_stats(arr)[1], None

    return (map_rows(
        df.select(F.col(id_col).alias(id_col), content_col), row,
        "id long, ok boolean, codec string, width int, height int, "
        "channels int, px_checksum long, err string")
        .withColumnRenamed("id", id_col))


def resize_nearest(arr, out_h: int, out_w: int):
    """Nearest-neighbor resize of a (h, w[, c]) pixel array — pure numpy
    index mapping (src_y = floor(y·h/out_h)), the GPU-free downsample a
    multimodal ingest runs before feature extraction. For an integer
    factor-k downsample this picks pixel (k·y, k·x) exactly, which is
    what lets the formula oracle recompute the result in SQL."""
    import numpy as np

    h, w = arr.shape[:2]
    if not (0 < out_h <= h and 0 < out_w <= w):
        raise ValueError(f"resize {h}x{w} -> {out_h}x{out_w} must "
                         "downsample to a positive size")
    ys = np.arange(out_h) * h // out_h
    xs = np.arange(out_w) * w // out_w
    return arr[np.ix_(ys, xs)]
