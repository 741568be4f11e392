"""Multimodal columns: opaque binary payloads + typed metadata
(SURVEY §2.11; BASELINE.json north star).

Image/audio/video payloads are ``BinaryType`` columns with a typed
metadata struct; decode / feature-extract / resize / frame-sample run
as Arrow-batched ``mapInPandas`` stages so each executor processes
whole record batches (the shape that matters at 100 TB: map-only, no
shuffle, batch-granular Python crossing).

Codec support is tiered by what this container allows:

- ``image/bmp`` and ``audio/wav``: REAL pure-Python parsers of the
  public BMP (BITMAPINFOHEADER, 24/32bpp uncompressed) and WAV/RIFF
  (PCM) formats — header-validated, pixel/sample data decoded to
  bytes. Public-spec formats need no codec library.
- ``image/png``: REAL pure-stdlib decoder — chunk walk with CRC
  verification, zlib inflate of the IDAT stream, and full scanline
  unfiltering (None/Sub/Up/Average/Paeth) for 8-bit gray/RGB/GA/RGBA.
  PNG's only compression is DEFLATE, which the stdlib ships.
- ``image/gif``: REAL pure-Python codec with a HAND-ROLLED LZW
  entropy coder both directions (no stdlib LZW exists) — GIF89a
  header/LSD/GCT/descriptor framing, variable-width LSB-first codes,
  dictionary growth to 4096 with CLEAR resets, KwKwK decode case.
- ``application/raw``: deterministic identity codec (test/demo path).
- ``image/jpeg``: REAL two-level support. Header tier: a marker-stream
  walk (public ITU-T T.81 framing) validating segment structure and
  extracting SOF0/SOF1/SOF2 geometry without touching entropy data
  (``decode_jpeg_meta`` — cheap, used by ``media_decode_meta``).
  Pixel tier: a full pure-numpy baseline codec
  (``operators/jpeg_codec.py``: canonical Huffman, DC prediction,
  byte stuffing, restart markers, dequant + IDCT, YCbCr) behind
  ``decode_payload`` — baseline sequential 4:4:4 only; progressive /
  subsampled streams raise a clear ``MediaDecodeError``.
- other lossy formats (MP3/H.264...): STUBBED — their codecs need
  native libraries not installed here; ``decode_payload`` raises
  ``NotImplementedError`` with a clear message. The Spark-side
  plumbing (schema, batching, UDF signatures, partition behavior) is
  identical for all tiers and tested end-to-end.
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F
from pyspark.sql import types as T

from ..session import spread

#: multimodal record: payload + mime + per-modality metadata
MEDIA_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("modality", T.StringType(), False),  # image|audio|video|text
        T.StructField("mime", T.StringType(), True),
        T.StructField("payload", T.BinaryType(), True),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
    ]
)

FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("modality", T.StringType(), False),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("head_hash", T.LongType(), True),
        T.StructField("feature", T.ArrayType(T.DoubleType()), True),
    ]
)


class MediaDecodeError(ValueError):
    """Malformed payload for the claimed mime type."""


def decode_bmp(payload: bytes) -> tuple[bytes, dict]:
    """Parse an uncompressed 24/32bpp BMP (public format: BITMAPFILEHEADER
    + BITMAPINFOHEADER): returns (pixel bytes bottom-up as stored,
    {width, height, bpp}). Pure stdlib ``struct`` — no codec library."""
    if len(payload) < 54 or payload[:2] != b"BM":
        raise MediaDecodeError("not a BMP: missing 'BM' magic / truncated header")
    file_size, _, _, pix_offset = struct.unpack_from("<IHHI", payload, 2)
    hdr_size, width, height, planes, bpp, compression = struct.unpack_from(
        "<IiiHHI", payload, 14
    )
    if hdr_size < 40:
        raise MediaDecodeError(f"unsupported DIB header size {hdr_size}")
    if compression != 0:
        raise MediaDecodeError(f"compressed BMP (method {compression}) unsupported")
    if bpp not in (24, 32):
        raise MediaDecodeError(f"only 24/32bpp supported, got {bpp}")
    if width <= 0 or height == 0:
        raise MediaDecodeError(f"invalid dimensions {width}x{height}")
    rows = abs(height)
    row_stride = ((width * bpp // 8) + 3) & ~3  # rows pad to 4 bytes
    need = pix_offset + row_stride * rows
    if len(payload) < need:
        raise MediaDecodeError(f"pixel data truncated: {len(payload)} < {need}")
    return payload[pix_offset:need], {
        "width": width,
        "height": height,
        "bpp": bpp,
    }


def decode_wav(payload: bytes) -> tuple[bytes, dict]:
    """Parse a PCM WAV (public RIFF format): returns (sample bytes,
    {channels, sample_rate, bits}). Walks RIFF chunks to 'fmt '/'data'."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"WAVE":
        raise MediaDecodeError("not a WAV: missing RIFF/WAVE magic")
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(payload):
        cid, size = payload[pos : pos + 4], struct.unpack_from("<I", payload, pos + 4)[0]
        body = payload[pos + 8 : pos + 8 + size]
        if cid == b"fmt " and len(body) >= 16:
            audio_fmt, channels, rate, _, _, bits = struct.unpack_from("<HHIIHH", body, 0)
            if audio_fmt != 1:
                raise MediaDecodeError(f"non-PCM WAV (format {audio_fmt}) unsupported")
            fmt = {"channels": channels, "sample_rate": rate, "bits": bits}
        elif cid == b"data":
            if len(body) < size:
                raise MediaDecodeError(f"data chunk truncated: {len(body)} < {size}")
            data = body
        pos += 8 + size + (size & 1)  # chunks pad to even offsets
    if fmt is None or data is None:
        raise MediaDecodeError("WAV missing fmt or data chunk")
    return data, fmt


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
#: channels per PNG color type (8-bit only; 3=palette unsupported)
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _paeth(a: int, b: int, c: int) -> int:
    """PNG Paeth predictor (public spec, RFC 2083 §6.6)."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def _paeth_vec(a: "np.ndarray", b: "np.ndarray", c: "np.ndarray") -> "np.ndarray":
    """Vectorized Paeth predictor over int16 lane arrays."""
    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


def decode_png(payload: bytes) -> tuple[bytes, dict]:
    """Parse an 8-bit non-interlaced PNG (public format: RFC 2083):
    returns (unfiltered pixel bytes top-down, {width, height,
    bit_depth, color_type}). Pure stdlib — chunk CRCs verified,
    IDAT inflated with zlib, all five scanline filters inverted."""
    if len(payload) < 8 or payload[:8] != _PNG_SIG:
        raise MediaDecodeError("not a PNG: missing signature")
    pos, ihdr, idat = 8, None, bytearray()
    while pos + 8 <= len(payload):
        (length,) = struct.unpack_from(">I", payload, pos)
        ctype = payload[pos + 4 : pos + 8]
        data = payload[pos + 8 : pos + 8 + length]
        if len(data) < length:
            raise MediaDecodeError(f"chunk {ctype!r} truncated")
        if pos + 12 + length > len(payload):
            raise MediaDecodeError(f"chunk {ctype!r} missing CRC")
        (crc,) = struct.unpack_from(">I", payload, pos + 8 + length)
        if zlib.crc32(ctype + data) & 0xFFFFFFFF != crc:
            raise MediaDecodeError(f"chunk {ctype!r} CRC mismatch")
        if ctype == b"IHDR":
            if length != 13:
                raise MediaDecodeError(f"IHDR length {length} != 13")
            ihdr = struct.unpack(">IIBBBBB", data)
        elif ctype == b"IDAT":
            idat += data
        elif ctype == b"IEND":
            break
        pos += 12 + length
    if ihdr is None:
        raise MediaDecodeError("PNG missing IHDR chunk")
    width, height, bit_depth, color_type, comp, filt, interlace = ihdr
    if comp != 0 or filt != 0:
        raise MediaDecodeError("nonstandard PNG compression/filter method")
    if interlace != 0:
        raise MediaDecodeError("interlaced (Adam7) PNG unsupported")
    if bit_depth != 8:
        raise MediaDecodeError(f"only 8-bit PNG supported, got {bit_depth}")
    if color_type not in _PNG_CHANNELS:
        raise MediaDecodeError(f"unsupported PNG color type {color_type}")
    if width <= 0 or height <= 0:
        raise MediaDecodeError(f"invalid dimensions {width}x{height}")
    if not idat:
        raise MediaDecodeError("PNG missing IDAT data")
    try:
        raw = zlib.decompress(bytes(idat))
    except zlib.error as e:
        raise MediaDecodeError(f"IDAT inflate failed: {e}") from e
    bpp = _PNG_CHANNELS[color_type]  # bytes per pixel at depth 8
    stride = width * bpp
    if len(raw) != height * (1 + stride):
        raise MediaDecodeError(
            f"decompressed size {len(raw)} != {height * (1 + stride)}"
        )
    # Vectorized unfilter (round 5 — the per-byte loops dominated the
    # PNG roundtrip query): rows of the raw stream as a (height,
    # 1+stride) uint8 matrix; None rows copy, Sub rows are a per-lane
    # cumsum within the row, runs of Up rows are a cumsum down the
    # column block (uint8 accumulate == mod-256 by construction), and
    # the pixel-sequential Average/Paeth rows loop per PIXEL with all
    # lanes vectorized. Bad filter bytes are detected up front.
    mat = np.frombuffer(raw, dtype=np.uint8).reshape(height, 1 + stride)
    ftypes, lines = mat[:, 0], mat[:, 1:]
    bad = np.nonzero(ftypes > 4)[0]
    if bad.size:
        y = int(bad[0])
        raise MediaDecodeError(
            f"unknown PNG filter type {int(ftypes[y])} (row {y})"
        )
    out2d = np.empty((height, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.uint8)
    y = 0
    while y < height:
        ft = int(ftypes[y])
        if ft in (0, 1, 2):  # row-independent or cumsum shapes: do the
            y2 = y + 1       # whole consecutive run in one numpy op
            while y2 < height and ftypes[y2] == ft:
                y2 += 1
            if ft == 0:  # None
                out2d[y:y2] = lines[y:y2]
            elif ft == 1:  # Sub: per-lane prefix sum within each row
                out2d[y:y2] = np.cumsum(
                    lines[y:y2].reshape(y2 - y, -1, bpp), axis=1, dtype=np.uint8
                ).reshape(y2 - y, -1)
            else:  # Up: prefix sum down the rows, seeded by prev
                block = np.cumsum(lines[y:y2], axis=0, dtype=np.uint8)
                block += prev  # broadcast the base row
                out2d[y:y2] = block
            prev = out2d[y2 - 1]
            y = y2
            continue
        # Average/Paeth decode needs the DECODED left pixel — a true
        # x-sequential recurrence. Below ~64 bytes/row (our width-4
        # payloads) scalar byte ops beat numpy's per-slice overhead;
        # wide scanlines use int16 lane vectors.
        line = lines[y]
        if stride < 64:
            lpy, upy = line.tolist(), prev.tolist()
            curl = [0] * stride
            if ft == 3:  # Average
                for i in range(stride):
                    left = curl[i - bpp] if i >= bpp else 0
                    curl[i] = (lpy[i] + ((left + upy[i]) >> 1)) & 0xFF
            else:  # Paeth
                for i in range(stride):
                    left = curl[i - bpp] if i >= bpp else 0
                    ul = upy[i - bpp] if i >= bpp else 0
                    curl[i] = (lpy[i] + _paeth(left, upy[i], ul)) & 0xFF
            cur = np.array(curl, dtype=np.uint8)
        elif ft == 3:  # Average: sequential in x, vector across lanes
            cur = np.empty(stride, dtype=np.uint8)
            lp, up16 = line.astype(np.int16), prev.astype(np.int16)
            left = np.zeros(bpp, dtype=np.int16)
            for x in range(0, stride, bpp):
                px = (lp[x : x + bpp] + ((left + up16[x : x + bpp]) >> 1)) & 0xFF
                cur[x : x + bpp] = px.astype(np.uint8)
                left = px
        else:  # Paeth, wide rows
            cur = np.empty(stride, dtype=np.uint8)
            lp, up16 = line.astype(np.int16), prev.astype(np.int16)
            left = np.zeros(bpp, dtype=np.int16)
            ul = np.zeros(bpp, dtype=np.int16)
            for x in range(0, stride, bpp):
                upx = up16[x : x + bpp]
                px = (lp[x : x + bpp] + _paeth_vec(left, upx, ul)) & 0xFF
                cur[x : x + bpp] = px.astype(np.uint8)
                left, ul = px, upx
        out2d[y] = cur
        prev = cur
        y += 1
    return out2d.tobytes(), {
        "width": width,
        "height": height,
        "bit_depth": bit_depth,
        "color_type": color_type,
    }


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def encode_png(content: bytes, width: int = 4, filter_type: int = 0) -> bytes:
    """Pack raw bytes as an 8-bit RGB PNG (color type 2). Deterministic
    inverse of :func:`decode_png` up to zero-padding; ``filter_type``
    applies the chosen scanline filter to every row so tests can
    exercise each of the five inverse filters."""
    if filter_type not in range(5):
        raise ValueError(f"filter_type must be 0..4, got {filter_type}")
    bpp = 3
    stride = width * bpp
    rows = max(1, -(-len(content) // stride))
    pix = np.frombuffer(
        content.ljust(rows * stride, b"\x00"), dtype=np.uint8
    ).reshape(rows, stride)
    # Filters predict from RAW neighbor bytes (unlike decode, which
    # predicts from decoded ones), so every filter vectorizes over the
    # whole image: left = row shifted one pixel, up = previous raw row.
    if filter_type == 0:
        filt = pix
    else:
        up = np.zeros_like(pix)
        up[1:] = pix[:-1]
        left = np.zeros_like(pix)
        left[:, bpp:] = pix[:, :-bpp]
        if filter_type == 1:  # Sub
            filt = pix - left
        elif filter_type == 2:  # Up
            filt = pix - up
        elif filter_type == 3:  # Average
            filt = pix - (
                ((left.astype(np.int16) + up.astype(np.int16)) >> 1)
            ).astype(np.uint8)
        else:  # Paeth
            ul = np.zeros_like(pix)
            ul[1:, bpp:] = pix[:-1, :-bpp]
            pred = _paeth_vec(
                left.astype(np.int16), up.astype(np.int16), ul.astype(np.int16)
            )
            filt = pix - pred.astype(np.uint8)
    raw = np.empty((rows, 1 + stride), dtype=np.uint8)
    raw[:, 0] = filter_type
    raw[:, 1:] = filt
    raw = raw.tobytes()
    ihdr = struct.pack(">IIBBBBB", width, rows, 8, 2, 0, 0, 0)
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(bytes(raw)))
        + _png_chunk(b"IEND", b"")
    )


#: SOF markers that carry frame geometry (ITU-T T.81 table B.1).
#: C4=DHT, C8=JPG, CC=DAC are NOT frame headers; other Cx SOFs
#: (lossless/arithmetic) are rejected as unsupported below.
_JPEG_SOF = {0xC0: "baseline", 0xC1: "extended", 0xC2: "progressive"}
_JPEG_SOF_OTHER = frozenset(
    range(0xC3, 0xD0)
) - {0xC4, 0xC8, 0xCC} - set(_JPEG_SOF)


def _lzw_encode_gif(indices: bytes, min_code_size: int = 8) -> bytes:
    """GIF-variant LZW compression of an index stream — a REAL
    hand-rolled entropy coder (no stdlib equivalent exists: zlib is
    DEFLATE, not LZW). Variable-width codes LSB-first starting at
    min_code_size+1 bits; the dictionary holds 2^mcs singletons plus
    CLEAR and EOI, grows to 4096 entries, then emits CLEAR and
    resets (the GIF89a appendix F algorithm). Deterministic."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out = bytearray()
    bitbuf = 0
    nbits = 0

    def emit(code: int, width: int) -> None:
        nonlocal bitbuf, nbits
        bitbuf |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(bitbuf & 0xFF)
            bitbuf >>= 8
            nbits -= 8

    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}
    next_code = eoi + 1
    width = min_code_size + 1
    emit(clear, width)
    w = b""
    for b in indices:
        wc = w + bytes([b])
        if wc in table:
            w = wc
            continue
        emit(table[w], width)
        table[wc] = next_code
        next_code += 1
        # GIF widens AFTER assigning the code that first needs it
        if next_code == (1 << width) + 1 and width < 12:
            width += 1
        if next_code == 4097:  # dictionary full: reset per spec
            emit(clear, width)
            table = {bytes([i]): i for i in range(clear)}
            next_code = eoi + 1
            width = min_code_size + 1
        w = bytes([b])
    if w:
        emit(table[w], width)
    emit(eoi, width)
    if nbits:
        out.append(bitbuf & 0xFF)
    return bytes(out)


def _lzw_decode_gif(data: bytes, min_code_size: int = 8) -> bytes:
    """Inverse of :func:`_lzw_encode_gif` (GIF89a appendix F),
    including the KwKwK case (code == next unassigned entry)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    width = min_code_size + 1
    out = bytearray()
    prev: bytes | None = None
    bitbuf = 0
    nbits = 0
    pos = 0
    while True:
        while nbits < width:
            if pos >= len(data):
                raise MediaDecodeError("LZW stream truncated (no EOI)")
            bitbuf |= data[pos] << nbits
            pos += 1
            nbits += 8
        code = bitbuf & ((1 << width) - 1)
        bitbuf >>= width
        nbits -= width
        if code == clear:
            table = [bytes([i]) for i in range(clear)] + [b"", b""]
            width = min_code_size + 1
            prev = None
            continue
        if code == eoi:
            return bytes(out)
        if prev is None:
            if code >= len(table):
                raise MediaDecodeError(f"LZW: first code {code} not in table")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):  # KwKwK
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise MediaDecodeError(f"LZW: code {code} beyond table")
        out += entry
        if len(table) == (1 << width) and width < 12:
            width += 1
        prev = entry
        if len(table) == 4096:
            # encoder resets exactly here; expect its CLEAR next
            prev = None
            # table stays until CLEAR arrives; further codes >= table
            # size would be an error, which the loop enforces


def encode_gif(content: bytes, width: int = 4) -> bytes:
    """Pack raw bytes as an 8-bit indexed GIF89a (256-entry grayscale
    palette, one byte per pixel) with REAL hand-rolled LZW
    compression. Deterministic inverse of :func:`decode_gif` up to
    zero-padding to the width*height grid."""
    height = max(1, -(-len(content) // width))
    if width > 0xFFFF or height > 0xFFFF:
        # GIF dimensions are 16-bit by spec (unlike PNG's 32-bit):
        # anything past width*65535 content bytes cannot be framed —
        # raise a typed per-payload error instead of letting
        # struct.pack abort the whole Arrow stage
        raise MediaDecodeError(
            f"GIF: {len(content)} content bytes need height {height}"
            f" > 65535 at width {width}; widen the image"
        )
    pixels = content + b"\x00" * (width * height - len(content))
    gct = bytes(v for i in range(256) for v in (i, i, i))
    lzw = _lzw_encode_gif(pixels, 8)
    blocks = bytearray()
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        blocks.append(len(chunk))
        blocks += chunk
    blocks.append(0)  # block terminator
    return (
        b"GIF89a"
        + struct.pack("<HHBBB", width, height, 0xF7, 0, 0)
        + gct
        + struct.pack("<BHHHHB", 0x2C, 0, 0, width, height, 0)
        + bytes([8])
        + bytes(blocks)
        + b"\x3B"
    )


def decode_gif(payload: bytes) -> tuple[bytes, dict]:
    """REAL pure-Python GIF89a decoder: header + logical screen
    descriptor, global color table, extension-block skipping, image
    descriptor, and full hand-rolled LZW decompression of the index
    stream. Returns (index bytes, meta)."""
    if len(payload) < 13 or payload[:6] not in (b"GIF87a", b"GIF89a"):
        raise MediaDecodeError("not a GIF payload")
    try:
        return _decode_gif_body(payload)
    except (IndexError, struct.error) as e:
        raise MediaDecodeError(f"GIF: truncated payload ({e})") from e


def _decode_gif_body(payload: bytes) -> tuple[bytes, dict]:
    w, h, packed, _bg, _ar = struct.unpack("<HHBBB", payload[6:13])
    pos = 13
    n_colors = 0
    if packed & 0x80:
        n_colors = 2 << (packed & 0x07)
        pos += 3 * n_colors
    while True:
        if pos >= len(payload):
            raise MediaDecodeError("GIF: no image descriptor")
        b0 = payload[pos]
        if b0 == 0x21:  # extension: label + sub-blocks
            pos += 2
            while payload[pos] != 0:
                pos += 1 + payload[pos]
            pos += 1
        elif b0 == 0x2C:
            break
        elif b0 == 0x3B:
            raise MediaDecodeError("GIF: trailer before image data")
        else:
            raise MediaDecodeError(f"GIF: unknown block 0x{b0:02x}")
    _, left, top, iw, ih, iflags = struct.unpack(
        "<BHHHHB", payload[pos : pos + 10]
    )
    pos += 10
    if iflags & 0x80:  # local color table
        pos += 3 * (2 << (iflags & 0x07))
    if iflags & 0x40:
        raise MediaDecodeError("GIF: interlaced streams not supported")
    mcs = payload[pos]
    pos += 1
    lzw = bytearray()
    while True:
        n = payload[pos]
        pos += 1
        if n == 0:
            break
        lzw += payload[pos : pos + n]
        pos += n
    indices = _lzw_decode_gif(bytes(lzw), mcs)
    if len(indices) != iw * ih:
        raise MediaDecodeError(
            f"GIF: decoded {len(indices)} pixels for a {iw}x{ih} image"
        )
    return indices, {
        "width": iw,
        "height": ih,
        "n_colors": n_colors,
        "min_code_size": mcs,
    }


def decode_jpeg_meta(payload: bytes) -> dict:
    """Parse the JPEG marker stream (public ITU-T T.81 / JFIF framing)
    up to SOS and return the SOF frame geometry: {width, height,
    components, precision, mode}. The hardened marker walk is SHARED
    with the full decoder (jpeg_codec.iter_jpeg_segments — one place
    to fix bounds bugs, per the round-5 review); entropy-coded data is
    never touched here."""
    from .jpeg_codec import JpegError, iter_jpeg_segments

    try:
        for marker, body, _ in iter_jpeg_segments(payload):
            if marker in _JPEG_SOF:
                if len(body) < 6:
                    raise MediaDecodeError("SOF body truncated")
                precision, height, width, ncomp = struct.unpack_from(
                    ">BHHB", body, 0
                )
                if len(body) != 6 + 3 * ncomp:
                    raise MediaDecodeError(
                        f"SOF length {2 + len(body)} != {8 + 3 * ncomp} "
                        f"for {ncomp} components"
                    )
                if width <= 0 or height <= 0 or ncomp not in (1, 3, 4):
                    raise MediaDecodeError(
                        f"invalid SOF geometry {width}x{height}x{ncomp}"
                    )
                return {
                    "width": width,
                    "height": height,
                    "components": ncomp,
                    "precision": precision,
                    "mode": _JPEG_SOF[marker],
                }
            if marker in _JPEG_SOF_OTHER:
                raise MediaDecodeError(
                    f"unsupported JPEG coding process (SOF marker 0xFF{marker:02X})"
                )
    except JpegError as e:
        raise MediaDecodeError(str(e)) from e
    raise MediaDecodeError("JPEG missing SOF frame header")


#: standard JFIF APP0 body: identifier, v1.01, DPI units, 72x72, no thumb
_JFIF_APP0 = b"JFIF\x00\x01\x01\x01\x00\x48\x00\x48\x00\x00"
#: flat luminance quant table (all 16s) — deterministic filler
_JPEG_DQT = bytes([0x00]) + bytes([16] * 64)
#: minimal DC huffman table: 1 code of length 2 mapping to symbol 0
_JPEG_DHT = bytes([0x00]) + bytes([0, 1] + [0] * 14) + bytes([0])


def _jpeg_seg(marker: int, body: bytes) -> bytes:
    return bytes([0xFF, marker]) + struct.pack(">H", 2 + len(body)) + body


def encode_jpeg_container(
    content: bytes, width: int = 4, stride_px: int = 4
) -> bytes:
    """Wrap raw bytes in a structurally-valid baseline-JPEG container:
    SOI + JFIF APP0 + DQT + SOF0 (3 components, 8-bit, geometry derived
    from the content length exactly like encode_png) + DHT + SOS +
    content as the entropy segment + EOI. The entropy bytes are the
    content verbatim — NOT a real huffman stream (this is the header
    tier's deterministic test payload, not an encoder) — which is safe
    iff the content contains no 0xFF byte (0xFF would need stuffing and
    would end the scan early); UTF-8 text never does. Total size is
    therefore closed-form: len(content) + fixed overhead
    (:data:`JPEG_CONTAINER_OVERHEAD`)."""
    if b"\xff" in content:
        raise ValueError("content with 0xFF bytes needs real entropy coding")
    bpp = 3
    stride = stride_px * bpp
    rows = max(1, -(-len(content) // stride))
    sof = struct.pack(">BHHB", 8, rows, width, 3) + bytes(
        [1, 0x11, 0, 2, 0x11, 0, 3, 0x11, 0]
    )
    sos = bytes([3, 1, 0x00, 2, 0x00, 3, 0x00, 0, 63, 0])
    return (
        b"\xff\xd8"
        + _jpeg_seg(0xE0, _JFIF_APP0)
        + _jpeg_seg(0xDB, _JPEG_DQT)
        + _jpeg_seg(0xC0, sof)
        + _jpeg_seg(0xC4, _JPEG_DHT)
        + _jpeg_seg(0xDA, sos)
        + content
        + b"\xff\xd9"
    )


#: fixed container bytes around the entropy segment (SOI + APP0 + DQT
#: + SOF0[3 comps] + DHT + SOS + EOI) — pinned by a test and by the
#: multimodal_jpeg_meta oracle's closed-form n_bytes
JPEG_CONTAINER_OVERHEAD = (
    2 + (4 + len(_JFIF_APP0)) + (4 + len(_JPEG_DQT)) + (4 + 6 + 3 * 3)
    + (4 + len(_JPEG_DHT)) + (4 + 10) + 2
)


def decode_payload(payload: bytes, mime: str):
    """Decode a binary payload to its raw content bytes.

    image/bmp and audio/wav are REAL pure-Python parsers (public
    formats); application/raw is the identity codec; compressed
    formats raise — their codecs need native libraries not installed
    in this environment (clearly-marked stub tier)."""
    if mime == "application/raw":
        return payload
    if mime == "image/bmp":
        return decode_bmp(payload)[0]
    if mime == "image/png":
        return decode_png(payload)[0]
    if mime == "image/gif":
        return decode_gif(payload)[0]
    if mime in ("audio/wav", "audio/x-wav", "audio/wave"):
        return decode_wav(payload)[0]
    if mime == "image/jpeg":
        from .jpeg_codec import JpegError, decode_jpeg

        try:
            return decode_jpeg(payload)[0].tobytes()
        except JpegError as e:
            raise MediaDecodeError(str(e)) from e
    raise NotImplementedError(
        f"codec for {mime!r} not available in this environment; "
        "plug a real decoder here (PIL/libav/...) on a cluster image. "
        "(BMP/PNG/GIF/WAV/JPEG above and IMA-ADPCM in operators/adpcm.py "
        "are REAL implementations; only MP3/H.264-class float-"
        "filterbank codecs remain stubbed)"
    )


def encode_bmp(content: bytes, width: int = 4) -> bytes:
    """Pack raw bytes as a 24bpp BMP (width chosen so the row stride
    needs no padding). Deterministic inverse of :func:`decode_bmp` up
    to zero-padding — used to synthesize real-format test payloads."""
    bpr = width * 3
    if bpr % 4:
        raise ValueError("choose width with width*3 % 4 == 0")
    rows = max(1, -(-len(content) // bpr))
    pix = content.ljust(rows * bpr, b"\x00")
    header = b"BM" + struct.pack("<IHHI", 54 + len(pix), 0, 0, 54)
    dib = struct.pack(
        "<IiiHHIIiiII", 40, width, rows, 1, 24, 0, len(pix), 2835, 2835, 0, 0
    )
    return header + dib + pix


def encode_wav(
    samples: bytes, channels: int = 1, rate: int = 8000, bits: int = 16
) -> bytes:
    """Wrap raw sample bytes in a PCM WAV container (RIFF/fmt/data).
    Odd-length sample data gets a RIFF pad byte OUTSIDE the declared
    chunk size, so decode_wav(encode_wav(x)) == x exactly."""
    fmt = struct.pack(
        "<HHIIHH", 1, channels, rate, rate * channels * bits // 8,
        channels * bits // 8, bits,
    )
    pad = b"\x00" if len(samples) % 2 else b""
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", 16) + fmt
        + b"data" + struct.pack("<I", len(samples)) + samples + pad
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


META_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("mime", T.StringType(), True),
        T.StructField("ok", T.BooleanType(), False),
        T.StructField("error", T.StringType(), True),
        T.StructField("meta", T.MapType(T.StringType(), T.StringType()), True),
    ]
)


def media_decode_meta(media: DataFrame) -> DataFrame:
    """Header-level decode probe: per payload, the typed metadata the
    container format declares (BMP: width/height/bpp; WAV: channels/
    sample_rate/bits), or the decode error. Map-only mapInPandas —
    reads only headers, never shuffles payloads."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                mime = r.mime or "application/raw"
                try:
                    if r.payload is None:
                        rows.append((r.id, mime, False, "null payload", None))
                    elif mime == "image/bmp":
                        _, m = decode_bmp(bytes(r.payload))
                        rows.append((r.id, mime, True, None, {k: str(v) for k, v in m.items()}))
                    elif mime == "image/png":
                        _, m = decode_png(bytes(r.payload))
                        rows.append((r.id, mime, True, None, {k: str(v) for k, v in m.items()}))
                    elif mime == "image/gif":
                        _, m = decode_gif(bytes(r.payload))
                        rows.append((r.id, mime, True, None, {k: str(v) for k, v in m.items()}))
                    elif mime in ("audio/wav", "audio/x-wav", "audio/wave"):
                        _, m = decode_wav(bytes(r.payload))
                        rows.append((r.id, mime, True, None, {k: str(v) for k, v in m.items()}))
                    elif mime == "image/jpeg":
                        m = decode_jpeg_meta(bytes(r.payload))
                        rows.append((r.id, mime, True, None, {k: str(v) for k, v in m.items()}))
                    elif mime == "application/raw":
                        rows.append(
                            (r.id, mime, True, None, {"n_bytes": str(len(r.payload))})
                        )
                    else:
                        # keep the probe consistent with decode_payload:
                        # a mime it would refuse must not claim ok=True
                        rows.append(
                            (r.id, mime, False,
                             f"codec for {mime!r} not available", None)
                        )
                except MediaDecodeError as e:
                    rows.append((r.id, mime, False, str(e), None))
            yield pd.DataFrame(rows, columns=["id", "mime", "ok", "error", "meta"])

    return media.mapInPandas(gen, schema=META_SCHEMA)


def _head_hash(b: bytes, n: int = 16) -> int:
    """Stable polynomial hash of the first n payload bytes (the same
    fold as hashing.token_hash, over bytes)."""
    h = 0
    for x in b[:n]:
        h = (h * 31 + x) % 1_000_000_007
    return h


def extract_features(media: DataFrame, dim: int = 8) -> DataFrame:
    """Feature extraction over media batches via mapInPandas.

    The fake feature vector is a deterministic byte-histogram projection
    (stand-in for a real image/audio encoder); the real deliverable is
    the stage shape: Arrow batches in, Arrow batches out, map-only.
    """

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                payload = r.payload
                if payload is None:
                    rows.append((r.id, r.modality, None, None, None))
                    continue
                data = decode_payload(bytes(payload), r.mime or "application/raw")
                feat = [0.0] * dim
                for i, x in enumerate(data):
                    feat[(x + i) % dim] += 1.0
                total = sum(feat) or 1.0
                rows.append(
                    (
                        r.id,
                        r.modality,
                        len(data),
                        _head_hash(data),
                        [v / total for v in feat],
                    )
                )
            yield pd.DataFrame(
                rows, columns=["id", "modality", "n_bytes", "head_hash", "feature"]
            )

    return media.mapInPandas(gen, schema=FEATURES_SCHEMA)


#: (id, n_bytes, content_sum) — full-decode audit columns
CONTENT_SUM_SCHEMA = (
    "id long, n_bytes long, content_sum long"
)


def media_content_sum(media: DataFrame) -> DataFrame:
    """FULL-decode audit: per payload, the decoded content length and
    the exact sum of its byte values — the cheapest whole-content
    checksum an oracle can replay in closed form from the source
    text. A bug ANYWHERE in a codec path (entropy coder, framing,
    padding) changes the sum; header-only probes can't see past the
    container. Map-only mapInPandas."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                data = decode_payload(
                    bytes(r.payload), r.mime or "application/raw"
                )
                rows.append((r.id, len(data), sum(data)))
            yield pd.DataFrame(
                rows, columns=["id", "n_bytes", "content_sum"]
            )

    return media.mapInPandas(gen, schema=CONTENT_SUM_SCHEMA)


def media_from_documents(docs: DataFrame) -> DataFrame:
    """Synthesize a media table from the documents corpus (UTF-8 bytes
    as 'application/raw' payloads) — deterministic test/demo input
    exercising the full binary-column path."""
    return docs.select(
        F.col("doc_id").alias("id"),
        F.lit("text").alias("modality"),
        F.lit("application/raw").alias("mime"),
        F.encode("text", "UTF-8").alias("payload"),
        F.create_map(F.lit("lang"), F.col("lang")).alias("meta"),
    )


def media_from_documents_mixed(docs: DataFrame) -> DataFrame:
    """Synthesize a mixed-format media table from the documents corpus:
    even doc_ids become real BMP images, odd doc_ids real WAV audio,
    both carrying the document's UTF-8 bytes as content. Deterministic,
    exercises the REAL format parsers through the full Arrow path."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                content = (r.text or "").encode("utf-8")
                if r.doc_id % 2 == 0:
                    rows.append(
                        (r.doc_id, "image", "image/bmp", encode_bmp(content), {"lang": r.lang})
                    )
                else:
                    rows.append(
                        (r.doc_id, "audio", "audio/wav", encode_wav(content), {"lang": r.lang})
                    )
            yield pd.DataFrame(
                rows, columns=["id", "modality", "mime", "payload", "meta"]
            )

    # no fan-out: BMP/WAV packing is struct-copy cheap — a repartition
    # would cost more than the serial encode (measured at sf0.1)
    return docs.select("doc_id", "text", "lang").mapInPandas(
        gen, schema=MEDIA_SCHEMA
    )


def media_from_documents_png(docs: DataFrame) -> DataFrame:
    """Synthesize a PNG media table from the documents corpus: every
    document's UTF-8 bytes compressed into a real RGB PNG. Filter 0
    (None) by default — like a real screenshot/chart corpus, where
    most encoders emit None/Up — with a deterministic 25% slice
    (doc_id % 20 < 5) cycling through filters 0-4 so every inverse
    filter stays exercised at any scale. Deterministic end to end."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                content = (r.text or "").encode("utf-8")
                ft = r.doc_id % 5 if r.doc_id % 20 < 5 else 0
                rows.append(
                    (
                        r.doc_id,
                        "image",
                        "image/png",
                        encode_png(content, filter_type=ft),
                        {"lang": r.lang},
                    )
                )
            yield pd.DataFrame(
                rows, columns=["id", "modality", "mime", "payload", "meta"]
            )

    # CPU-bound Python codec (ms per row): spread the document rows
    # first (measured: jpeg_pixel 10 s -> ~2 s at sf0.1). Cheap
    # generators (BMP/WAV struct packing) skip it — there the shuffle
    # costs more than the serial encode.
    return spread(docs.select("doc_id", "text", "lang")).mapInPandas(
        gen, schema=MEDIA_SCHEMA
    )


def media_from_documents_gif(docs: DataFrame) -> DataFrame:
    """Synthesize a GIF media table from the documents corpus: every
    document's UTF-8 bytes LZW-compressed into a real indexed GIF89a
    (256-entry grayscale palette). Deterministic end to end."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                content = (r.text or "").encode("utf-8")
                rows.append(
                    (
                        r.doc_id,
                        "image",
                        "image/gif",
                        encode_gif(content),
                        {"lang": r.lang},
                    )
                )
            yield pd.DataFrame(
                rows, columns=["id", "modality", "mime", "payload", "meta"]
            )

    return spread(docs.select("doc_id", "text", "lang")).mapInPandas(
        gen, schema=MEDIA_SCHEMA
    )


def media_from_documents_jpeg(docs: DataFrame) -> DataFrame:
    """Synthesize a JPEG media table from the documents corpus: every
    document's UTF-8 bytes wrapped in a structurally-valid baseline
    JPEG container (SOF0 geometry derived from the byte length exactly
    like the PNG generator). Deterministic end to end; exercises the
    marker-stream parser through the full Arrow path."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                content = (r.text or "").encode("utf-8")
                rows.append(
                    (
                        r.doc_id,
                        "image",
                        "image/jpeg",
                        encode_jpeg_container(content),
                        {"lang": r.lang},
                    )
                )
            yield pd.DataFrame(
                rows, columns=["id", "modality", "mime", "payload", "meta"]
            )

    return spread(docs.select("doc_id", "text", "lang")).mapInPandas(
        gen, schema=MEDIA_SCHEMA
    )


def media_from_documents_jpeg_real(docs: DataFrame) -> DataFrame:
    """Synthesize REAL baseline JPEGs from the documents corpus: one
    8px-wide image per document, ceil(len/64) stacked 8x8 blocks, each
    block a uniform gray v_b = (7*doc_id + 13*b) % 256. Uniform blocks
    round-trip EXACTLY under the flat quant table (DC step 8 — see
    jpeg_codec), while the varying per-block grays drive real DC
    prediction diffs, Huffman categories and bit stuffing. Every
    decoded byte therefore has a closed form in (doc_id, block index),
    which the multimodal_jpeg_pixel oracle exploits."""
    from .jpeg_codec import encode_jpeg

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                n = len((r.text or "").encode("utf-8"))
                nb = max(1, -(-n // 64))
                blocks = (
                    (7 * r.doc_id + 13 * np.arange(nb)) % 256
                ).astype(np.uint8)
                img = np.repeat(blocks, 64).reshape(nb * 8, 8)
                rows.append(
                    (
                        r.doc_id,
                        "image",
                        "image/jpeg",
                        encode_jpeg(np.stack([img] * 3, axis=-1)),
                        {"lang": r.lang},
                    )
                )
            yield pd.DataFrame(
                rows, columns=["id", "modality", "mime", "payload", "meta"]
            )

    return spread(docs.select("doc_id", "text", "lang")).mapInPandas(
        gen, schema=MEDIA_SCHEMA
    )


IMAGE_STATS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("width", T.LongType(), True),
        T.StructField("height", T.LongType(), True),
        T.StructField("components", T.LongType(), True),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("byte_sum", T.LongType(), True),
        T.StructField("head_hash", T.LongType(), True),
    ]
)


def media_image_stats(media: DataFrame) -> DataFrame:
    """Geometry + whole-content statistics in ONE decode pass per
    payload (the two-stage meta-join variant decoded AND re-encoded the
    corpus twice; this is the pipeline shape a user actually runs).
    Map-only mapInPandas; nothing shuffles."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                img = decode_image_array(
                    bytes(r.payload), r.mime or "application/raw"
                )
                data = img.tobytes()
                rows.append(
                    (
                        r.id,
                        img.shape[1],
                        img.shape[0],
                        img.shape[2],
                        len(data),
                        int(img.sum(dtype=np.int64)),
                        _head_hash(data),
                    )
                )
            yield pd.DataFrame(rows, columns=[f.name for f in IMAGE_STATS_SCHEMA])

    return media.mapInPandas(gen, schema=IMAGE_STATS_SCHEMA)


def decode_image_array(payload: bytes, mime: str) -> "np.ndarray":
    """Decode an image payload to an (h, w, channels) uint8 array —
    the shape-aware sibling of :func:`decode_payload` that resize /
    feature stages need. BMP rows are un-padded and flipped to
    top-down; PNG reshapes by color type; JPEG decodes directly."""
    if mime == "image/bmp":
        pix, m = decode_bmp(payload)
        w, hgt, bpp = m["width"], m["height"], m["bpp"]
        rows, ch = abs(hgt), bpp // 8
        stride = ((w * bpp // 8) + 3) & ~3
        arr = np.frombuffer(pix, dtype=np.uint8).reshape(rows, stride)
        arr = arr[:, : w * ch].reshape(rows, w, ch)
        return arr[::-1] if hgt > 0 else arr  # positive height = bottom-up
    if mime == "image/png":
        content, m = decode_png(payload)
        ch = _PNG_CHANNELS[m["color_type"]]
        return np.frombuffer(content, dtype=np.uint8).reshape(
            m["height"], m["width"], ch
        )
    if mime == "image/jpeg":
        from .jpeg_codec import JpegError, decode_jpeg

        try:
            return decode_jpeg(payload)[0]
        except JpegError as e:
            raise MediaDecodeError(str(e)) from e
    raise MediaDecodeError(f"not an image mime: {mime!r}")


def resize_image(
    img: "np.ndarray", out_h: int, out_w: int, method: str = "nearest"
) -> "np.ndarray":
    """Resize an (h, w, c) uint8 image — pure numpy, deterministic.

    nearest: each target pixel samples floor((i+0.5)*scale) (the
    standard pixel-center mapping). bilinear: half-pixel-center
    weights (align_corners=False convention), rounded half-up to
    uint8. Both are index-math only — no codec libraries."""
    if out_h <= 0 or out_w <= 0:
        raise ValueError("output dimensions must be positive")
    h, w = img.shape[:2]
    if method == "nearest":
        ys = np.minimum(((np.arange(out_h) + 0.5) * h / out_h).astype(np.int64), h - 1)
        xs = np.minimum(((np.arange(out_w) + 0.5) * w / out_w).astype(np.int64), w - 1)
        return img[ys][:, xs]
    if method == "bilinear":
        fy = (np.arange(out_h) + 0.5) * h / out_h - 0.5
        fx = (np.arange(out_w) + 0.5) * w / out_w - 0.5
        y0, x0 = np.floor(fy).astype(np.int64), np.floor(fx).astype(np.int64)
        wy, wx = fy - y0, fx - x0
        y0c, y1c = np.clip(y0, 0, h - 1), np.clip(y0 + 1, 0, h - 1)
        x0c, x1c = np.clip(x0, 0, w - 1), np.clip(x0 + 1, 0, w - 1)
        f = img.astype(np.float64)
        top = f[y0c][:, x0c] * (1 - wx)[None, :, None] + f[y0c][:, x1c] * wx[None, :, None]
        bot = f[y1c][:, x0c] * (1 - wx)[None, :, None] + f[y1c][:, x1c] * wx[None, :, None]
        out = top * (1 - wy)[:, None, None] + bot * wy[:, None, None]
        return np.clip(np.floor(out + 0.5), 0, 255).astype(np.uint8)
    raise ValueError(f"unknown resize method {method!r}")


RESIZE_STATS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("width", T.LongType(), True),
        T.StructField("height", T.LongType(), True),
        T.StructField("n_bytes", T.LongType(), True),
        T.StructField("byte_sum", T.LongType(), True),
    ]
)


def media_resize_stats(
    media: DataFrame, scale: float = 0.5, method: str = "nearest"
) -> DataFrame:
    """Decode -> resize -> measure, per payload: the training-data
    image-preprocessing shape (thumbnailing / model-input resize) as a
    map-only mapInPandas stage. Emits the resized geometry plus byte
    count and byte sum over every resized pixel, so an oracle can pin
    the whole decode->resize path."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                img = decode_image_array(
                    bytes(r.payload), r.mime or "application/raw"
                )
                h, w = img.shape[:2]
                out = resize_image(
                    img, max(1, int(h * scale)), max(1, int(w * scale)), method
                )
                rows.append(
                    (
                        r.id,
                        out.shape[1],
                        out.shape[0],
                        out.size,
                        int(out.sum(dtype=np.int64)),
                    )
                )
            yield pd.DataFrame(
                rows, columns=["id", "width", "height", "n_bytes", "byte_sum"]
            )

    return media.mapInPandas(gen, schema=RESIZE_STATS_SCHEMA)


def media_from_documents_wav_pcm(docs: DataFrame) -> DataFrame:
    """Synthesize PCM WAVs with deterministic int16 samples: per doc,
    n = max(8, strlen(text)//2) samples with
    sample[k] = ((31*doc_id + 17*k) mod 65536) - 32768. Closed-form in
    (doc_id, k), so sample-level statistics computed after a REAL
    RIFF/fmt/data decode have exact SQL twins. No fan-out — sample
    synthesis + WAV packing is struct-copy cheap."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                n = max(8, len((r.text or "").encode("utf-8")) // 2)
                k = np.arange(n, dtype=np.int64)
                samples = ((31 * r.doc_id + 17 * k) % 65536 - 32768).astype(
                    "<i2"
                )
                rows.append(
                    (
                        r.doc_id,
                        "audio",
                        "audio/wav",
                        encode_wav(samples.tobytes(), channels=1, rate=8000, bits=16),
                        {"lang": r.lang},
                    )
                )
            yield pd.DataFrame(
                rows, columns=["id", "modality", "mime", "payload", "meta"]
            )

    return docs.select("doc_id", "text", "lang").mapInPandas(gen, schema=MEDIA_SCHEMA)


AUDIO_STATS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("n_samples", T.LongType(), True),
        T.StructField("sample_rate", T.LongType(), True),
        T.StructField("zero_crossings", T.LongType(), True),
        T.StructField("abs_sum", T.LongType(), True),
        T.StructField("peak", T.LongType(), True),
    ]
)


def media_audio_stats(media: DataFrame) -> DataFrame:
    """Audio analysis over decoded PCM: sample count, zero-crossing
    count (sign flips between consecutive samples, zeros counted as
    non-negative), total |amplitude| and peak — the VAD / level-meter
    shape. Real decode_wav parse, int16 interpretation, integer-exact
    outputs. Map-only mapInPandas."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                data, fmt = decode_wav(bytes(r.payload))
                if fmt["bits"] != 16:
                    raise MediaDecodeError("media_audio_stats expects 16-bit PCM")
                s = np.frombuffer(data, dtype="<i2").astype(np.int64)
                neg = s < 0
                rows.append(
                    (
                        r.id,
                        s.size,
                        fmt["sample_rate"],
                        int((neg[1:] != neg[:-1]).sum()),
                        int(np.abs(s).sum()),
                        int(np.abs(s).max()) if s.size else 0,
                    )
                )
            yield pd.DataFrame(rows, columns=[f.name for f in AUDIO_STATS_SCHEMA])

    return media.mapInPandas(gen, schema=AUDIO_STATS_SCHEMA)


def encode_avi(
    content: bytes, width: int = 4, height: int = 3, fps: int = 10
) -> bytes:
    """Pack raw bytes as an UNCOMPRESSED AVI (public RIFF format,
    'vids'/'DIB ' stream): content is chunked into 24bpp frames of
    ``width*height*3`` bytes (last frame zero-padded), wrapped in the
    standard RIFF('AVI ') -> LIST(hdrl: avih + LIST(strl: strh,strf))
    -> LIST(movi: '00db'*n) layout. Deterministic inverse of
    :func:`decode_avi` up to the padding — the VIDEO counterpart of
    encode_bmp/encode_wav for exercising a real container parser.
    Width must keep the DIB stride 4-aligned (width*3 % 4 == 0)."""
    stride = width * 3
    if stride % 4:
        raise ValueError("choose width with width*3 % 4 == 0")
    frame_bytes = stride * height
    n_frames = max(1, -(-len(content) // frame_bytes))
    padded = content.ljust(n_frames * frame_bytes, b"\x00")

    def chunk(cid: bytes, body: bytes) -> bytes:
        return cid + struct.pack("<I", len(body)) + body + (b"\x00" if len(body) % 2 else b"")

    def list_chunk(kind: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", kind + body)

    avih = struct.pack(
        "<IIIIIIIIII4I",
        1_000_000 // fps, frame_bytes * fps, 0, 0, n_frames, 0, 1,
        frame_bytes, width, height, 0, 0, 0, 0,
    )
    strh = (
        b"vids" + b"DIB " + struct.pack("<IHHIIIIIIII", 0, 0, 0, 0, 1, fps, 0, n_frames, frame_bytes, 0, 0)
        + struct.pack("<hhhh", 0, 0, width, height)
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24, 0, frame_bytes, 2835, 2835, 0, 0
    )
    hdrl = list_chunk(b"hdrl", chunk(b"avih", avih) + list_chunk(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi = list_chunk(
        b"movi",
        b"".join(
            chunk(b"00db", padded[i * frame_bytes : (i + 1) * frame_bytes])
            for i in range(n_frames)
        ),
    )
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def decode_avi(payload: bytes) -> tuple[list[bytes], dict]:
    """Parse an uncompressed AVI (public RIFF format): returns
    (frames, {width, height, n_frames, fps, frame_bytes}). Walks the
    RIFF chunk tree — avih for geometry, strh for the rate, the movi
    LIST for '00db'/'00dc' frame chunks — and validates every frame
    against the declared 24bpp stride."""
    if len(payload) < 12 or payload[:4] != b"RIFF" or payload[8:12] != b"AVI ":
        raise MediaDecodeError("not an AVI: missing RIFF/'AVI ' magic")
    meta: dict = {}
    frames: list[bytes] = []

    def walk(buf: bytes, pos: int, end: int) -> None:
        while pos + 8 <= end:
            cid = buf[pos : pos + 4]
            size = struct.unpack_from("<I", buf, pos + 4)[0]
            body_start = pos + 8
            if body_start + size > end:
                raise MediaDecodeError(
                    f"chunk {cid!r} truncated: {size} > {end - body_start}"
                )
            if cid == b"LIST":
                walk(buf, body_start + 4, body_start + size)
            elif cid == b"avih" and size >= 40:
                (us_pf, _, _, _, total, _, _, _, w, h) = struct.unpack_from(
                    "<IIIIIIIIII", buf, body_start
                )
                meta.update(
                    width=w, height=h, n_frames=total,
                    fps=(1_000_000 // us_pf if us_pf else 0),
                )
            elif cid in (b"00db", b"00dc"):
                frames.append(buf[body_start : body_start + size])
            pos = body_start + size + (size & 1)

    walk(payload, 12, len(payload))
    if not meta:
        raise MediaDecodeError("AVI missing avih header")
    stride = meta["width"] * 3
    meta["frame_bytes"] = stride * meta["height"]
    if len(frames) != meta["n_frames"]:
        raise MediaDecodeError(
            f"frame count mismatch: header {meta['n_frames']}, movi {len(frames)}"
        )
    for i, fr in enumerate(frames):
        if len(fr) != meta["frame_bytes"]:
            raise MediaDecodeError(
                f"frame {i} size {len(fr)} != declared {meta['frame_bytes']}"
            )
    return frames, meta


VIDEO_FRAMES_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("frame_idx", T.LongType(), True),
        T.StructField("n_frames", T.LongType(), True),
        T.StructField("width", T.LongType(), True),
        T.StructField("height", T.LongType(), True),
        T.StructField("frame_sum", T.LongType(), True),
    ]
)


def media_video_frames(media: DataFrame, every_n: int = 4) -> DataFrame:
    """REAL frame sampling: decode each AVI payload through the RIFF
    parser and emit every ``every_n``-th frame's row with its byte sum
    — the decode -> sample -> per-frame-feature shape of real video
    preprocessing, over a real container format. Map-only mapInPandas;
    output rows ~ n_frames / every_n per document."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                frames, meta = decode_avi(bytes(r.payload))
                for i in range(0, len(frames), every_n):
                    rows.append(
                        (
                            r.id,
                            i,
                            meta["n_frames"],
                            meta["width"],
                            meta["height"],
                            int(sum(frames[i])),
                        )
                    )
            yield pd.DataFrame(rows, columns=[f.name for f in VIDEO_FRAMES_SCHEMA])

    return media.mapInPandas(gen, schema=VIDEO_FRAMES_SCHEMA)


def media_video_from_documents(docs: DataFrame) -> DataFrame:
    """Synthesize a video table: every document's UTF-8 bytes packed
    as a real uncompressed AVI (4x3 24bpp frames). Deterministic;
    exercises the full RIFF encode path through Arrow batches."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = [
                (r.doc_id, "video", "video/avi", encode_avi((r.text or "").encode("utf-8")))
                for r in pdf.itertuples(index=False)
            ]
            yield pd.DataFrame(rows, columns=["id", "modality", "mime", "payload"])

    return docs.select("doc_id", "text").mapInPandas(
        gen,
        schema=T.StructType(
            [
                T.StructField("id", T.LongType(), False),
                T.StructField("modality", T.StringType(), False),
                T.StructField("mime", T.StringType(), False),
                T.StructField("payload", T.BinaryType(), True),
            ]
        ),
    )


def frame_sample(media: DataFrame, every_n_bytes: int = 64) -> DataFrame:
    """'Frame sampling' stand-in: emit one row per sampled offset of
    each payload (what real video frame extraction would do), as a
    JVM-side posexplode over byte slices — no Python involved."""
    n = F.length("payload")
    offsets = F.sequence(F.lit(0), F.greatest(n - 1, F.lit(0)), F.lit(every_n_bytes))
    return media.select(
        "id",
        "modality",
        F.posexplode(offsets).alias("frame_idx", "byte_offset"),
    ).filter(F.col("byte_offset") < n)


PHASH_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("c0", T.LongType(), False),
        T.StructField("c1", T.LongType(), False),
        T.StructField("c2", T.LongType(), False),
        T.StructField("c3", T.LongType(), False),
    ]
)


def media_phash64(media: DataFrame) -> DataFrame:
    """Perceptual hash (64-bit aHash, row-profile variant) per image,
    from REAL decoded pixels — the image near-dup dedup primitive.

    Per payload: decode -> integer grayscale (channel sum // c) ->
    64-point nearest-neighbor row profile (row (i*h) div 64, value =
    row gray sum // w) -> bit i set iff 64*m[i] > sum(m). All integer
    arithmetic, so on the closed-form JPEG fixture every bit has a
    closed form the DuckDB twin replays (the multimodal_jpeg_pixel
    pattern: real codec on the Spark side, formula on the oracle side
    — a decoder bug breaks the hash match).

    The hash ships as four 16-bit chunk ints (c0..c3) rather than one
    64-bit value: chunk equality is the pigeonhole blocking key for
    hamming<=3 pairs (3 flipped bits cannot touch all 4 chunks), and
    staying under bit 62 avoids sign-bit overflow in either engine.
    Map-only mapInPandas; nothing shuffles."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                img = decode_image_array(
                    bytes(r.payload), r.mime or "application/raw"
                )
                h, w, c = img.shape
                gray = img.astype(np.int64).sum(axis=2) // c  # (h, w)
                idx = (np.arange(64, dtype=np.int64) * h) // 64
                m = gray[idx].sum(axis=1) // w  # 64 ints
                sm = int(m.sum())
                bits = (64 * m > sm).astype(np.int64)
                cs = [
                    int((bits[16 * j : 16 * (j + 1)] << np.arange(16)).sum())
                    for j in range(4)
                ]
                rows.append((r.id, *cs))
            yield pd.DataFrame(rows, columns=[f.name for f in PHASH_SCHEMA])

    return media.mapInPandas(gen, schema=PHASH_SCHEMA)


SCENE_CUTS_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType(), False),
        T.StructField("frame_idx", T.LongType(), True),
        T.StructField("diff_sum", T.LongType(), True),
        T.StructField("is_cut", T.LongType(), True),
    ]
)


def media_video_scene_cuts(media: DataFrame, threshold: int = 1000) -> DataFrame:
    """Shot-boundary (scene-cut) detection over REAL decoded video:
    each AVI payload runs through the RIFF parser, and every adjacent
    frame pair scores the L1 pixel difference (sum |b_i - a_i| over
    the 24bpp frame bytes) — the classic temporal-difference cut
    detector. A pair whose diff exceeds ``threshold`` flags a cut.
    Map-only mapInPandas; one row per adjacent pair. The frame bytes
    are deterministic functions of the document text (zero-padded
    36-byte slices), so the DuckDB twin replays every diff in closed
    form over the raw text — a decode bug anywhere breaks the hash."""
    import numpy as np

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                frames, _meta = decode_avi(bytes(r.payload))
                arrs = [np.frombuffer(f, dtype=np.uint8).astype(np.int64) for f in frames]
                for i in range(1, len(arrs)):
                    d = int(np.abs(arrs[i] - arrs[i - 1]).sum())
                    rows.append((r.id, i, d, 1 if d > threshold else 0))
            yield pd.DataFrame(rows, columns=[f.name for f in SCENE_CUTS_SCHEMA])

    return media.mapInPandas(gen, schema=SCENE_CUTS_SCHEMA)


# ---------------------------------------------------------------------------
# deterministic bimodal grayscale synthesis + histogram (Otsu input)
# ---------------------------------------------------------------------------

#: low/high mode widths and the gap between them (Otsu test texture)
_GRAY_LOW_W = 96
_GRAY_HIGH_BASE = 160


def gray_pixel_py(doc_id: int, k: int) -> int:
    """The closed-form bimodal gray level of pixel k of image doc_id —
    the single spec the synthesizer, the query and the DuckDB oracle
    all share. Mixing ratio doc_id % 11 in 0..10 puts each doc
    somewhere between all-low and all-high, so Otsu thresholds and
    foreground shares vary with real texture."""
    if (k % 10) < (doc_id % 11):
        return (37 * doc_id + 11 * k) % _GRAY_LOW_W
    return _GRAY_HIGH_BASE + (23 * doc_id + 7 * k) % _GRAY_LOW_W


def media_from_documents_gray_bmp(docs: DataFrame) -> DataFrame:
    """Synthesize a grayscale-byte media table: per doc,
    n = max(16, len(text)) bimodal gray bytes (gray_pixel_py) packed as
    a REAL 24bpp BMP (encode_bmp). The true pixel count rides in meta
    ('n') the way real image dims do, so downstream stages can trim the
    BMP row padding after an honest decode."""

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                n = max(16, len(r.text or ""))
                pix = bytes(gray_pixel_py(r.doc_id, k) for k in range(n))
                rows.append(
                    (
                        r.doc_id,
                        "image",
                        "image/bmp",
                        encode_bmp(pix),
                        {"n": str(n)},
                    )
                )
            yield pd.DataFrame(
                rows, columns=["id", "modality", "mime", "payload", "meta"]
            )

    return docs.select("doc_id", "text").mapInPandas(gen, schema=MEDIA_SCHEMA)


GRAY_HIST_SCHEMA = T.StructType(
    [
        T.StructField("id", T.LongType()),
        T.StructField("b", T.LongType()),
        T.StructField("cnt", T.LongType()),
    ]
)


def media_gray_histogram(media: DataFrame) -> DataFrame:
    """Decode each BMP payload (REAL parse) and emit its per-gray-level
    histogram rows (id, b, cnt), trimmed to the meta-declared pixel
    count so BMP row padding stays out of bin 0. Map-only mapInPandas;
    the output is bins-sized (<=256 rows per image), so everything
    relational downstream shuffles bins, not pixels."""
    import collections

    def gen(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                content, _meta = decode_bmp(bytes(r.payload))
                n = int(dict(r.meta)["n"])
                for b, cnt in sorted(
                    collections.Counter(content[:n]).items()
                ):
                    rows.append((r.id, int(b), int(cnt)))
            yield pd.DataFrame(rows, columns=["id", "b", "cnt"])

    return media.mapInPandas(gen, schema=GRAY_HIST_SCHEMA)
