"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata, processed by Arrow-batched kernels (build brief:
multimodal ops for a training-data pipeline; extends the reference's
binary-payload handling, /root/reference/modules/tools.py:42, to non-text
media).

Decode dispatches on magic bytes and parses FOUR real public formats in
pure numpy from their published specs (no codec libraries in the sandbox):

- BMP  (Windows bitmap, BITMAPINFOHEADER, uncompressed 24-bit BI_RGB)
- PPM  (Netpbm P6 binary RGB, maxval <= 255)
- WAV  (RIFF/WAVE: integer PCM 8/16-bit; IEEE float32 and G.711
       μ-law/A-law expand to canonical PCM16 via the exact table
       formulas, so features are codec-independent)
- Y4M  (YUV4MPEG2 uncompressed video — real per-frame boundaries)

- PNG  (ISO/IEC 15948 — zlib inflate of the IDAT stream + per-scanline
       unfilter in numpy; bit depths 8 and 16 (high-byte canonical
       reduction), color types 0/2/3/4/6, non-interlaced AND Adam7;
       chunk CRCs validated)
- JPEG (ITU-T T.81 baseline + extended sequential Huffman: marker walk,
       DQT/DHT from the stream, entropy decode with RSTn restarts,
       vectorized IDCT, 4:4:4 / 4:2:0 / arbitrary sampling-factor plane
       assembly, JFIF YCbCr→RGB; progressive/arithmetic/12-bit streams
       quarantine typed)
- GIF  (87a/89a: variable-width LZW with clear/end codes and deferred
       clear, global/local color tables, 4-pass interlace; multi-frame
       animations decode as video-kind rows with true frame boundaries)

plus the legacy deterministic `MMK1` container (kept because the
driver-gated media queries construct it arithmetically in SQL, and as the
stand-in for the codecs the sandbox cannot decode in pure stdlib). The
remaining compressed formats (MP3/H.264) quarantine as
`unknown_container` — the dispatch point a real deployment extends. Fixture writers for each
real format live in fixtures/media.py (bounded-scope pattern of
kernels/pdf_extract.py: the decoder handles the full public header
grammar, tests feed it both our writers' output and corrupt variants).
"""

from __future__ import annotations

import struct
import zlib
from collections.abc import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, functions as F

MEDIA_SCHEMA = ("media_id string, kind string, payload binary")

META_SCHEMA = (
    "media_id string, kind string, width int, height int, sample_rate int, "
    "n_frames int, n_bytes long, error string"
)

_MAGIC = b"MMK1"
_KINDS = {"image": 1, "audio": 2, "video": 3}
_KIND_NAMES = {v: k for k, v in _KINDS.items()}


def make_media_payload(media_id: str, kind: str, width: int = 0,
                       height: int = 0, sample_rate: int = 0,
                       n_frames: int = 1) -> bytes:
    """Deterministic fake container: header + seeded sample bytes. The
    sample region is a pure function of media_id so feature kernels are
    partition-invariant."""
    seed = sum(media_id.encode()) % 251
    header = _MAGIC + struct.pack(
        "<BIIII", _KINDS[kind], width, height, sample_rate, n_frames)
    n_samples = max(width * height, sample_rate, n_frames * 16, 16)
    samples = bytes(((seed + i * 31) % 256) for i in range(min(n_samples, 4096)))
    return header + samples


def _decode_mmk1(payload: bytes) -> tuple[dict | None, str | None]:
    """Legacy deterministic container (see module docstring)."""
    kind_b, width, height, rate, frames = struct.unpack("<BIIII", payload[4:21])
    kind = _KIND_NAMES.get(kind_b)
    if kind is None:
        return None, "unknown_kind"
    return {"kind": kind, "width": width, "height": height,
            "sample_rate": rate, "n_frames": frames,
            "samples": np.frombuffer(payload[21:], dtype=np.uint8)}, None


def _decode_bmp(p: bytes) -> tuple[dict | None, str | None]:
    """Windows BMP, BITMAPINFOHEADER (>= 40-byte DIB), uncompressed
    (BI_RGB) 24-bit. Samples = pixel bytes in top-down row order with the
    4-byte row padding stripped, so features are layout-independent."""
    if len(p) < 54:
        return None, "truncated_bmp_header"
    data_off, = struct.unpack_from("<I", p, 10)
    dib_size, width, height = struct.unpack_from("<Iii", p, 14)
    planes, bpp = struct.unpack_from("<HH", p, 26)
    compression, = struct.unpack_from("<I", p, 30)
    if dib_size < 40:
        return None, "unsupported_bmp_dib"
    if compression != 0:
        return None, "unsupported_bmp_compression"
    if bpp != 24:
        return None, "unsupported_bmp_bpp"
    h = abs(height)
    if width <= 0 or h == 0:
        return None, "bad_bmp_dims"
    stride = (width * 3 + 3) & ~3
    if data_off < 54 or len(p) < data_off + stride * h:
        return None, "truncated_bmp_pixels"
    px = np.frombuffer(p, np.uint8, stride * h, data_off).reshape(h, stride)
    px = px[:, :width * 3]
    if height > 0:  # positive height = bottom-up storage; emit top-down
        px = px[::-1]
    return {"kind": "image", "width": width, "height": h, "sample_rate": 0,
            "n_frames": 1, "samples": np.ascontiguousarray(px).reshape(-1)}, None


def _decode_ppm(p: bytes) -> tuple[dict | None, str | None]:
    """Netpbm P6 binary: ASCII header tokens (whitespace-separated, `#`
    comments run to end-of-line) then one whitespace byte and raw RGB."""
    pos, tokens = 2, []
    n = len(p)
    while len(tokens) < 3:
        while pos < n and p[pos] in b" \t\r\n\x0b\x0c":
            pos += 1
        if pos < n and p[pos] == 0x23:  # '#' comment
            while pos < n and p[pos] not in b"\r\n":
                pos += 1
            continue
        start = pos
        while pos < n and p[pos] in b"0123456789":
            pos += 1
        if pos == start:
            return None, "bad_ppm_header"
        tokens.append(int(p[start:pos]))
    if pos >= n or p[pos] not in b" \t\r\n\x0b\x0c":
        return None, "bad_ppm_header"
    pos += 1  # exactly one whitespace byte after maxval (spec)
    width, height, maxval = tokens
    if width <= 0 or height <= 0:
        return None, "bad_ppm_dims"
    if not 0 < maxval <= 255:
        return None, "unsupported_ppm_maxval"  # 2-byte samples out of scope
    need = width * height * 3
    if n - pos < need:
        return None, "truncated_ppm_pixels"
    return {"kind": "image", "width": width, "height": height,
            "sample_rate": 0, "n_frames": 1,
            "samples": np.frombuffer(p, np.uint8, need, pos)}, None


def g711_ulaw_decode(u: np.ndarray) -> np.ndarray:
    """ITU-T G.711 μ-law codewords → linear PCM16 (exact table formula,
    numpy-vectorized)."""
    u = (~u.astype(np.int64)) & 0xFF
    sign = u & 0x80
    exp = (u >> 4) & 7
    mant = u & 0x0F
    mag = (((mant << 3) + 0x84) << exp) - 0x84
    return np.where(sign, -mag, mag).astype(np.int16)


def g711_alaw_decode(a: np.ndarray) -> np.ndarray:
    """ITU-T G.711 A-law codewords → linear PCM16 (×16 scaling per the
    spec's 13-bit alignment; after the 0x55 toggle a SET sign bit means
    positive, the opposite of μ-law), numpy-vectorized."""
    a = a.astype(np.int64) ^ 0x55
    sign = a & 0x80
    exp = (a >> 4) & 7
    mant = a & 0x0F
    mag = np.where(exp == 0, (mant << 4) + 8,
                   ((mant << 4) + 0x108) << np.maximum(exp - 1, 0))
    return np.where(sign, mag, -mag).astype(np.int16)


def _decode_wav(p: bytes) -> tuple[dict | None, str | None]:
    """RIFF/WAVE: integer PCM (format tag 1, 8/16-bit), IEEE float
    (tag 3, 32-bit) and G.711 μ-law/A-law (tags 7/6). n_frames is the
    PCM sample-frame count (data bytes / block align); chunks are walked
    with word alignment per the RIFF spec. Integer-PCM sample bytes pass
    through verbatim (the golden surface since round 2); the float and
    G.711 codecs decode to CANONICAL little-endian PCM16 bytes so
    downstream features are codec-independent — the same waveform
    shipped as float32 or μ-law lands on the same sample bytes."""
    if len(p) < 12 or p[8:12] != b"WAVE":
        return None, "bad_riff_form"
    fmt = data = None
    pos = 12
    while pos + 8 <= len(p):
        cid = p[pos:pos + 4]
        csz, = struct.unpack_from("<I", p, pos + 4)
        if pos + 8 + csz > len(p):
            return None, "truncated_wav_chunk"
        body = p[pos + 8:pos + 8 + csz]
        if cid == b"fmt ":
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + csz + (csz & 1)
    if fmt is None or len(fmt) < 16 or data is None:
        return None, "missing_wav_chunk"
    audio_fmt, channels, rate, _, block_align, bits = \
        struct.unpack_from("<HHIIHH", fmt)
    if channels == 0 or block_align == 0:
        return None, "unsupported_wav_layout"
    if audio_fmt == 3:  # IEEE float → canonical PCM16
        if bits != 32 or len(data) % 4:
            return None, "unsupported_wav_layout"
        x = np.clip(np.frombuffer(data, "<f4").astype(np.float64), -1.0, 1.0)
        pcm = np.round(x * 32767.0).astype("<i2")
        return {"kind": "audio", "width": 0, "height": 0,
                "sample_rate": int(rate),
                "n_frames": len(data) // block_align,
                "samples": np.frombuffer(pcm.tobytes(), np.uint8)}, None
    if audio_fmt in (6, 7):  # G.711 A-law / μ-law → canonical PCM16
        if bits != 8:
            return None, "unsupported_wav_layout"
        codes = np.frombuffer(data, np.uint8)
        pcm = (g711_alaw_decode(codes) if audio_fmt == 6
               else g711_ulaw_decode(codes)).astype("<i2")
        return {"kind": "audio", "width": 0, "height": 0,
                "sample_rate": int(rate),
                "n_frames": len(data) // block_align,
                "samples": np.frombuffer(pcm.tobytes(), np.uint8)}, None
    if audio_fmt != 1:
        return None, "unsupported_wav_codec"
    if bits not in (8, 16):
        return None, "unsupported_wav_layout"
    return {"kind": "audio", "width": 0, "height": 0,
            "sample_rate": int(rate),
            "n_frames": len(data) // block_align,
            "samples": np.frombuffer(data, np.uint8)}, None


def _decode_y4m(p: bytes) -> tuple[dict | None, str | None]:
    """YUV4MPEG2 uncompressed video: ASCII stream header (W/H/F/C
    parameters), then per-frame `FRAME`-marker lines and raw planar YUV.
    Real frame boundaries are recorded in `frame_bounds` (offset, size
    into `samples`) so frame sampling addresses true frames."""
    nl = p.find(b"\x0a")
    if nl < 0:
        return None, "bad_y4m_header"
    width = height = 0
    fps_num, fps_den = 0, 1
    colorspace = "420"
    for tok in p[9:nl].split(b" "):
        if not tok:
            continue
        tag, val = tok[:1], tok[1:]
        try:
            if tag == b"W":
                width = int(val)
            elif tag == b"H":
                height = int(val)
            elif tag == b"F":
                num, den = val.split(b":")
                fps_num, fps_den = int(num), int(den)
            elif tag == b"C":
                colorspace = val.decode("ascii")
        except ValueError:
            return None, "bad_y4m_header"
    if width <= 0 or height <= 0:
        return None, "bad_y4m_dims"
    if colorspace.startswith("420"):
        frame_size = width * height * 3 // 2
    elif colorspace.startswith("422"):
        frame_size = width * height * 2
    elif colorspace.startswith("444"):
        frame_size = width * height * 3
    elif colorspace.startswith("mono"):
        frame_size = width * height
    else:
        return None, "unsupported_y4m_colorspace"
    pos = nl + 1
    chunks: list[bytes] = []
    bounds: list[tuple[int, int]] = []
    off = 0
    while pos < len(p):
        if p[pos:pos + 5] != b"FRAME":
            return None, "bad_y4m_frame_marker"
        fnl = p.find(b"\x0a", pos)
        if fnl < 0:
            return None, "bad_y4m_frame_marker"
        pos = fnl + 1
        if pos + frame_size > len(p):
            return None, "truncated_y4m_frame"
        chunks.append(p[pos:pos + frame_size])
        bounds.append((off, frame_size))
        off += frame_size
        pos += frame_size
    samples = (np.frombuffer(b"".join(chunks), dtype=np.uint8)
               if chunks else np.empty(0, dtype=np.uint8))
    return {"kind": "video", "width": width, "height": height,
            "sample_rate": fps_num // fps_den if fps_den else 0,
            "n_frames": len(bounds), "samples": samples,
            "frame_bounds": bounds}, None


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# channels per pixel by color type (bit depth 8): gray, RGB, palette
# index, gray+alpha, RGBA
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


_ADAM7 = ((0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
          (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2))  # x0, y0, dx, dy


def _png_unfilter(raw: bytes, width: int, height: int,
                  ch: int) -> np.ndarray | None:
    """Reverse the PNG scanline filters (spec §9): each of the `height`
    scanlines is 1 filter byte + width*ch sample bytes, where `ch` is the
    filter unit bpp in BYTES (channels × bytes-per-sample — the spec's
    filters always act on bytes, with the "left" neighbor bpp bytes
    back, so depth 16 reuses this path with ch doubled). Filters None/
    Sub/Up are fully vectorized (Sub is a per-byte-lane cumsum mod 256);
    Average/Paeth carry a true left-to-right data dependency, so they run
    one numpy op per PIXEL over the ch lanes — still no per-byte Python.
    Returns (height, width*ch) uint8, or None if a filter byte is invalid."""
    rowlen = width * ch
    arr = np.frombuffer(raw, np.uint8).reshape(height, rowlen + 1)
    filters = arr[:, 0]
    if (filters > 4).any():
        return None
    out = np.empty((height, rowlen), np.uint8)
    prev = np.zeros(rowlen, np.uint16)
    for y in range(height):
        f = filters[y]
        cur = arr[y, 1:].astype(np.uint16)
        if f == 0:
            row = cur
        elif f == 1:  # Sub: prefix sum per channel lane, mod 256
            row = (np.cumsum(cur.reshape(width, ch), axis=0,
                             dtype=np.uint64) & 0xFF).reshape(rowlen)
        elif f == 2:  # Up
            row = (cur + prev) & 0xFF
        else:
            row = np.empty(rowlen, np.uint16)
            left = np.zeros(ch, np.uint16)
            if f == 3:  # Average
                for x in range(width):
                    s = slice(x * ch, (x + 1) * ch)
                    left = (cur[s] + ((left + prev[s]) >> 1)) & 0xFF
                    row[s] = left
            else:  # Paeth
                upleft = np.zeros(ch, np.uint16)
                for x in range(width):
                    s = slice(x * ch, (x + 1) * ch)
                    up = prev[s]
                    # Paeth predictor: p = left + up - upleft, pick the
                    # neighbor nearest p (ties: left, then up)
                    pa = np.abs(up.astype(np.int32) - upleft)
                    pb = np.abs(left.astype(np.int32) - upleft)
                    pc = np.abs(left.astype(np.int32) + up
                                - 2 * upleft.astype(np.int32))
                    pred = np.where((pa <= pb) & (pa <= pc), left,
                                    np.where(pb <= pc, up, upleft))
                    left = (cur[s] + pred) & 0xFF
                    row[s] = left
                    upleft = up
        out[y] = row.astype(np.uint8)
        prev = row.astype(np.uint16)
    return out


def _decode_png(p: bytes) -> tuple[dict | None, str | None]:
    """PNG (ISO/IEC 15948), pure stdlib+numpy: signature, CRC-validated
    chunk walk, IHDR grammar, zlib inflate of the concatenated IDAT
    stream, per-scanline unfilter; Adam7 interlace (seven independently
    filtered reduced images scattered back by strided assignment) and
    depth 16 (2-byte filter units, high-byte canonical 8-bit reduction)
    both decode for real. Bounded scope (same discipline as
    kernels/pdf_extract.py): sub-byte depths 1/2/4 quarantine typed.
    Palette images are expanded through PLTE so `samples` is always raw
    channel bytes in row order, layout-independent like the BMP path."""
    pos, n = 8, len(p)
    ihdr = plte = None
    idat: list[bytes] = []
    seen_iend = False
    while pos < n:
        if pos + 8 > n:
            return None, "truncated_png_chunk"
        clen, = struct.unpack_from(">I", p, pos)
        ctype = p[pos + 4:pos + 8]
        if pos + 12 + clen > n:
            return None, "truncated_png_chunk"
        body = p[pos + 8:pos + 8 + clen]
        crc, = struct.unpack_from(">I", p, pos + 8 + clen)
        if zlib.crc32(ctype + body) & 0xFFFFFFFF != crc:
            return None, "bad_png_crc"
        if ctype == b"IHDR":
            ihdr = body
        elif ctype == b"PLTE":
            plte = body
        elif ctype == b"IDAT":
            idat.append(body)
        elif ctype == b"IEND":
            seen_iend = True
            break
        pos += 12 + clen
    if ihdr is None or len(ihdr) != 13:
        return None, "bad_png_ihdr"
    if not seen_iend:
        return None, "truncated_png_chunk"
    width, height, depth, color, comp, filt, interlace = \
        struct.unpack(">IIBBBBB", ihdr)
    if width == 0 or height == 0 or width > 1 << 24 or height > 1 << 24:
        return None, "bad_png_dims"
    if comp != 0 or filt != 0:
        return None, "bad_png_ihdr"
    if interlace not in (0, 1):
        return None, "unsupported_png_interlace"
    if depth not in (8, 16):
        return None, "unsupported_png_depth"  # 1/2/4 sub-byte packing
    ch = _PNG_CHANNELS.get(color)
    if ch is None:
        return None, "unsupported_png_color"
    if color == 3 and depth == 16:
        return None, "bad_png_ihdr"  # spec: palette depth is <= 8
    unit = ch * (depth // 8)  # filter bpp in bytes
    if not idat:
        return None, "missing_png_idat"
    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error:
        return None, "bad_png_zlib"
    if interlace == 0:
        if len(raw) != height * (width * unit + 1):
            return None, "truncated_png_pixels"
        px = _png_unfilter(raw, width, height, unit)
        if px is None:
            return None, "bad_png_filter"
    else:
        # Adam7: seven independently-filtered reduced images, scattered
        # back onto the full canvas with numpy strided assignment
        px = np.zeros((height, width, unit), np.uint8)
        pos = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (width - x0 + dx - 1) // dx
            ph = (height - y0 + dy - 1) // dy
            if pw == 0 or ph == 0:
                continue
            need = ph * (pw * unit + 1)
            if pos + need > len(raw):
                return None, "truncated_png_pixels"
            sub = _png_unfilter(raw[pos:pos + need], pw, ph, unit)
            if sub is None:
                return None, "bad_png_filter"
            px[y0::dy, x0::dx] = sub.reshape(ph, pw, unit)
            pos += need
        if pos != len(raw):
            return None, "truncated_png_pixels"
        px = px.reshape(height, width * unit)
    if depth == 16:
        # canonical 8-bit surface: the high byte of each big-endian
        # 16-bit sample (the standard 16→8 reduction), so features are
        # depth-independent
        px = np.ascontiguousarray(px.reshape(height, width * ch, 2)[:, :, 0])
    if color == 3:  # palette: expand indices through PLTE to RGB
        if plte is None or len(plte) % 3 or not plte:
            return None, "bad_png_plte"
        pal = np.frombuffer(plte, np.uint8).reshape(-1, 3)
        idx = px.reshape(-1)
        if int(idx.max(initial=0)) >= len(pal):
            return None, "bad_png_palette_index"
        samples = pal[idx].reshape(-1)
    else:
        samples = px.reshape(-1)
    return {"kind": "image", "width": int(width), "height": int(height),
            "sample_rate": 0, "n_frames": 1,
            "samples": np.ascontiguousarray(samples)}, None


# --- baseline JPEG (ITU-T T.81) ---------------------------------------------
#
# The second compressed codec decoded FOR REAL (after PNG): marker walk,
# DQT/DHT table parse, SOF0/SOF1 frame header, Huffman entropy decode with
# byte unstuffing and RSTn restart handling, dequantize + de-zigzag, one
# vectorized einsum IDCT over every block, sampling-factor plane assembly,
# JFIF YCbCr→RGB. Entropy decoding carries a true bit-serial data
# dependency (each code's length gates where the next starts), so the
# symbol loop is per-MCU Python over a 16-bit-prefix lookup table — the
# same honesty note as the Average/Paeth scanline filters above; everything
# after the coefficient arrays (IDCT, upsampling, color transform) is whole-
# corpus numpy. Bounded scope, typed quarantine beyond it: progressive
# (SOF2) / arithmetic (SOF9+) / 12-bit streams are `unsupported_*`,
# malformed tables/markers/scans are `bad_*`/`truncated_*`.

_ZIGZAG_JPEG = np.array(
    [r * 8 + c for d in range(15)
     for r, c in (((r, d - r) for r in range(max(0, d - 7), min(d, 7) + 1))
                  if d % 2 else
                  ((r, d - r) for r in
                   reversed(range(max(0, d - 7), min(d, 7) + 1))))],
    dtype=np.int64)


def _idct_matrix() -> np.ndarray:
    a = np.zeros((8, 8))
    a[0, :] = 1.0 / np.sqrt(8.0)
    j = np.arange(8)
    for k in range(1, 8):
        a[k, :] = 0.5 * np.cos((2 * j + 1) * k * np.pi / 16.0)
    return a


_IDCT_A = _idct_matrix()


def _jpeg_huff_lut(bits: bytes, vals: bytes) -> np.ndarray | None:
    """Canonical Huffman table → flat 2^16 lookup: index = next 16 bits of
    the stream, value = (code length << 8) | symbol, 0 = invalid prefix.
    One array read decodes any symbol (max code length is 16)."""
    lut = np.zeros(1 << 16, dtype=np.int32)
    code, k = 0, 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            if k >= len(vals) or code >= (1 << length):
                return None
            lo = code << (16 - length)
            lut[lo:lo + (1 << (16 - length))] = (length << 8) | vals[k]
            code += 1
            k += 1
        code <<= 1
    return lut


class _JpegBits:
    """MSB-first reader over one entropy segment (already unstuffed).
    Peeks pad with 1s past the end (the spec's pad bit); consuming real
    bits past the end raises EOFError → truncated_jpeg_scan."""

    __slots__ = ("data", "nbits", "pos")

    def __init__(self, data: bytes) -> None:
        self.data = data
        self.nbits = len(data) * 8
        self.pos = 0

    def peek16(self) -> int:
        byte, off = self.pos >> 3, self.pos & 7
        chunk = self.data[byte:byte + 3]
        v = int.from_bytes(chunk + b"\xff" * (3 - len(chunk)), "big")
        return (v >> (8 - off)) & 0xFFFF

    def take(self, n: int) -> int:
        if self.pos + n > self.nbits:
            raise EOFError
        byte, off = self.pos >> 3, self.pos & 7
        nbytes = (off + n + 7) >> 3
        v = int.from_bytes(self.data[byte:byte + nbytes], "big")
        self.pos += n
        return (v >> (nbytes * 8 - off - n)) & ((1 << n) - 1)


def _jpeg_extend(v: int, size: int) -> int:
    return v - (1 << size) + 1 if v < (1 << (size - 1)) else v


def _jpeg_scan_segments(p: bytes, pos: int) -> tuple[list[bytes], int] | None:
    """Split the entropy-coded data after SOS into RST-delimited segments
    with FF00 unstuffed; returns (segments, position of the next marker)."""
    segs: list[bytes] = []
    cur = bytearray()
    n = len(p)
    while pos < n:
        b = p[pos]
        if b != 0xFF:
            cur.append(b)
            pos += 1
            continue
        if pos + 1 >= n:
            return None
        m = p[pos + 1]
        if m == 0x00:
            cur.append(0xFF)
            pos += 2
        elif 0xD0 <= m <= 0xD7:
            segs.append(bytes(cur))
            cur = bytearray()
            pos += 2
        else:
            break
    segs.append(bytes(cur))
    return segs, pos


def _decode_jpeg(p: bytes) -> tuple[dict | None, str | None]:
    """Baseline JFIF JPEG → RGB (or gray) samples; see block comment."""
    n = len(p)
    pos = 2  # past SOI
    qt: dict[int, np.ndarray] = {}
    huff: dict[tuple[int, int], np.ndarray] = {}
    frame = None
    restart = 0
    while True:
        if pos + 4 > n:
            return None, "truncated_jpeg"
        if p[pos] != 0xFF:
            return None, "bad_jpeg_marker"
        while pos < n and p[pos] == 0xFF and pos + 1 < n and p[pos + 1] == 0xFF:
            pos += 1  # fill bytes
        marker = p[pos + 1]
        if marker == 0xD9:  # EOI before any scan
            return None, "missing_jpeg_scan"
        seglen, = struct.unpack_from(">H", p, pos + 2)
        if seglen < 2 or pos + 2 + seglen > n:
            return None, "truncated_jpeg"
        body = p[pos + 4:pos + 2 + seglen]
        pos += 2 + seglen
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 15
                width_b = 2 if pq == 1 else 1
                if pq > 1 or tq > 3 or i + 1 + 64 * width_b > len(body):
                    return None, "bad_jpeg_dqt"
                raw = np.frombuffer(
                    body, ">u2" if pq else np.uint8, 64, i + 1)
                tab = np.zeros(64, np.int64)
                tab[_ZIGZAG_JPEG] = raw
                qt[tq] = tab
                i += 1 + 64 * width_b
        elif marker == 0xC4:  # DHT
            i = 0
            while i + 17 <= len(body):
                tc, th = body[i] >> 4, body[i] & 15
                bits = body[i + 1:i + 17]
                nv = sum(bits)
                if tc > 1 or th > 3 or i + 17 + nv > len(body):
                    return None, "bad_jpeg_dht"
                lut = _jpeg_huff_lut(bits, body[i + 17:i + 17 + nv])
                if lut is None:
                    return None, "bad_jpeg_dht"
                huff[(tc, th)] = lut
                i += 17 + nv
            if i != len(body):
                return None, "bad_jpeg_dht"
        elif marker in (0xC0, 0xC1):  # baseline / extended sequential
            if len(body) < 6:
                return None, "bad_jpeg_sof"
            prec = body[0]
            h, w = struct.unpack_from(">HH", body, 1)
            nc = body[5]
            if prec != 8:
                return None, "unsupported_jpeg_precision"
            if w == 0 or h == 0 or nc not in (1, 3) or len(body) != 6 + 3 * nc:
                return None, "bad_jpeg_sof"
            comps = []
            for c in range(nc):
                cid, hv, tq = body[6 + 3 * c:9 + 3 * c]
                ch_, cv = hv >> 4, hv & 15
                if not (1 <= ch_ <= 4 and 1 <= cv <= 4):
                    return None, "unsupported_jpeg_sampling"
                comps.append((cid, ch_, cv, tq))
            frame = (w, h, comps)
        elif marker == 0xC2:
            return None, "unsupported_jpeg_progressive"
        elif marker in (0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            return None, "unsupported_jpeg_codec"
        elif marker == 0xDD:  # DRI
            if len(body) != 2:
                return None, "bad_jpeg_dri"
            restart, = struct.unpack(">H", body)
        elif marker == 0xDA:  # SOS
            break
        elif 0xE0 <= marker <= 0xEF or marker == 0xFE:
            continue  # APPn / COM
        else:
            return None, "bad_jpeg_marker"
    if frame is None:
        return None, "missing_jpeg_sof"
    w, h, comps = frame
    ns = body[0] if body else 0
    if len(body) != 1 + 2 * ns + 3:
        return None, "bad_jpeg_sos"
    if ns != len(comps):
        # baseline permits non-interleaved multi-scan files; they are rare
        # in crawl data and out of this kernel's bounded scope
        return None, "unsupported_jpeg_multiscan"
    scan_tabs = {}
    for s in range(ns):
        cs, td_ta = body[1 + 2 * s], body[2 + 2 * s]
        scan_tabs[cs] = (td_ta >> 4, td_ta & 15)
    if body[1 + 2 * ns:] != b"\x00\x3f\x00":
        return None, "unsupported_jpeg_scan_params"
    got = _jpeg_scan_segments(p, pos)
    if got is None:
        return None, "truncated_jpeg_scan"
    segs, _pos = got

    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    mcux = -(-w // (8 * hmax))
    mcuy = -(-h // (8 * vmax))
    n_mcu = mcux * mcuy
    tables = []
    for cid, ch_, cv, tq in comps:
        if cid not in scan_tabs:
            return None, "bad_jpeg_sos"
        td, ta = scan_tabs[cid]
        if tq not in qt or (0, td) not in huff or (1, ta) not in huff:
            return None, "missing_jpeg_table"
        tables.append((huff[(0, td)], huff[(1, ta)], qt[tq]))
    coefs = [np.zeros((mcuy * cv * mcux * ch_, 64), np.int64)
             for _, ch_, cv, _ in comps]

    seg_i = 0
    bits = _JpegBits(segs[0])
    pred = [0] * len(comps)
    mcu_in_seg = 0
    try:
        for mcu in range(n_mcu):
            if restart and mcu_in_seg == restart and mcu:
                seg_i += 1
                if seg_i >= len(segs):
                    return None, "truncated_jpeg_scan"
                bits = _JpegBits(segs[seg_i])
                pred = [0] * len(comps)
                mcu_in_seg = 0
            my, mx = divmod(mcu, mcux)
            for ci, (_, ch_, cv, _) in enumerate(comps):
                dc_lut, ac_lut, q = tables[ci]
                for by in range(cv):
                    for bx in range(ch_):
                        block = coefs[ci][
                            (my * cv + by) * mcux * ch_ + mx * ch_ + bx]
                        v = int(dc_lut[bits.peek16()])
                        if v == 0:
                            return None, "bad_jpeg_huffman"
                        bits.take(v >> 8)
                        size = v & 0xFF
                        if size:
                            if size > 15:
                                return None, "bad_jpeg_huffman"
                            pred[ci] += _jpeg_extend(bits.take(size), size)
                        block[0] = pred[ci] * q[0]
                        k = 1
                        while k < 64:
                            v = int(ac_lut[bits.peek16()])
                            if v == 0:
                                return None, "bad_jpeg_huffman"
                            bits.take(v >> 8)
                            rs = v & 0xFF
                            r, size = rs >> 4, rs & 15
                            if size == 0:
                                if r == 15:
                                    k += 16
                                    continue
                                break  # EOB
                            k += r
                            if k > 63:
                                return None, "bad_jpeg_coef_index"
                            zz = int(_ZIGZAG_JPEG[k])
                            block[zz] = (_jpeg_extend(bits.take(size), size)
                                         * q[zz])
                            k += 1
            mcu_in_seg += 1
    except EOFError:
        return None, "truncated_jpeg_scan"

    planes = []
    for ci, (_, ch_, cv, _) in enumerate(comps):
        # blocks were de-zigzagged at store time (block[zz] above): the
        # (n, 64) rows are already natural raster order
        blocks = np.einsum("ij,njk,kl->nil", _IDCT_A.T,
                           coefs[ci].reshape(-1, 8, 8).astype(np.float64),
                           _IDCT_A)
        px = np.clip(np.round(blocks + 128.0), 0, 255).astype(np.uint8)
        plane = (px.reshape(mcuy * cv, mcux * ch_, 8, 8)
                 .transpose(0, 2, 1, 3)
                 .reshape(mcuy * cv * 8, mcux * ch_ * 8))
        # upsample to full grid, crop to the frame dims
        plane = plane.repeat(vmax // cv, axis=0).repeat(hmax // ch_, axis=1)
        planes.append(plane[:h, :w])
    if len(planes) == 1:
        samples = planes[0].reshape(-1)
    else:
        y = planes[0].astype(np.float64)
        cb = planes[1].astype(np.float64) - 128.0
        cr = planes[2].astype(np.float64) - 128.0
        rgb = np.stack([y + 1.402 * cr,
                        y - 0.344136286 * cb - 0.714136286 * cr,
                        y + 1.772 * cb], axis=-1)
        samples = np.clip(np.round(rgb), 0, 255).astype(np.uint8).reshape(-1)
    return {"kind": "image", "width": int(w), "height": int(h),
            "sample_rate": 0, "n_frames": 1,
            "samples": np.ascontiguousarray(samples)}, None


# --- GIF (GIF87a/GIF89a, CompuServe spec / W3C note) -------------------------
#
# The third real compressed codec, and the only ANIMATED image format in
# scope: variable-width LSB-first LZW with clear/end codes, deferred-clear
# table-full behavior and the GIF "early change" width bump; global and
# local color tables; Adam-free 4-pass interlace reorder (numpy); multiple
# image descriptors → a video-kind row with TRUE frame boundaries, so
# animated GIFs flow through the same sample_frames machinery as Y4M.
# LZW symbol decode is bit-serial per payload (the PNG-Paeth/JPEG-Huffman
# honesty note); palette expansion and interlace mapping are numpy.

_GIF_INTERLACE = ((0, 8), (4, 8), (2, 4), (1, 2))


def _gif_lzw_decode(data: bytes, mcs: int, expected: int) -> bytes | None:
    """GIF-flavor LZW: initial code width mcs+1, clear = 1<<mcs, end =
    clear+1, width grows when the table reaches 1<<width (cap 12, then
    deferred clear — entries stop being added), decoder adds one entry
    per code read after the first of each clear segment. Returns exactly
    `expected` index bytes or None on any malformed condition."""
    if not 2 <= mcs <= 11:
        return None
    clear = 1 << mcs
    end = clear + 1
    literals = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(literals)
    width = mcs + 1
    out = bytearray()
    prev: bytes | None = None
    bitpos, total = 0, len(data) * 8
    while True:
        if bitpos + width > total:
            return None  # ran out before the end code
        byte, off = bitpos >> 3, bitpos & 7
        chunk = int.from_bytes(data[byte:byte + 3], "little")
        code = (chunk >> off) & ((1 << width) - 1)
        bitpos += width
        if code == clear:
            table = list(literals)
            width = mcs + 1
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            if code >= clear:
                return None  # first code of a segment must be a literal
            entry = table[code]
        else:
            if code < len(table):
                entry = table[code]
            elif code == len(table):
                entry = prev + prev[:1]
            else:
                return None
            if len(table) < 4096:
                table.append(prev + entry[:1])
                if len(table) == (1 << width) and width < 12:
                    width += 1
        out += entry
        if len(out) > expected:
            return None
        prev = entry
    return bytes(out) if len(out) == expected else None


def _gif_subblocks(p: bytes, pos: int) -> tuple[bytes, int] | None:
    """Concatenate a GIF sub-block chain; returns (data, pos after the
    0x00 terminator) or None if truncated."""
    parts = []
    n = len(p)
    while True:
        if pos >= n:
            return None
        ln = p[pos]
        pos += 1
        if ln == 0:
            return b"".join(parts), pos
        if pos + ln > n:
            return None
        parts.append(p[pos:pos + ln])
        pos += ln


def _decode_gif(p: bytes) -> tuple[dict | None, str | None]:
    """GIF87a/89a → RGB frames; see block comment. Bounded scope notes:
    frames are emitted as their OWN rectangles expanded through their
    palette (no canvas compositing of partial frames — fixture frames
    are full-canvas; a real deployment composites per the GCE disposal
    method), and the transparent index renders as its palette color."""
    n = len(p)
    if n < 13:
        return None, "truncated_gif"
    w, h = struct.unpack_from("<HH", p, 6)
    packed, _bg, _aspect = p[10], p[11], p[12]
    if w == 0 or h == 0:
        return None, "bad_gif_dims"
    pos = 13
    gct = None
    if packed & 0x80:
        sz = 3 * (2 << (packed & 7))
        if pos + sz > n:
            return None, "truncated_gif"
        gct = np.frombuffer(p, np.uint8, sz, pos).reshape(-1, 3)
        pos += sz
    frames: list[np.ndarray] = []
    delay_cs = 0
    while True:
        if pos >= n:
            return None, "truncated_gif"
        block = p[pos]
        pos += 1
        if block == 0x3B:  # trailer
            break
        if block == 0x21:  # extension
            if pos >= n:
                return None, "truncated_gif"
            label = p[pos]
            got = _gif_subblocks(p, pos + 1)
            if got is None:
                return None, "truncated_gif"
            body, pos = got
            if label == 0xF9 and len(body) >= 3:  # GCE
                delay_cs, = struct.unpack_from("<H", body, 1)
            continue
        if block != 0x2C:
            return None, "bad_gif_block"
        if pos + 9 > n:
            return None, "truncated_gif"
        fx, fy, fw, fh = struct.unpack_from("<HHHH", p, pos)
        fpacked = p[pos + 8]
        pos += 9
        if fw == 0 or fh == 0 or fx + fw > w or fy + fh > h:
            return None, "bad_gif_dims"
        pal = gct
        if fpacked & 0x80:
            sz = 3 * (2 << (fpacked & 7))
            if pos + sz > n:
                return None, "truncated_gif"
            pal = np.frombuffer(p, np.uint8, sz, pos).reshape(-1, 3)
            pos += sz
        if pal is None:
            return None, "missing_gif_palette"
        if pos >= n:
            return None, "truncated_gif"
        mcs = p[pos]
        got = _gif_subblocks(p, pos + 1)
        if got is None:
            return None, "truncated_gif"
        data, pos = got
        idx = _gif_lzw_decode(data, mcs, fw * fh)
        if idx is None:
            return None, "bad_gif_lzw"
        ind = np.frombuffer(idx, np.uint8)
        if int(ind.max(initial=0)) >= len(pal):
            return None, "bad_gif_palette_index"
        rows = ind.reshape(fh, fw)
        if fpacked & 0x40:  # 4-pass interlace: stored order → display order
            order = np.concatenate(
                [np.arange(start, fh, step)
                 for start, step in _GIF_INTERLACE]).astype(np.int64)
            display = np.empty_like(rows)
            display[order] = rows
            rows = display
        frames.append(pal[rows.reshape(-1)].reshape(-1))
    if not frames:
        return None, "missing_gif_frame"
    samples = np.concatenate(frames)
    bounds, off = [], 0
    for f in frames:
        bounds.append((off, len(f)))
        off += len(f)
    if len(frames) == 1:
        return {"kind": "image", "width": int(w), "height": int(h),
                "sample_rate": 0, "n_frames": 1,
                "samples": np.ascontiguousarray(samples)}, None
    fps = round(100 / delay_cs) if delay_cs else 0
    return {"kind": "video", "width": int(w), "height": int(h),
            "sample_rate": fps, "n_frames": len(frames),
            "samples": np.ascontiguousarray(samples),
            "frame_bounds": bounds}, None


def decode_payload_media(payload: bytes) -> tuple[dict | None, str | None]:
    """Magic-byte dispatch over the supported container formats. Unknown
    magic → quarantine row, mirroring the extract pipeline's error
    taxonomy (a real deployment adds compressed codecs here)."""
    if payload is None or len(payload) < 12:
        return None, "empty_or_short_payload"
    if payload[:2] == b"BM":
        return _decode_bmp(payload)
    if payload[:2] == b"P6":
        return _decode_ppm(payload)
    if payload[:4] == b"RIFF":
        return _decode_wav(payload)
    if payload[:9] == b"YUV4MPEG2":
        return _decode_y4m(payload)
    if payload[:8] == _PNG_SIG:
        return _decode_png(payload)
    if payload[:2] == b"\xff\xd8":
        return _decode_jpeg(payload)
    if payload[:6] in (b"GIF87a", b"GIF89a"):
        return _decode_gif(payload)
    if payload[:4] == _MAGIC:
        if len(payload) < 21:
            return None, "empty_or_short_payload"
        return _decode_mmk1(payload)
    return None, "unknown_container"


def _meta_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        rows = {k: [] for k in ("media_id", "kind", "width", "height",
                                "sample_rate", "n_frames", "n_bytes", "error")}
        for mid, payload in zip(pdf["media_id"], pdf["payload"]):
            raw = bytes(payload) if payload is not None else b""
            meta, err = decode_payload_media(raw)
            rows["media_id"].append(mid)
            rows["kind"].append(meta["kind"] if meta else None)
            rows["width"].append(meta["width"] if meta else 0)
            rows["height"].append(meta["height"] if meta else 0)
            rows["sample_rate"].append(meta["sample_rate"] if meta else 0)
            rows["n_frames"].append(meta["n_frames"] if meta else 0)
            rows["n_bytes"].append(len(raw))
            rows["error"].append(err)
        yield pd.DataFrame(rows)


def decode_media(media: DataFrame, num_partitions: int | None = None) -> DataFrame:
    """media(media_id, kind, payload) → typed metadata table. Same
    size-salted partitioning discipline as the text extract operator
    (operators/extract.py): oversized payloads round-robin, rest by id-hash."""
    from .extract import salted_repartition

    df = media.select("media_id", "payload")
    if num_partitions:
        df = salted_repartition(df, num_partitions, key="media_id")
    return df.mapInPandas(_meta_batches, schema=META_SCHEMA)


FEATURE_SCHEMA = "media_id string, feature array<float>, error string"


def _feature_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """8-bin byte histogram of the sample region, L1-normalized — the
    deterministic stand-in for an image-embedding model; numpy-vectorized
    per Arrow batch (never per-pixel Python)."""
    for pdf in batches:
        ids, feats, errs = [], [], []
        for mid, payload in zip(pdf["media_id"], pdf["payload"]):
            meta, err = decode_payload_media(
                bytes(payload) if payload is not None else b"")
            ids.append(mid)
            if err:
                feats.append(None)
                errs.append(err)
                continue
            hist = np.bincount(meta["samples"] >> 5, minlength=8).astype("f8")
            total = hist.sum()
            feats.append((hist / total if total else hist).astype("f4").tolist())
            errs.append(None)
        yield pd.DataFrame({"media_id": ids, "feature": feats, "error": errs})


def media_features(media: DataFrame) -> DataFrame:
    """payload → fixed-dim feature vector (array<float>), ready for the
    vector search stack (vectors_q) — narrow op, no shuffle."""
    return media.select("media_id", "payload").mapInPandas(
        _feature_batches, schema=FEATURE_SCHEMA)


FRAME_SCHEMA = ("media_id string, frame_idx int, frame_off long, "
                "frame_digest string")


def _frame_batches(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    import hashlib
    for pdf in batches:
        rows = {k: [] for k in ("media_id", "frame_idx", "frame_off",
                                "frame_digest")}
        for mid, payload in zip(pdf["media_id"], pdf["payload"]):
            meta, err = decode_payload_media(
                bytes(payload) if payload is not None else b"")
            if err or meta["kind"] != "video" or meta["n_frames"] <= 0:
                continue
            samples = meta["samples"]
            if "frame_bounds" in meta:
                # real container (Y4M): true per-frame boundaries
                pieces = [(idx, off, samples[off:off + size].tobytes())
                          for idx, (off, size)
                          in enumerate(meta["frame_bounds"])
                          if idx % 4 == 0]  # every 4th frame
            else:
                # MMK1 stand-in caps the sample region (4096 bytes): never
                # address frames past the real payload — they would all
                # hash the empty slice to one digest, collapsing dedup
                n_eff = min(meta["n_frames"], len(samples))
                stride = max(len(samples) // max(n_eff, 1), 1)
                pieces = []
                # sample every 4th frame (uniform temporal sampling)
                for idx in range(0, n_eff, 4):
                    off = idx * stride
                    if off >= len(samples):
                        break
                    pieces.append((idx, off,
                                   samples[off:off + stride].tobytes()))
            for idx, off, chunk in pieces:
                rows["media_id"].append(mid)
                rows["frame_idx"].append(idx)
                rows["frame_off"].append(off)
                rows["frame_digest"].append(
                    hashlib.sha256(chunk).hexdigest()[:16])
        yield pd.DataFrame(rows) if rows["media_id"] else pd.DataFrame(
            {k: pd.Series(rows[k], dtype=t) for k, t in
             [("media_id", "object"), ("frame_idx", "int64"),
              ("frame_off", "int64"), ("frame_digest", "object")]})


def sample_frames(media: DataFrame) -> DataFrame:
    """Video payload → one row per sampled frame (1-in→N-out mapInPandas,
    the UDTF shape) with per-frame digests for downstream dedup."""
    return media.select("media_id", "payload").mapInPandas(
        _frame_batches, schema=FRAME_SCHEMA)
