"""Multimodal plumbing under the driver's value-exact gate.

The media payloads are constructed IN-QUERY from a shared hex expression
(identical arithmetic in Spark and DuckDB, `unhex`/`from_hex` at the
end), so the fixture tables stay untouched and both engines see
byte-identical MMK1 containers (operators/multimodal.py stub format).
The Spark side then runs the REAL binary plumbing — `decode_media`
(Arrow-batched struct parse) and `sample_frames` (1-row-in → N-rows-out
frame explosion) — while the oracle computes the expected outputs
arithmetically from the same construction. This turns the multimodal
path from pytest-only into driver-checked, value-exact coverage (frame
DIGESTS stay pytest-only: DuckDB's sha256 accepts VARCHAR, not BLOB).

Container layout under test: 4-byte magic + kind byte + 4×uint32-LE
(width, height, sample_rate, n_frames) + 64 sample bytes; every doc_id
maps to one payload, kind cycling image/audio/video, and doc_id % 7 == 0
gets a corrupt magic to exercise the quarantine taxonomy.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from . import register, tbl

# dims kept < 256 so the little-endian uint32 hex is lpad(hex(v),2)+'000000';
# the 64 sample bytes all carry the per-doc value doc_id % 240 + 16, so the
# feature histogram puts all mass in one doc-determined bin (media_features)
_PAYLOAD_HEX = (
    "concat("
    "CASE WHEN doc_id % 7 = 0 THEN '41414242' ELSE '4D4D4B31' END,"
    " lpad(hex(doc_id % 3 + 1), 2, '0'),"
    " lpad(hex(doc_id % 64 + 16), 2, '0'), '000000',"
    " lpad(hex(doc_id % 48 + 16), 2, '0'), '000000',"
    " lpad(hex(doc_id % 32 + 16), 2, '0'), '000000',"
    " lpad(hex(doc_id % 24 + 16), 2, '0'), '000000',"
    " repeat(lpad(hex(doc_id % 240 + 16), 2, '0'), 64))"
)
_N_BYTES = 4 + 1 + 16 + 64  # magic + kind + 4 dims + samples


def _media_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    docs = tbl(spark, sf_dir, "documents")
    return docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.expr(f"unhex({_PAYLOAD_HEX})").alias("payload"))


@register(
    "media_meta",
    oracle=f"""
    SELECT CAST(doc_id AS VARCHAR) AS media_id,
           CASE WHEN doc_id % 7 = 0 THEN NULL
                WHEN doc_id % 3 = 0 THEN 'image'
                WHEN doc_id % 3 = 1 THEN 'audio'
                ELSE 'video' END AS kind,
           CAST(CASE WHEN doc_id % 7 = 0 THEN 0
                     ELSE doc_id % 64 + 16 END AS INTEGER) AS width,
           CAST(CASE WHEN doc_id % 7 = 0 THEN 0
                     ELSE doc_id % 48 + 16 END AS INTEGER) AS height,
           CAST(CASE WHEN doc_id % 7 = 0 THEN 0
                     ELSE doc_id % 32 + 16 END AS INTEGER) AS sample_rate,
           CAST(CASE WHEN doc_id % 7 = 0 THEN 0
                     ELSE doc_id % 24 + 16 END AS INTEGER) AS n_frames,
           CAST({_N_BYTES} AS BIGINT) AS n_bytes,
           CASE WHEN doc_id % 7 = 0 THEN 'unknown_container'
                ELSE NULL END AS error
    FROM documents
    """,
)
def media_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Binary media decode under the value-exact gate: the Spark side
    round-trips the constructed container bytes through the REAL
    Arrow-batched `decode_media` struct parse (operators/multimodal.py);
    the oracle states the expected typed metadata arithmetically.
    Corrupt-magic rows land in the error column, not as exceptions —
    same quarantine discipline as the text extract pipeline."""
    from ..operators.multimodal import decode_media

    return decode_media(_media_df(spark, sf_dir))


@register(
    "media_frames",
    oracle="""
    WITH v AS (
      SELECT doc_id,
             doc_id % 24 + 16 AS frames,
             greatest(64 // (doc_id % 24 + 16), 1) AS stride
      FROM documents WHERE doc_id % 3 = 2 AND doc_id % 7 <> 0)
    SELECT CAST(doc_id AS VARCHAR) AS media_id,
           CAST(i.range AS INTEGER) AS frame_idx,
           CAST(i.range * stride AS BIGINT) AS frame_off
    FROM v CROSS JOIN range(0, 40) i
    WHERE i.range % 4 = 0 AND i.range < frames AND i.range * stride < 64
    """,
)
def media_frames(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame sampling (1-in→N-out mapInPandas, the UDTF shape) under the
    value-exact gate: every 4th frame of each valid video payload, with
    byte offsets from the kernel's stride arithmetic
    (stride = len(samples) // n_eff). Digests are excluded here (DuckDB
    sha256 is VARCHAR-only) and remain pytest-verified."""
    from ..operators.multimodal import sample_frames

    return (sample_frames(_media_df(spark, sf_dir))
            .select("media_id", "frame_idx", "frame_off"))


def _le(expr: str, n: int) -> str:
    """Little-endian hex of the low n bytes of an integer SQL expression."""
    parts = [f"lpad(hex((({expr}) div {256 ** i}) % 256), 2, '0')"
             for i in range(n)]
    return "concat(" + ", ".join(parts) + ")"


def _bmp_hex(w: str, h: str, v: str, pixels: bool = True) -> str:
    """Spark SQL producing the hex of a real 24-bit BI_RGB BMP: 54-byte
    header (BITMAPINFOHEADER) + stride-padded pixel rows of byte `v`.
    pixels=False emits the header only — a truncated pixel array."""
    stride = f"((({w}) * 3 + 3) div 4) * 4"
    npix = f"(({stride}) * ({h}))"
    parts = [
        "'424D'", _le(f"54 + {npix}", 4),       # magic, file size
        "'0000000036000000'",                   # reserved, data offset 54
        "'28000000'", _le(w, 4), _le(h, 4),     # DIB 40, width, height
        "'01001800'", "'00000000'",             # planes 1, bpp 24, BI_RGB
        _le(npix, 4),                           # image size
        "'00000000000000000000000000000000'",   # xppm/yppm/clrused/clrimp
    ]
    if pixels:
        parts.append(f"repeat(lpad(hex({v}), 2, '0'), {npix})")
    return "concat(" + ", ".join(parts) + ")"


def _wav_hex(rate: str, nfr: str, v: str) -> str:
    """Spark SQL producing the hex of a real RIFF/WAVE PCM16 mono file."""
    dlen = f"(({nfr}) * 2)"
    return "concat(" + ", ".join([
        "'52494646'", _le(f"36 + {dlen}", 4), "'57415645'",  # RIFF/WAVE
        "'666D7420'", "'10000000'",                          # 'fmt ' len 16
        "'01000100'", _le(rate, 4), _le(f"({rate}) * 2", 4),  # PCM, mono
        "'02001000'",                                        # block 2, 16-bit
        "'64617461'", _le(dlen, 4),                          # 'data'
        f"repeat(lpad(hex({v}), 2, '0'), {dlen})",
    ]) + ")"


def _ppm_hex(w: str, h: str, v: str) -> str:
    """Spark SQL producing the hex of a real Netpbm P6 file (ASCII header
    hex-encoded through hex(string), then raw RGB bytes of `v`)."""
    header = (f"concat('P6', char(10), cast({w} as string), ' ', "
              f"cast({h} as string), char(10), '255', char(10))")
    return (f"concat(hex({header}), "
            f"repeat(lpad(hex({v}), 2, '0'), ({w}) * ({h}) * 3))")


_W_BMP, _H_BMP = "doc_id % 6 + 1", "doc_id % 3 + 1"
_W_PPM, _H_PPM = "doc_id % 5 + 1", "doc_id % 4 + 1"
_RATE, _NFR, _V = "8000 + doc_id % 100", "doc_id % 16 + 1", "doc_id % 200 + 20"

_REAL_PAYLOAD_HEX = f"""CASE
  WHEN doc_id % 11 = 0 THEN {_bmp_hex('4', '2', _V, pixels=False)}
  WHEN doc_id % 3 = 0 THEN {_bmp_hex(_W_BMP, _H_BMP, _V)}
  WHEN doc_id % 3 = 1 THEN {_wav_hex(_RATE, _NFR, _V)}
  ELSE {_ppm_hex(_W_PPM, _H_PPM, _V)} END"""


@register(
    "media_meta_real",
    oracle="""
    SELECT CAST(doc_id AS VARCHAR) AS media_id,
           CASE WHEN doc_id % 11 = 0 THEN NULL
                WHEN doc_id % 3 = 1 THEN 'audio'
                ELSE 'image' END AS kind,
           CAST(CASE WHEN doc_id % 11 = 0 THEN 0
                     WHEN doc_id % 3 = 0 THEN doc_id % 6 + 1
                     WHEN doc_id % 3 = 2 THEN doc_id % 5 + 1
                     ELSE 0 END AS INTEGER) AS width,
           CAST(CASE WHEN doc_id % 11 = 0 THEN 0
                     WHEN doc_id % 3 = 0 THEN doc_id % 3 + 1
                     WHEN doc_id % 3 = 2 THEN doc_id % 4 + 1
                     ELSE 0 END AS INTEGER) AS height,
           CAST(CASE WHEN doc_id % 11 <> 0 AND doc_id % 3 = 1
                     THEN 8000 + doc_id % 100 ELSE 0 END AS INTEGER)
             AS sample_rate,
           CAST(CASE WHEN doc_id % 11 = 0 THEN 0
                     WHEN doc_id % 3 = 1 THEN doc_id % 16 + 1
                     ELSE 1 END AS INTEGER) AS n_frames,
           CAST(CASE WHEN doc_id % 11 = 0 THEN 54
                     WHEN doc_id % 3 = 0 THEN
                       54 + (((doc_id % 6 + 1) * 3 + 3) // 4) * 4
                            * (doc_id % 3 + 1)
                     WHEN doc_id % 3 = 1 THEN 44 + (doc_id % 16 + 1) * 2
                     ELSE 9 + length(CAST(doc_id % 5 + 1 AS VARCHAR))
                            + length(CAST(doc_id % 4 + 1 AS VARCHAR))
                            + (doc_id % 5 + 1) * (doc_id % 4 + 1) * 3
                     END AS BIGINT) AS n_bytes,
           CASE WHEN doc_id % 11 = 0 THEN 'truncated_bmp_pixels'
                ELSE NULL END AS error
    FROM documents
    """,
)
def media_meta_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-format media decode under the value-exact gate: per doc_id the
    Spark side hex-constructs a spec-conformant BMP (24-bit BI_RGB,
    stride-padded), WAV (RIFF PCM16 mono) or PPM (P6, ASCII header) — and,
    for doc_id % 11 = 0, a BMP whose header claims a pixel array the
    payload does not carry — then round-trips the bytes through the real
    magic-dispatch decoder (operators/multimodal.decode_payload_media).
    The oracle states width/height/sample_rate/frame-count/byte-length
    arithmetically from the same construction, including the
    truncated-pixel quarantine branch."""
    from ..operators.multimodal import decode_media

    docs = tbl(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.expr(f"unhex({_REAL_PAYLOAD_HEX})").alias("payload"))
    return decode_media(media)


def _y4m_hex(w: str, h: str, nfr: str, v: str) -> str:
    """Spark SQL producing the hex of a real YUV4MPEG2 stream: ASCII
    header, then per-frame FRAME marker + w*h*3/2 bytes of `v` (C420)."""
    header = (f"concat('YUV4MPEG2 W', cast({w} as string), ' H', "
              f"cast({h} as string), ' F25:1 Ip A1:1 C420', char(10))")
    fsize = f"(({w}) * ({h}) * 3 div 2)"
    frame = (f"concat(hex(concat('FRAME', char(10))), "
             f"repeat(lpad(hex({v}), 2, '0'), {fsize}))")
    return f"concat(hex({header}), repeat({frame}, {nfr}))"


_Y4M_W, _Y4M_H = "doc_id % 3 * 2 + 2", "doc_id % 2 * 2 + 2"
_Y4M_NFR = "doc_id % 13 + 1"


@register(
    "media_frames_real",
    oracle=f"""
    WITH v AS (
      SELECT doc_id,
             ({_Y4M_W.replace('doc_id', 'doc_id')}) * ({_Y4M_H}) * 3 // 2
               AS fsize,
             {_Y4M_NFR} AS frames
      FROM documents)
    SELECT CAST(doc_id AS VARCHAR) AS media_id,
           CAST(i.range AS INTEGER) AS frame_idx,
           CAST(i.range * fsize AS BIGINT) AS frame_off
    FROM v CROSS JOIN range(0, 16) i
    WHERE i.range % 4 = 0 AND i.range < frames
    """,
)
def media_frames_real(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL-container frame sampling under the value-exact gate: the
    Spark side hex-constructs a spec-conformant YUV4MPEG2 stream per doc
    (ASCII header, FRAME markers, C420 payloads) and runs the real
    magic-dispatch decoder + frame sampler — which must walk TRUE frame
    boundaries (every 4th frame at offsets of multiples of w*h*3/2), not
    the MMK1 stride arithmetic. The oracle states the expected
    (frame_idx, frame_off) rows arithmetically. Digests stay
    pytest-verified (DuckDB sha256 is VARCHAR-only)."""
    from ..operators.multimodal import sample_frames

    docs = tbl(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.expr(f"unhex({_y4m_hex(_Y4M_W, _Y4M_H, _Y4M_NFR, _V)})")
        .alias("payload"))
    return (sample_frames(media)
            .select("media_id", "frame_idx", "frame_off"))


_PNG_W, _PNG_H = "doc_id % 6 + 1", "doc_id % 4 + 1"
# color types cycle over the four non-palette layouts (palette expansion
# is pytest-covered; constant-value mode keeps indices non-constant)
_PNG_CTS = (0, 2, 4, 6)


def _png_media_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → (media_id, payload) of REAL zlib-compressed PNGs, one
    per doc: dims/color-type/pixel value are doc_id arithmetic, scanline
    filters cycle 0-4, and doc_id % 13 == 0 flips one IDAT byte so the
    chunk CRC check must fire. Synthesis is fixture generation inside an
    Arrow batch (fixtures/media.make_png), not a measured kernel."""
    import pandas as pd

    from ..fixtures.media import make_png

    def gen(batches):
        for pdf in batches:
            ids, payloads = [], []
            for did in pdf["doc_id"]:
                did = int(did)
                p = make_png(did % 6 + 1, did % 4 + 1,
                             color_type=_PNG_CTS[did % 4],
                             value=did % 200 + 20)
                if did % 13 == 0:
                    b = bytearray(p)
                    b[41] ^= 0xFF  # inside the IHDR-following chunk walk
                    p = bytes(b)
                ids.append(str(did))
                payloads.append(p)
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    docs = tbl(spark, sf_dir, "documents").select("doc_id")
    return docs.mapInPandas(gen, schema="media_id string, payload binary")


@register(
    "media_meta_png",
    oracle=f"""
    SELECT CAST(doc_id AS VARCHAR) AS media_id,
           CASE WHEN doc_id % 13 = 0 THEN NULL ELSE 'image' END AS kind,
           CAST(CASE WHEN doc_id % 13 = 0 THEN 0
                     ELSE {_PNG_W} END AS INTEGER) AS width,
           CAST(CASE WHEN doc_id % 13 = 0 THEN 0
                     ELSE {_PNG_H} END AS INTEGER) AS height,
           CAST(CASE WHEN doc_id % 13 = 0 THEN 0
                     ELSE 1 END AS INTEGER) AS n_frames,
           CASE WHEN doc_id % 13 = 0 THEN 'bad_png_crc'
                ELSE NULL END AS error
    FROM documents
    """,
)
def media_meta_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """COMPRESSED-format decode under the value-exact gate: real PNGs
    (zlib IDAT, per-scanline filters cycling all five spec types, chunk
    CRCs) round-trip through the magic-dispatch decoder
    (operators/multimodal._decode_png); the oracle states the typed
    metadata arithmetically, including the flipped-IDAT-byte rows that
    must quarantine as bad_png_crc. n_bytes is projected away — zlib
    stream length is not arithmetic — and stays pytest-covered."""
    from ..operators.multimodal import decode_media

    return (decode_media(_png_media_df(spark, sf_dir))
            .select("media_id", "kind", "width", "height", "n_frames",
                    "error"))


@register(
    "media_features_png",
    oracle="""
    SELECT CAST(doc_id AS VARCHAR) AS media_id,
           CASE WHEN doc_id % 13 = 0 THEN NULL
                ELSE list_transform(range(0, 8),
                       i -> CAST(CASE WHEN i = (doc_id % 200 + 20) // 32
                                      THEN 1.0 ELSE 0.0 END AS REAL))
           END AS feature,
           CASE WHEN doc_id % 13 = 0 THEN 'bad_png_crc'
                ELSE NULL END AS error
    FROM documents
    """,
)
def media_features_png(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-exact proof that PNG inflate + unfilter reconstructs the
    PIXELS, not just the header: every valid payload's samples are one
    per-doc byte v (the filtered stream still varies per scanline filter
    type), so the L1-normalized 8-bin histogram must put all mass in bin
    v >> 5. A single wrong byte after any of the five filters moves mass
    to another bin and fails the hash compare."""
    from ..operators.multimodal import media_features as mf

    return mf(_png_media_df(spark, sf_dir))


@register(
    "media_features",
    oracle="""
    SELECT CAST(doc_id AS VARCHAR) AS media_id,
           CASE WHEN doc_id % 7 = 0 THEN NULL
                ELSE list_transform(range(0, 8),
                       i -> CAST(CASE WHEN i = (doc_id % 240 + 16) // 32
                                      THEN 1.0 ELSE 0.0 END AS REAL))
           END AS feature,
           CASE WHEN doc_id % 7 = 0 THEN 'unknown_container'
                ELSE NULL END AS error
    FROM documents
    """,
)
def media_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Media feature extraction under the value-exact gate: the REAL
    numpy-vectorized byte-histogram kernel (operators/multimodal.
    media_features, the image-embedding stand-in) runs on the constructed
    containers; every valid payload's 64 sample bytes carry one per-doc
    value, so the L1-normalized 8-bin histogram is 1.0 in bin
    (value >> 5) — stated arithmetically by the oracle, including the
    corrupt-magic NULL/error branch. Output is array<float>, ready for
    the vector search stack."""
    from ..operators.multimodal import media_features as mf

    return mf(_media_df(spark, sf_dir))


_JPEG_W, _JPEG_H = "doc_id % 6 + 1", "doc_id % 4 + 1"


def _jpeg_media_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → (media_id, payload) of REAL baseline JPEGs, one per
    doc: dims and the constant pixel value are doc_id arithmetic, the
    layout cycles gray / YCbCr 4:4:4 / YCbCr 4:2:0 (so entropy decode,
    chroma upsampling and the color transform all sit under the gate),
    and doc_id % 13 == 0 rewrites the SOF0 marker to SOF2 so the decoder
    must quarantine the stream as progressive. Synthesis is fixture
    generation inside an Arrow batch (fixtures/media.make_jpeg), not a
    measured kernel."""
    import pandas as pd

    from ..fixtures.media import make_jpeg

    def gen(batches):
        for pdf in batches:
            ids, payloads = [], []
            for did in pdf["doc_id"]:
                did = int(did)
                mode = did % 3
                p = make_jpeg(did % 6 + 1, did % 4 + 1,
                              gray=(mode == 0),
                              subsampling="420" if mode == 2 else "444",
                              value=did % 200 + 20)
                if did % 13 == 0:
                    i = p.find(b"\xff\xc0")
                    p = p[:i + 1] + b"\xc2" + p[i + 2:]
                ids.append(str(did))
                payloads.append(p)
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    docs = tbl(spark, sf_dir, "documents").select("doc_id")
    return docs.mapInPandas(gen, schema="media_id string, payload binary")


@register(
    "media_meta_jpeg",
    oracle=f"""
    SELECT CAST(doc_id AS VARCHAR) AS media_id,
           CASE WHEN doc_id % 13 = 0 THEN NULL ELSE 'image' END AS kind,
           CAST(CASE WHEN doc_id % 13 = 0 THEN 0
                     ELSE {_JPEG_W} END AS INTEGER) AS width,
           CAST(CASE WHEN doc_id % 13 = 0 THEN 0
                     ELSE {_JPEG_H} END AS INTEGER) AS height,
           CAST(CASE WHEN doc_id % 13 = 0 THEN 0
                     ELSE 1 END AS INTEGER) AS n_frames,
           CASE WHEN doc_id % 13 = 0 THEN 'unsupported_jpeg_progressive'
                ELSE NULL END AS error
    FROM documents
    """,
)
def media_meta_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Baseline-JPEG decode under the value-exact gate: real T.81 streams
    (Huffman entropy coding, DQT/DHT carried in-stream, gray/444/420
    layouts) round-trip through the magic-dispatch decoder
    (operators/multimodal._decode_jpeg); the oracle states the typed
    metadata arithmetically, including the SOF2-rewritten rows that must
    quarantine as unsupported_jpeg_progressive. n_bytes is projected
    away — entropy-coded stream length is not arithmetic — and stays
    pytest-covered."""
    from ..operators.multimodal import decode_media

    return (decode_media(_jpeg_media_df(spark, sf_dir))
            .select("media_id", "kind", "width", "height", "n_frames",
                    "error"))


@register(
    "media_features_jpeg",
    oracle="""
    SELECT CAST(doc_id AS VARCHAR) AS media_id,
           CASE WHEN doc_id % 13 = 0 THEN NULL
                ELSE list_transform(range(0, 8),
                       i -> CAST(CASE WHEN i = (doc_id % 200 + 20) // 32
                                      THEN 1.0 ELSE 0.0 END AS REAL))
           END AS feature,
           CASE WHEN doc_id % 13 = 0 THEN 'unsupported_jpeg_progressive'
                ELSE NULL END AS error
    FROM documents
    """,
)
def media_features_jpeg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-exact proof that the JPEG path reconstructs the PIXELS —
    Huffman decode, dequantization, IDCT, chroma upsampling and the
    YCbCr→RGB transform all together: every valid payload encodes a
    constant-value image (all-ones quant tables make it DC-only and
    exact; tests/test_multimodal.py proves the premise), so the
    L1-normalized 8-bin histogram must put all mass in bin v >> 5. One
    wrong sample byte after any stage moves mass and fails the hash
    compare."""
    from ..operators.multimodal import media_features as mf

    return mf(_jpeg_media_df(spark, sf_dir))


_GIF_W, _GIF_H = "doc_id % 6 + 1", "doc_id % 4 + 1"
_GIF_NFR = "(doc_id % 4) * 3 + 1"  # 1 (still) / 4 / 7 / 10 (animated)


def _gif_media_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → (media_id, payload) of REAL LZW-compressed GIFs, one
    per doc: dims/frame-count/constant pixel value are doc_id arithmetic
    ((doc_id % 4)·3 + 1 frames, so stills and animations interleave and
    the video branch is exercised), palette slot 0 carries the per-doc
    value, and doc_id % 13 == 0 drops the final two bytes (sub-block
    terminator + trailer) so the decoder must quarantine the chain as
    truncated. Synthesis is fixture generation inside an Arrow batch
    (fixtures/media.make_gif), not a measured kernel."""
    import pandas as pd

    from ..fixtures.media import make_gif

    def gen(batches):
        for pdf in batches:
            ids, payloads = [], []
            for did in pdf["doc_id"]:
                did = int(did)
                p = make_gif(did % 6 + 1, did % 4 + 1,
                             n_frames=(did % 4) * 3 + 1,
                             value=did % 200 + 20)
                if did % 13 == 0:
                    p = p[:-2]
                ids.append(str(did))
                payloads.append(p)
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    docs = tbl(spark, sf_dir, "documents").select("doc_id")
    return docs.mapInPandas(gen, schema="media_id string, payload binary")


@register(
    "media_meta_gif",
    oracle=f"""
    SELECT CAST(doc_id AS VARCHAR) AS media_id,
           CASE WHEN doc_id % 13 = 0 THEN NULL
                WHEN doc_id % 4 = 0 THEN 'image'
                ELSE 'video' END AS kind,
           CAST(CASE WHEN doc_id % 13 = 0 THEN 0
                     ELSE {_GIF_W} END AS INTEGER) AS width,
           CAST(CASE WHEN doc_id % 13 = 0 THEN 0
                     ELSE {_GIF_H} END AS INTEGER) AS height,
           CAST(CASE WHEN doc_id % 13 = 0 OR doc_id % 4 = 0 THEN 0
                     ELSE 25 END AS INTEGER) AS sample_rate,
           CAST(CASE WHEN doc_id % 13 = 0 THEN 0
                     ELSE {_GIF_NFR} END AS INTEGER) AS n_frames,
           CASE WHEN doc_id % 13 = 0 THEN 'truncated_gif'
                ELSE NULL END AS error
    FROM documents
    """,
)
def media_meta_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GIF decode under the value-exact gate: real LZW streams round-trip
    through the magic-dispatch decoder (operators/multimodal._decode_gif);
    the oracle states kind (still image vs multi-frame video), dims,
    GCE-derived frame rate (delay 4 cs → 25 fps), frame count and the
    truncated-chain quarantine arithmetically. n_bytes is projected away
    (LZW stream length is not arithmetic) and stays pytest-covered."""
    from ..operators.multimodal import decode_media

    return (decode_media(_gif_media_df(spark, sf_dir))
            .select("media_id", "kind", "width", "height", "sample_rate",
                    "n_frames", "error"))


@register(
    "media_features_gif",
    oracle="""
    SELECT CAST(doc_id AS VARCHAR) AS media_id,
           CASE WHEN doc_id % 13 = 0 THEN NULL
                ELSE list_transform(range(0, 8),
                       i -> CAST(CASE WHEN i = (doc_id % 200 + 20) // 32
                                      THEN 1.0 ELSE 0.0 END AS REAL))
           END AS feature,
           CASE WHEN doc_id % 13 = 0 THEN 'truncated_gif'
                ELSE NULL END AS error
    FROM documents
    """,
)
def media_features_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Value-exact proof that LZW decompression + palette expansion
    reconstruct the PIXELS across every frame: all indices point at
    palette slot 0 = (v, v, v), so the L1-normalized histogram of the
    frame-concatenated samples must put all mass in bin v >> 5 — a
    single wrong index, palette byte or frame boundary moves mass and
    fails the hash compare."""
    from ..operators.multimodal import media_features as mf

    return mf(_gif_media_df(spark, sf_dir))


@register(
    "media_frames_gif",
    oracle=f"""
    WITH v AS (
      SELECT doc_id,
             ({_GIF_W}) * ({_GIF_H}) * 3 AS fsize,
             {_GIF_NFR} AS frames
      FROM documents WHERE doc_id % 13 <> 0 AND doc_id % 4 <> 0)
    SELECT CAST(doc_id AS VARCHAR) AS media_id,
           CAST(i.range AS INTEGER) AS frame_idx,
           CAST(i.range * fsize AS BIGINT) AS frame_off
    FROM v CROSS JOIN range(0, 12) i
    WHERE i.range % 4 = 0 AND i.range < frames
    """,
)
def media_frames_gif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANIMATED-GIF frame sampling under the value-exact gate: the same
    sample_frames operator that walks Y4M streams must address the GIF
    decoder's true frame boundaries — every 4th frame at offsets of
    multiples of w·h·3 RGB bytes — with stills and truncated chains
    dropping out. The oracle states the expected (frame_idx, frame_off)
    rows arithmetically; digests stay pytest-verified (DuckDB sha256 is
    VARCHAR-only)."""
    from ..operators.multimodal import sample_frames

    return (sample_frames(_gif_media_df(spark, sf_dir))
            .select("media_id", "frame_idx", "frame_off"))


def _gif_video_df(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → animated-GIF payloads with PLANTED cross-video
    duplicate frames: fixed 8×6 canvas, (doc_id % 3)·4 + 4 frames, and
    the content seed is doc_id % 5 — so two videos share a frame exactly
    when their seeds match and the frame index is the same (seeds < 97
    keep per-frame seeds collision-free across indices). doc_id % 13
    drops the trailing bytes → truncated chains fall out of the frame
    table, exercising the quarantine edge inside the dedup input."""
    import pandas as pd

    from ..fixtures.media import make_gif

    def gen(batches):
        for pdf in batches:
            ids, payloads = [], []
            for did in pdf["doc_id"]:
                did = int(did)
                p = make_gif(8, 6, n_frames=(did % 3) * 4 + 4,
                             seed=did % 5)
                if did % 13 == 0:
                    p = p[:-2]
                ids.append(str(did))
                payloads.append(p)
            yield pd.DataFrame({"media_id": ids, "payload": payloads})

    docs = tbl(spark, sf_dir, "documents").select("doc_id")
    return docs.mapInPandas(gen, schema="media_id string, payload binary")


@register(
    "video_frame_dedup",
    oracle="""
    WITH v AS (
      SELECT doc_id, doc_id % 5 AS grp, (doc_id % 3) * 4 + 4 AS frames
      FROM documents WHERE doc_id % 13 <> 0),
    f AS (SELECT doc_id, grp, i.range AS frame_idx
          FROM v CROSS JOIN range(0, 12) i
          WHERE i.range % 4 = 0 AND i.range < frames)
    SELECT CAST(frame_idx AS INTEGER) AS frame_idx,
           CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_videos,
           CAST(MIN(doc_id) AS BIGINT) AS first_media,
           CAST(MAX(doc_id) AS BIGINT) AS last_media
    FROM f GROUP BY grp, frame_idx
    HAVING COUNT(DISTINCT doc_id) >= 2
    """,
)
def video_frame_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-video FRAME-level exact dedup — the video analog of
    dedup_exact: sampled frames of every decodable animation (real GIF
    LZW decode end-to-end) group on their content digest; clusters seen
    in ≥ 2 distinct videos surface with their size and lexicographic
    media bounds. The oracle replays the planted-duplicate arithmetic
    (digest equality ⟺ same content seed AND same frame index on this
    fixture), so a digest computed over wrong bytes, a frame boundary
    off by one, or a truncated chain leaking frames all break the hash
    compare.

    Scale shape: the standard two-phase distinct-agg plan — partial
    dedup on (digest, media) then the digest groupBy, both HashAggregate
    with map-side partials (media bounds aggregate as fixed-width longs,
    NOT strings, precisely so the hash fast path applies — min(string)
    would fall back to SortAggregate) — no pair expansion, no window;
    the frame table itself is a narrow 1-in→N-out mapInPandas off the
    payload column. At 10^12 videos this is exactly the dedup_exact plan
    with frames as the unit, and near-dup variants would swap the digest
    for a perceptual sketch under the same groupBy."""
    from ..operators.multimodal import sample_frames

    frames = (sample_frames(_gif_video_df(spark, sf_dir))
              .select("frame_digest", "frame_idx",
                      F.col("media_id").cast("long").alias("media_no")))
    return (frames.groupBy("frame_digest")
            .agg(F.count_distinct("media_no").alias("n_videos"),
                 F.min("frame_idx").alias("frame_idx"),
                 F.min("media_no").alias("first_media"),
                 F.max("media_no").alias("last_media"))
            .filter(F.col("n_videos") >= 2)
            .select("frame_idx", "n_videos", "first_media", "last_media"))
