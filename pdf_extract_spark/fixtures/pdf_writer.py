"""Minimal deterministic PDF writer for fixtures.

Emits single/multi-page PDFs using only the text operators the extraction
kernel supports (``BT/ET``, ``Tf``, ``Td/TD/Tm/T*/TL``, ``Tj/TJ/'``,
literal + hex strings, optionally FlateDecode-compressed content streams)
— per FIXTURES.md §1. The reference consumes PDFs via pdfplumber
(/root/reference/modules/tools.py:42-46); this sandbox has no PDF libs, so
fixtures are produced by this writer and decoded by
``pdf_extract_spark.kernels.pdf_extract`` (same text model, bounded scope).
"""

from __future__ import annotations

import re
import zlib

PAGE_W, PAGE_H = 612, 792
LEFT = 72
RIGHT_COL = 330
TOP = 720
LEADING = 14
FONT_SIZE = 12


def _esc(s: str) -> str:
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def _a85_encode(data: bytes) -> bytes:
    """ISO 32000 §7.4.3 encoder: 4-byte big-endian groups → 5 chars
    '!'..'u', all-zero full groups → 'z', partial final group of n bytes
    → n+1 chars, '~>' EOD. Line-wrapped at 72 chars (whitespace the
    decoder must ignore)."""
    out = bytearray()
    n = len(data)
    for i in range(0, n, 4):
        chunk = data[i:i + 4]
        pad = 4 - len(chunk)
        v = int.from_bytes(chunk + b"\x00" * pad, "big")
        if v == 0 and pad == 0:
            out += b"z"
            continue
        grp = bytearray(5)
        for j in range(4, -1, -1):
            grp[j] = 33 + v % 85
            v //= 85
        out += grp[:5 - pad]
    wrapped = b"\n".join(out[i:i + 72] for i in range(0, len(out), 72))
    return wrapped + b"~>"


def _rle_encode(data: bytes) -> bytes:
    """§7.4.5 encoder: real run detection (runs ≥ 3 become 257-L repeat
    records, the rest literal records ≤ 128 bytes), EOD byte 128."""
    out = bytearray()
    i, n = 0, len(data)
    lit_start = 0

    def flush_lit(end: int) -> None:
        s = lit_start
        while s < end:
            take = min(128, end - s)
            out.append(take - 1)
            out.extend(data[s:s + take])
            s += take

    while i < n:
        run = 1
        while i + run < n and run < 128 and data[i + run] == data[i]:
            run += 1
        if run >= 3:
            flush_lit(i)
            out.append(257 - run)
            out.append(data[i])
            i += run
            lit_start = i
        else:
            i += run
    flush_lit(n)
    out.append(128)
    return bytes(out)


def _lzw_encode(data: bytes, early: int = 1) -> bytes:
    """§7.4.4 encoder: real dictionary LZW, MSB-first variable-width
    codes (9→12 bits), Clear=256 leading, EOD=257 trailing, table reset
    at 4096 entries, EarlyChange width bump (default 1)."""
    table: dict[bytes, int] = {bytes([i]): i for i in range(256)}
    next_code = 258
    width = 9
    acc = nbits = 0
    out = bytearray()

    def emit(code: int) -> None:
        nonlocal acc, nbits
        acc = (acc << width) | code
        nbits += width
        while nbits >= 8:
            nbits -= 8
            out.append((acc >> nbits) & 0xFF)

    emit(256)
    w = b""
    for i in range(len(data)):
        c = data[i:i + 1]
        if w + c in table:
            w += c
            continue
        emit(table[w])
        if next_code + early >= (1 << width) and width < 12:
            width += 1
        table[w + c] = next_code
        next_code += 1
        if next_code == 4096:
            emit(256)
            table = {bytes([j]): j for j in range(256)}
            next_code, width = 258, 9
        w = c
    if w:
        emit(table[w])
        if next_code + early >= (1 << width) and width < 12:
            width += 1
    emit(257)
    if nbits:
        out.append((acc << (8 - nbits)) & 0xFF)
    return bytes(out)


_FILTER_ENCODERS = {
    "/FlateDecode": lambda b: zlib.compress(b, 6),
    "/LZWDecode": _lzw_encode,
    "/ASCIIHexDecode": lambda b: b.hex().encode("ascii") + b">",
    "/ASCII85Decode": _a85_encode,
    "/RunLengthDecode": _rle_encode,
}


def _content_stream(ops: list[str], compress: bool = False,
                    filters: list[str] | None = None,
                    decode_parms: str | None = None) -> bytes:
    """Serialize ops; `filters` is the DECODE order (the /Filter array),
    so encoding applies them in reverse — e.g. ["/ASCII85Decode",
    "/FlateDecode"] deflates first, then ascii85-wraps. `decode_parms`
    is written verbatim as the stream's /DecodeParms (encoding ignores
    it)."""
    body = "\n".join(ops).encode("latin-1", errors="replace")
    if filters is None:
        filters = ["/FlateDecode"] if compress else []
    for name in reversed(filters):
        body = _FILTER_ENCODERS[name](body)
    d = b"<< /Length " + str(len(body)).encode()
    if len(filters) == 1:
        d += b" /Filter " + filters[0].encode()
    elif filters:
        d += b" /Filter [" + " ".join(filters).encode() + b"]"
    if decode_parms is not None:
        d += b" /DecodeParms " + decode_parms.encode()
    return d + b" >>\nstream\n" + body + b"\nendstream"


def page_ops_simple(lines: list[str]) -> list[str]:
    """One-column page: Td positioning + TD leading, one Tj per line."""
    ops = ["BT", f"/F1 {FONT_SIZE} Tf", f"{LEFT} {TOP} Td"]
    for i, line in enumerate(lines):
        if i:
            ops.append(f"0 -{LEADING} TD")
        ops.append(f"({_esc(line)}) Tj")
    ops.append("ET")
    return ops


def page_ops_words(words_rows: list[list[str]]) -> list[str]:
    """Exercise word grouping by x-gap: each word its own Tm-positioned Tj."""
    ops = ["BT", f"/F1 {FONT_SIZE} Tf"]
    y = TOP
    for row in words_rows:
        x = LEFT
        for w in row:
            ops.append(f"1 0 0 1 {x} {y} Tm")
            ops.append(f"({_esc(w)}) Tj")
            x += int(0.5 * FONT_SIZE * len(w)) + 6  # gap > space threshold
        y -= LEADING
    ops.append("ET")
    return ops


def page_ops_two_column(left_lines: list[str], right_lines: list[str]) -> list[str]:
    """Two-column page: right column emitted FIRST in stream order so the
    kernel's reading-order sort (left column before right) is actually tested."""
    ops = ["BT", f"/F1 {FONT_SIZE} Tf"]
    y = TOP
    for line in right_lines:
        ops.append(f"1 0 0 1 {RIGHT_COL} {y} Tm")
        ops.append(f"({_esc(line)}) Tj")
        y -= LEADING
    y = TOP
    for line in left_lines:
        ops.append(f"1 0 0 1 {LEFT} {y} Tm")
        ops.append(f"({_esc(line)}) Tj")
        y -= LEADING
    ops.append("ET")
    return ops


def page_ops_table(header: list[str], rows: list[list[str]]) -> list[str]:
    """Aligned-column table region: cells at fixed x positions."""
    xs = [LEFT + 110 * i for i in range(len(header))]
    ops = ["BT", f"/F1 {FONT_SIZE} Tf"]
    y = TOP
    for row in [header] + rows:
        for x, cell in zip(xs, row):
            ops.append(f"1 0 0 1 {x} {y} Tm")
            ops.append(f"({_esc(cell)}) Tj")
        y -= LEADING
    ops.append("ET")
    return ops


def page_ops_tj_array(segments: list[list]) -> list[str]:
    """TJ array form: [(str) kern (str) ...] per line; kern < -500 ⇒ word gap."""
    ops = ["BT", f"/F1 {FONT_SIZE} Tf", f"{LEFT} {TOP} Td"]
    for i, seg in enumerate(segments):
        if i:
            ops.append(f"0 -{LEADING} TD")
        parts = []
        for item in seg:
            if isinstance(item, str):
                parts.append(f"({_esc(item)})")
            else:
                parts.append(str(item))
        ops.append("[" + " ".join(parts) + "] TJ")
    ops.append("ET")
    return ops


def page_ops_inline_image(lines: list[str]) -> list[str]:
    """Text lines interleaved with inline images (§8.9.7) whose binary
    data is adversarial for a text tokenizer: parens, show operators,
    digits, and non-delimited 'EI' byte pairs that are NOT the EOD (only
    a whitespace-delimited EI ends the data)."""
    raw = b"\x28\x29 12 Tj BT (x) Tj \xff\x00EIX \xfeEI7 "  # fake EIs
    blob = raw.decode("latin-1")
    img = f"BI /W 4 /H 2 /CS /G /BPC 8 ID {blob}\nEI"
    ops: list[str] = []
    for i, line in enumerate(lines):
        ops += ["BT", f"/F1 {FONT_SIZE} Tf",
                f"{LEFT} {TOP - i * LEADING} Td",
                f"({_esc(line)}) Tj", "ET", img]
    return ops


def encode_simple(text: str, base: str | None,
                  differences: list | None) -> str:
    """Encode unicode text into the byte codes of a simple-font
    encoding (inverse of the kernel's effective table), returned as
    latin-1 chars ready for a literal string in a content stream.
    Raises KeyError for unencodable characters — fixtures must stay
    within the declared encoding."""
    from ..kernels.pdfenc import build_encoding
    diffs = None
    if differences is not None:
        diffs = [d if isinstance(d, int) else "/" + d
                 for d in differences]
    tbl = build_encoding(base, diffs)
    inv: dict[str, int] = {}
    for code, ch in enumerate(tbl):
        if ch and ch not in inv:
            inv[ch] = code
    return "".join(chr(inv[c]) for c in text)


def page_ops_simple_enc(lines: list[str], base: str | None,
                        differences: list | None) -> list[str]:
    """One-column page in the /F3 encoded simple font: unicode lines are
    byte-encoded through the declared base+differences table."""
    ops = ["BT", f"/F3 {FONT_SIZE} Tf", f"{LEFT} {TOP} Td"]
    for i, line in enumerate(lines):
        if i:
            ops.append(f"0 -{LEADING} TD")
        ops.append(f"({_esc(encode_simple(line, base, differences))}) Tj")
    ops.append("ET")
    return ops


def page_ops_text_state(lines: list[str]) -> list[str]:
    """Exercise Tc/Tw/Tz/Ts (§9.3.1): char spacing widens glyph
    advances, word spacing widens space advances, horizontal scaling
    compresses them, rise superscripts within the same visual line —
    all while keeping inter-word gaps above GAP_FACTOR and line pitch
    above Y_TOL so extracted text equals the plain twin."""
    ops = ["BT", f"/F1 {FONT_SIZE} Tf", f"{LEFT} {TOP} Td",
           "0.4 Tc", "2.5 Tw", "90 Tz"]
    for i, line in enumerate(lines):
        if i:
            ops.append(f"0 -{LEADING} TD")
        if i % 2:
            ops.append("1.5 Ts")   # small rise: same line within Y_TOL
        else:
            ops.append("0 Ts")
        ops.append(f"({_esc(line)}) Tj")
    ops.append("ET")
    return ops


def page_ops_quote_hex(lines: list[str]) -> list[str]:
    """Exercise TL leading + the ' (next-line-show) operator and hex-string
    arguments: odd lines as hex strings, even as literals."""
    ops = ["BT", f"/F1 {FONT_SIZE} Tf", f"{LEADING} TL",
           f"{LEFT} {TOP} Td"]
    for i, line in enumerate(lines):
        if i == 0:
            ops.append(f"({_esc(line)}) Tj")
        elif i % 2:
            hx = line.encode("latin-1", errors="replace").hex()
            ops.append(f"<{hx}> '")
        else:
            ops.append(f"({_esc(line)}) '")
    ops.append("ET")
    return ops


# ---------------------------------------------------------------------
# PDF 1.5 structural fixtures: xref streams, object streams, CID fonts.

# fixture ToUnicode mapping: 2-byte codes — printable ASCII identity,
# two bfchar specials, one array-form bfrange of Greek capitals
CID_SPECIALS = {"Ω": 0x0100, "δ": 0x0101}
CID_RANGE = {chr(0x0391 + k): 0x0200 + k for k in range(3)}  # Α Β Γ


def cid_encode(text: str) -> str:
    """Hex string of the fixture CMap's 2-byte codes for `text`."""
    out = []
    for ch in text:
        if ch in CID_SPECIALS:
            out.append(f"{CID_SPECIALS[ch]:04x}")
        elif ch in CID_RANGE:
            out.append(f"{CID_RANGE[ch]:04x}")
        else:
            out.append(f"{ord(ch) & 0xFFFF:04x}")
    return "".join(out)


def tounicode_cmap() -> bytes:
    """ToUnicode CMap exercising codespacerange, bfchar, and BOTH
    bfrange forms (destination-base and destination-array)."""
    return (
        b"/CIDInit /ProcSet findresource begin\n"
        b"begincmap\n"
        b"1 begincodespacerange\n<0000> <ffff>\nendcodespacerange\n"
        b"2 beginbfchar\n"
        b"<0100> <03a9>\n"          # Omega
        b"<0101> <03b4>\n"          # delta
        b"endbfchar\n"
        b"2 beginbfrange\n"
        b"<0020> <007e> <0020>\n"   # printable ASCII identity
        b"<0200> <0202> [<0391> <0392> <0393>]\n"
        b"endbfrange\nendcmap\nend\n")


def page_ops_cid(lines: list[str]) -> list[str]:
    """Composite-font page: /F2 (Type0 + ToUnicode) with 2-byte-code hex
    show strings — the kernel must decode them through the CMap."""
    ops = ["BT", f"/F2 {FONT_SIZE} Tf", f"{LEFT} {TOP} Td"]
    for i, line in enumerate(lines):
        if i:
            ops.append(f"0 -{LEADING} TD")
        ops.append(f"<{cid_encode(line)}> Tj")
    ops.append("ET")
    return ops


def _xref_stream_body(entries: list[tuple[int, int, int]],
                      predictor: int) -> tuple[bytes, dict]:
    """entries[i] = (type, field2, field3) for object i. W = [1 3 1].
    predictor 0/1 = raw; 12 = PNG Up rows (what real writers emit)."""
    cols = 5
    rows = [bytes([t]) + f2.to_bytes(3, "big") + bytes([f3 & 0xFF])
            for t, f2, f3 in entries]
    if predictor >= 10:
        filtered = bytearray()
        prev = bytes(cols)
        for row in rows:
            filtered += bytes([2]) + bytes(
                (row[i] - prev[i]) & 0xFF for i in range(cols))
            prev = row
        raw = bytes(filtered)
        parms = {"Predictor": predictor, "Columns": cols}
    else:
        raw = b"".join(rows)
        parms = None
    return zlib.compress(raw, 6), parms


_STREAM_SPLIT_RE = re.compile(rb"stream\r?\n")


def _encrypt_stream_obj(obj: bytes, num: int, enc) -> bytes:
    """Cipher a serialized stream object's body for object `num` and
    rewrite its /Length (encryption changes byte count for AES)."""
    m = _STREAM_SPLIT_RE.search(obj)
    body = obj[m.end():obj.rindex(b"\nendstream")]
    ct = enc.encrypt_stream(num, 0, body)
    head = re.sub(rb"/Length \d+", b"/Length %d" % len(ct),
                  obj[:m.start()], count=1)
    return head + b"stream\n" + ct + b"\nendstream"


def build_pdf2(pages_ops: list[list[str]], compress: bool = False,
               xref_stream: bool = False, objstm: bool = False,
               predictor: int = 0, cid_font: bool = False,
               reverse_storage: bool = False,
               filters: list[str] | None = None,
               encrypt: str | None = None,
               simple_enc: tuple | None = None,
               forms: dict[str, tuple] | None = None,
               inherit_resources: bool = False,
               encrypt_user_pw: bytes = b"",
               encrypt_metadata: bool = True,
               f1_widths: tuple | None = None,
               cid_w: tuple | None = None,
               decode_parms: str | None = None) -> bytes:
    """PDF 1.5 assembler. Differences from build_pdf: optional cross-
    reference STREAM (W [1 3 1], type-1/2 entries, optional PNG Up
    predictor), optional /ObjStm packing of every non-stream object
    (catalog, page tree, pages, fonts), optional Type0 /F2 font whose
    /ToUnicode CMap the extractor must honor, and optional REVERSED
    physical object storage — page objects land in the file in reverse
    order so only a page-tree walk (never file-order scanning) yields
    the right reading order. objstm/predictor imply xref_stream."""
    if objstm or predictor:
        xref_stream = True
    n_pages = len(pages_ops)
    kids = " ".join(f"{3 + 2 * i} 0 R" for i in range(n_pages))
    f1_num = 3 + 2 * n_pages
    f2_num, cmap_num, f3_num = f1_num + 1, f1_num + 2, f1_num + 3
    font_res = f"/F1 {f1_num} 0 R"
    if cid_font:
        font_res += f" /F2 {f2_num} 0 R"
    if simple_enc is not None:
        font_res += f" /F3 {f3_num} 0 R"

    f1_dict = "<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica"
    if f1_widths is not None:
        # (first_char, [w0, w1, ...], missing_width|None)
        fc, ws = f1_widths[0], f1_widths[1]
        f1_dict += (f" /FirstChar {fc} /Widths ["
                    + " ".join(str(w) for w in ws) + "]")
        if len(f1_widths) > 2 and f1_widths[2] is not None:
            f1_dict += (" /FontDescriptor << /Type /FontDescriptor "
                        f"/MissingWidth {f1_widths[2]} >>")
    dicts: dict[int, bytes] = {
        1: b"<< /Type /Catalog /Pages 2 0 R >>",
        2: (f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>"
            .encode()),
        f1_num: (f1_dict + " >>").encode(),
    }
    if simple_enc is not None:
        base, differences = simple_enc
        if differences is None:
            enc_val = f"/{base}"
        else:
            parts = [str(d) if isinstance(d, int) else "/" + d
                     for d in differences]
            enc_val = "<< "
            if base:
                enc_val += f"/BaseEncoding /{base} "
            enc_val += "/Differences [" + " ".join(parts) + "] >>"
        dicts[f3_num] = (
            f"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
            f"/Encoding {enc_val} >>").encode()
    streams: dict[int, bytes] = {}
    xobj_res = ""
    if forms:
        # /Form XObjects: (ops, matrix-6-tuple|None, own_resources).
        # own_resources=False exercises the caller-resource fallback.
        fm_base = f1_num + 20
        xents = []
        for i, (nm, (fops, matrix, own_res)) in enumerate(
                sorted(forms.items())):
            num = fm_base + i
            xents.append(f"/{nm} {num} 0 R")
            body = "\n".join(fops).encode("latin-1", errors="replace")
            d = (f"<< /Type /XObject /Subtype /Form "
                 f"/BBox [0 0 {PAGE_W} {PAGE_H}]")
            if matrix:
                d += " /Matrix [" + " ".join(str(v) for v in matrix) + "]"
            if own_res:
                d += f" /Resources << /Font << /F1 {f1_num} 0 R >> >>"
            d += f" /Length {len(body)} >>"
            streams[num] = d.encode() + b"\nstream\n" + body \
                + b"\nendstream"
        xobj_res = " /XObject << " + " ".join(xents) + " >>"
    res_str = f"/Resources << /Font << {font_res} >>{xobj_res} >>"
    if inherit_resources:
        # the page-tree node carries /Resources; leaves inherit it
        dicts[2] = (f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} "
                    + res_str + " >>").encode()
    for i, ops in enumerate(pages_ops):
        page_d = (f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 {PAGE_W} "
                  f"{PAGE_H}] /Contents {4 + 2 * i} 0 R")
        if not inherit_resources:
            page_d += " " + res_str
        dicts[3 + 2 * i] = (page_d + " >>").encode()
        streams[4 + 2 * i] = _content_stream(ops, compress=compress,
                                             filters=filters,
                                             decode_parms=decode_parms)
    if cid_font:
        f2_dict = (f"<< /Type /Font /Subtype /Type0 /BaseFont /Fixture-CID "
                   f"/Encoding /Identity-H /ToUnicode {cmap_num} 0 R")
        if cid_w is not None:
            # (raw /W array text, DW int|None): a CIDFontType2
            # descendant carrying the CID width table
            desc_num = f1_num + 10
            w_txt, dw = cid_w
            d = ("<< /Type /Font /Subtype /CIDFontType2 "
                 "/BaseFont /Fixture-CID")
            if dw is not None:
                d += f" /DW {dw}"
            d += f" /W [{w_txt}] >>"
            dicts[desc_num] = d.encode()
            f2_dict += f" /DescendantFonts [{desc_num} 0 R]"
        dicts[f2_num] = (f2_dict + " >>").encode()
        body = tounicode_cmap()
        streams[cmap_num] = (b"<< /Length " + str(len(body)).encode()
                             + b" >>\nstream\n" + body + b"\nendstream")

    out = bytearray(b"%PDF-1.5\n" if xref_stream else b"%PDF-1.4\n")
    offsets: dict[int, int] = {}
    in_stm: dict[int, int] = {}  # objnum -> index within the ObjStm

    emit_dicts_toplevel = dict(dicts)
    objstm_num = None
    if objstm:
        # every non-stream object moves into one compressed object stream
        objstm_num = max(list(dicts) + list(streams)) + 1
        nums = sorted(dicts)
        hdr, bodyparts, off = [], [], 0
        for idx, num in enumerate(nums):
            in_stm[num] = idx
            piece = dicts[num] + b"\n"
            hdr.append(f"{num} {off}")
            bodyparts.append(piece)
            off += len(piece)
        header = (" ".join(hdr) + "\n").encode()
        stm_body = zlib.compress(header + b"".join(bodyparts), 6)
        streams[objstm_num] = (
            f"<< /Type /ObjStm /N {len(nums)} /First {len(header)} "
            f"/Length {len(stm_body)} /Filter /FlateDecode >>"
            .encode() + b"\nstream\n" + stm_body + b"\nendstream")
        emit_dicts_toplevel = {}

    enc = None
    if encrypt:
        from ..kernels.pdfcrypt import FixtureEncryptor
        enc = FixtureEncryptor(encrypt, user_pw=encrypt_user_pw,
                               encrypt_metadata=encrypt_metadata)
        # the /Encrypt dict stays top-level (its strings are the one
        # thing never encrypted) and is referenced from the trailer
        enc_num = max(list(dicts) + list(streams)) + 1
        emit_dicts_toplevel[enc_num] = enc.enc
        trailer_extra = (f" /Encrypt {enc_num} 0 R /ID ".encode()
                         + enc.id_entry())
    else:
        trailer_extra = b""

    emit_order = sorted(list(emit_dicts_toplevel) + list(streams))
    if reverse_storage:
        emit_order = emit_order[::-1]
    for num in emit_order:
        offsets[num] = len(out)
        obj = emit_dicts_toplevel.get(num) or streams[num]
        if enc is not None and num in streams \
                and num not in emit_dicts_toplevel:
            obj = _encrypt_stream_obj(obj, num, enc)
        out += f"{num} 0 obj\n".encode() + obj + b"\nendobj\n"

    size = max(list(offsets) + list(in_stm) + [0]) + 2
    if xref_stream:
        xref_num = size - 1 if size - 1 not in offsets and \
            size - 1 not in in_stm else size
        size = xref_num + 1
        entries = [(0, 0, 0)] * size
        for num, off in offsets.items():
            entries[num] = (1, off, 0)
        for num, idx in in_stm.items():
            entries[num] = (2, objstm_num, idx)
        xref_at = len(out)
        entries[xref_num] = (1, xref_at, 0)
        body, parms = _xref_stream_body(entries, predictor)
        d = (f"<< /Type /XRef /Size {size} /W [1 3 1] /Root 1 0 R "
             + trailer_extra.decode("latin-1")
             + f" /Filter /FlateDecode /Length {len(body)}")
        if parms:
            d += (f" /DecodeParms << /Predictor {parms['Predictor']} "
                  f"/Columns {parms['Columns']} >>")
        d += " >>"
        out += (f"{xref_num} 0 obj\n".encode() + d.encode()
                + b"\nstream\n" + body + b"\nendstream\nendobj\n")
        out += f"startxref\n{xref_at}\n%%EOF\n".encode()
    else:
        xref_at = len(out)
        out += f"xref\n0 {size}\n".encode()
        out += b"0000000000 65535 f \n"
        for num in range(1, size):
            if num in offsets:
                out += f"{offsets[num]:010d} 00000 n \n".encode()
            else:
                out += b"0000000000 65535 f \n"
        out += (f"trailer\n<< /Size {size} /Root 1 0 R"
                + trailer_extra.decode("latin-1")
                + f" >>\nstartxref\n{xref_at}\n%%EOF\n").encode()
    return bytes(out)


def build_pdf(pages_ops: list[list[str]], compress: bool = False) -> bytes:
    """Assemble a valid-enough PDF: header, objects, xref, trailer."""
    objects: list[bytes] = []
    n_pages = len(pages_ops)
    kids = " ".join(f"{3 + 2 * i} 0 R" for i in range(n_pages))
    objects.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objects.append(f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode())
    font_obj_num = 3 + 2 * n_pages
    for i, ops in enumerate(pages_ops):
        objects.append(
            (f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 {PAGE_W} {PAGE_H}] "
             f"/Contents {4 + 2 * i} 0 R /Resources << /Font << /F1 "
             f"{font_obj_num} 0 R >> >> >>").encode()
        )
        objects.append(_content_stream(ops, compress=compress))
    objects.append(b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>")

    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, obj in enumerate(objects, start=1):
        offsets.append(len(out))
        out += f"{i} 0 obj\n".encode() + obj + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objects) + 1}\n".encode()
    out += b"0000000000 65535 f \n"
    for off in offsets:
        out += f"{off:010d} 00000 n \n".encode()
    out += (f"trailer\n<< /Size {len(objects) + 1} /Root 1 0 R >>\n"
            f"startxref\n{xref_at}\n%%EOF\n").encode()
    return bytes(out)
