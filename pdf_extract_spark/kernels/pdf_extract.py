"""PDF text extraction: content-stream parse + pdfminer-style layout analysis.

Re-implements, from scratch and from the public PDF text model, the
*capability* of the reference's ``extract_pdf`` tool
(/root/reference/modules/tools.py:27-50: open, iterate pages, per-page text,
ordered concat, strip). The reference delegates layout to pdfplumber/pdfminer;
this kernel implements the same class of algorithm directly:

  char/word spans (from BT..ET text operators, tracking Td/TD/Tm/T* matrices)
  → word grouping by x-gap → line grouping by y-tolerance → reading-order
  sort (y desc, x asc; two-column pages left column first) → table-region
  detection via aligned x-positions → page concat in page order (tools.py:41-47).

Since round 5 the kernel walks the DOCUMENT STRUCTURE first (the way a
real crawl extractor must): classic `xref` tables AND PDF 1.5 cross-
reference streams (/W field widths, /Index subsections, /Prev chains,
PNG predictors), compressed object streams (/ObjStm), the Catalog →
/Pages → /Kids page tree (pages concatenate in TREE order, not file
order), per-page /Contents arrays with indirect /Length, and composite-
font text: a /ToUnicode CMap (codespacerange + bfchar + bfrange) decodes
1- or 2-byte show-string codes to Unicode per the current Tf font.
Encrypted documents with an EMPTY user password — the dominant wild
case: owner-password print/copy restrictions that every conforming
reader opens transparently — decrypt via the standard security handler
(kernels/pdfcrypt.py: RC4 R2/R3, AESV2 R4, AESV3 R5/R6). Inline images
(BI…ID…EI) are consumed at the operator level so their binary data
never reaches the text tokenizer. When the structure is malformed the
kernel falls back to the legacy stream-scan salvage path (except for
encrypted documents, where salvage could only fabricate ciphertext
garbage → `encrypted_malformed`); the quarantine taxonomy distinguishes
unsupported features (`unsupported_encrypted_pdf` for non-Standard
handlers or unknown V/R/CFM, `encrypted_password_protected` for a
non-empty user password, `unsupported_stream_filter`) from malformed
bytes (`bad_xref`/`bad_flate_stream`/`content_stream_parse_error`), and
a Flate stream inflating past MAX_INFLATED_BYTES is `resource_limit`.

Bounded scope: content streams (raw or filtered by any chain of the five
ISO 32000 §7.4 data filters — FlateDecode, LZWDecode, ASCIIHexDecode,
ASCII85Decode, RunLengthDecode, with per-filter /DecodeParms: PNG
predictors, LZW /EarlyChange — located by the /Length entry, never by
scanning for `endstream`, which compressed bytes may contain) with
BT/ET, Tf, Td, TD, Tm, T*, TL, Tj, TJ, ' and literal/hex string
arguments — what the fixture writer emits (FIXTURES.md §1) plus the
structural grammar above. Image codecs (DCTDecode/JPXDecode/CCITTFax/
JBIG2) and /Crypt stay typed `unsupported_stream_filter`: a text
extractor never needs them for content streams. Pure function of
bytes ⇒ usable as the single-node golden oracle.
"""

from __future__ import annotations

import math
import re
import zlib

# imported with the kernel, not on first use: a worker without the
# `cryptography` wheel must fail its task, not turn every encrypted PDF
# into a content_stream_parse_error through extract_pdf_text's catch-all
from .pdfcrypt import (PasswordRequired, StandardDecryptor,
                       UnsupportedEncryption)

_STREAM_HDR_RE = re.compile(rb"<<(.*?)>>\s*stream\r?\n", re.DOTALL)
_LENGTH_RE = re.compile(rb"/Length\s+(\d+)")
# one inflated Flate stream's byte cap: past it the document quarantines
# as `resource_limit` instead of holding a decompression bomb in memory
MAX_INFLATED_BYTES = 64 << 20
_SCAN_FILTER_RE = re.compile(
    rb"/(FlateDecode|LZWDecode|ASCIIHexDecode|ASCII85Decode|RunLengthDecode)"
    rb"\b")


def _iter_streams(payload: bytes):
    """Yield decoded content-stream bodies, sliced by /Length (robust to
    `endstream` byte sequences inside compressed data).

    Manual scan loop, not finditer: the search position advances PAST each
    sliced body so the lazy `<<...>>stream` pattern can never anchor on
    `<<`/`stream` byte sequences inside a previous stream's compressed
    data and mis-slice the next one."""
    pos = 0
    while True:
        m = _STREAM_HDR_RE.search(payload, pos)
        if m is None:
            return
        d = m.group(1)
        lm = _LENGTH_RE.search(d)
        if not lm:
            pos = m.end()
            continue
        end = m.end() + int(lm.group(1))
        body = payload[m.end():end]
        pos = end
        # salvage-path filter handling: names applied in the order they
        # appear in the raw dict bytes (the /Filter array's source order);
        # parms-dependent decodes (predictors, EarlyChange 0) belong to
        # the structured path — salvage assumes defaults
        names = _SCAN_FILTER_RE.findall(d)
        try:
            for name in names:
                body = _apply_filter("/" + name.decode("ascii"), body, {})
        except _Malformed:
            body = "bad_flate_stream"
        except _Unsupported as e:
            body = e.args[0]
        yield body  # the decoded bytes, or a typed error string

# --------------------------------------------------------------------
# Document structure: object grammar, xref (table + stream), ObjStm,
# page tree, ToUnicode CMaps.

class _Malformed(Exception):
    """Structured parse failed — the scan salvage path may still work."""


class _Unsupported(Exception):
    """Feature the kernel intentionally does not implement; args[0] is
    the typed quarantine reason."""


class _Ref:
    __slots__ = ("num",)

    def __init__(self, num: int) -> None:
        self.num = num


_WS = b"\x00\t\n\x0c\r "
_ASCII_WS = b" \t\n\r\x0b\x0c"  # what a bytes regex's \s matches
# whitespace and '%' comments (each runs to EOL), §7.2.2-3
_WS_RE = re.compile(rb"(?:[\x00\t\n\x0c\r ]+|%[^\r\n]*)+")
_LIT_SPECIAL_RE = re.compile(rb"[()\\]")


def _skip_ws(p: bytes, pos: int) -> int:
    m = _WS_RE.match(p, pos)
    return m.end() if m else pos


def _scan_literal(stream: bytes, start: int) -> int:
    """End index (past the closing paren) of the literal string whose
    '(' is at start-1: depth-counted, a backslash skips the byte after
    it. Unterminated ⇒ end of stream (one past it after a trailing
    backslash)."""
    depth, i = 1, start
    while depth:
        m = _LIT_SPECIAL_RE.search(stream, i)
        if m is None:
            return max(i, len(stream))
        i = m.end()
        c = stream[i - 1]
        if c == 0x5C:
            i += 1
        else:
            depth += 1 if c == 0x28 else -1
    return i


_NAME_RE = re.compile(rb"/[^\x00\t\n\x0c\r ()<>\[\]{}/%]*")
_NUM_RE = re.compile(rb"[-+]?\d*\.?\d+")
_REF_RE = re.compile(rb"(\d+)\s+(\d+)\s+R\b")
_XREF_SUBSECTION_RE = re.compile(rb"(\d+)\s+(\d+)")
_STREAM_KW_RE = re.compile(rb"\s*stream\r?\n")

_STR_ESC_RE = re.compile(rb"\\(\r\n|\r|\n|[0-7]{1,3}|.)", re.DOTALL)
_STR_ESC_MAP = {b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b",
                b"f": b"\f", b"(": b"(", b")": b")", b"\\": b"\\",
                b"\r\n": b"", b"\r": b"", b"\n": b""}


def _unescape_str_bytes(raw: bytes) -> bytes:
    """§7.3.4.2 literal-string escapes at the BYTE level (no charset):
    named escapes, 1-3 digit octal, line continuations; a backslash
    before any other byte is dropped. Needed verbatim for /O, /U and
    /ID values feeding encryption key derivation."""
    def sub(m: re.Match) -> bytes:
        g = m.group(1)
        if g in _STR_ESC_MAP:
            return _STR_ESC_MAP[g]
        if g[:1].isdigit() and all(c in b"01234567" for c in g):
            return bytes([int(g, 8) & 0xFF])
        return g
    return _STR_ESC_RE.sub(sub, raw)


def _parse_value(p: bytes, pos: int):
    """Recursive-descent parse of one PDF object value at `pos`.
    Returns (value, next_pos). Indirect references become _Ref."""
    pos = _skip_ws(p, pos)
    if pos >= len(p):
        raise _Malformed("eof")
    c = p[pos]
    if p.startswith(b"<<", pos):
        pos += 2
        d: dict[str, object] = {}
        while True:
            pos = _skip_ws(p, pos)
            if p.startswith(b">>", pos):
                return d, pos + 2
            m = _NAME_RE.match(p, pos)
            if not m:
                raise _Malformed("dict key")
            key = m.group(0)[1:].decode("latin-1")
            val, pos = _parse_value(p, m.end())
            d[key] = val
        # unreachable
    if c == 0x5B:  # '['
        pos += 1
        arr: list = []
        while True:
            pos = _skip_ws(p, pos)
            if pos < len(p) and p[pos] == 0x5D:
                return arr, pos + 1
            val, pos = _parse_value(p, pos)
            arr.append(val)
    if c == 0x2F:  # name
        m = _NAME_RE.match(p, pos)
        return "/" + m.group(0)[1:].decode("latin-1"), m.end()
    if c == 0x28:  # literal string
        i = _scan_literal(p, pos + 1)
        return _unescape_str_bytes(p[pos + 1:i - 1]), i
    if c == 0x3C:  # hex string (not <<, handled above)
        end = p.find(b">", pos)
        if end < 0:
            raise _Malformed("hex string")
        hx = p[pos + 1:end].translate(None, _ASCII_WS)
        if len(hx) % 2:
            hx += b"0"
        return bytes.fromhex(hx.decode("ascii")), end + 1
    m = _REF_RE.match(p, pos)
    if m:
        return _Ref(int(m.group(1))), m.end()
    m = _NUM_RE.match(p, pos)
    if m:
        t = m.group(0)
        return (float(t) if b"." in t else int(t)), m.end()
    for kw, v in ((b"true", True), (b"false", False), (b"null", None)):
        if p.startswith(kw, pos):
            return v, pos + len(kw)
    raise _Malformed(f"token at {pos}")


def _unpredict(data: bytes, parms: dict) -> bytes:
    """Reverse the /Predictor on an inflated xref/ObjStm stream. PNG
    predictors (>= 10) prefix each Columns-byte row with a filter byte;
    bpp is 1 for the 8-bit single-component data xref streams use."""
    pred = int(parms.get("Predictor", 1))
    if pred == 1:
        return data
    if pred == 2:
        # TIFF horizontal differencing (8-bit components): each byte is
        # a delta against the same component Colors bytes to the left,
        # row-independent at Columns·Colors bytes per row. Other
        # component widths difference sub-byte or 16-bit samples, which
        # this byte loop would turn into corrupt text.
        if int(parms.get("BitsPerComponent", 8)) != 8:
            raise _Unsupported("unsupported_stream_filter")
        cols = int(parms.get("Columns", 1)) * int(parms.get("Colors", 1))
        if cols <= 0 or len(data) % cols:
            raise _Malformed("predictor row size")
        row_len = cols
        out = bytearray(data)
        comp = int(parms.get("Colors", 1))
        for r in range(0, len(out), row_len):
            for i in range(comp, row_len):
                out[r + i] = (out[r + i] + out[r + i - comp]) & 0xFF
        return bytes(out)
    if pred < 10:
        raise _Unsupported("unsupported_stream_filter")
    cols = int(parms.get("Columns", 1))
    if cols <= 0 or len(data) % (cols + 1):
        raise _Malformed("predictor row size")
    rows = memoryview(data)
    out = bytearray()
    prev = bytearray(cols)
    for r in range(len(data) // (cols + 1)):
        row = bytearray(rows[r * (cols + 1) + 1:(r + 1) * (cols + 1)])
        f = rows[r * (cols + 1)]
        if f == 1:
            for i in range(1, cols):
                row[i] = (row[i] + row[i - 1]) & 0xFF
        elif f == 2:
            for i in range(cols):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif f == 3:
            left = 0
            for i in range(cols):
                row[i] = (row[i] + ((left + prev[i]) >> 1)) & 0xFF
                left = row[i]
        elif f == 4:
            left = upleft = 0
            for i in range(cols):
                up = prev[i]
                pa, pb = abs(up - upleft), abs(left - upleft)
                pc = abs(left + up - 2 * upleft)
                pr = left if pa <= pb and pa <= pc else (
                    up if pb <= pc else upleft)
                row[i] = (row[i] + pr) & 0xFF
                left, upleft = row[i], up
        elif f != 0:
            raise _Malformed("predictor filter byte")
        out += row
        prev = row
    return bytes(out)


# --------------------------------------------------------------------
# Stream filters (ISO 32000-1 §7.4). Each is a pure bytes→bytes decode;
# _apply_filter dispatches one chain link and applies its /Predictor.
# DCTDecode/JPXDecode/CCITTFax/JBIG2/Crypt stay typed-unsupported: they
# are image codecs (or encryption) a text extractor never needs for
# content streams — quarantined, not silently skipped.

def _asciihex_decode(data: bytes) -> bytes:
    """§7.4.2: hex pairs, whitespace ignored, '>' is EOD, odd trailing
    digit padded with 0."""
    end = data.find(b">")
    if end >= 0:
        data = data[:end]
    hx = data.translate(None, _WS)
    if len(hx) % 2:
        hx += b"0"
    try:
        return bytes.fromhex(hx.decode("ascii"))
    except (ValueError, UnicodeDecodeError) as e:
        raise _Malformed("asciihex") from e


def _ascii85_decode(data: bytes) -> bytes:
    """§7.4.3: base-85 groups of 5 chars ('!'..'u') → 4 bytes; 'z' alone
    encodes four zero bytes; '~>' is EOD; a final partial group of n
    chars decodes to n-1 bytes (pad with 'u'). Leading '<~' (Adobe
    framing some encoders emit) is tolerated."""
    end = data.find(b"~>")
    if end >= 0:
        data = data[:end]
    s = data.translate(None, _WS)
    if s.startswith(b"<~"):
        s = s[2:]
    out = bytearray()
    group: list[int] = []
    for c in s:
        if c == 0x7A:  # 'z'
            if group:
                raise _Malformed("ascii85 z inside group")
            out += b"\x00\x00\x00\x00"
            continue
        if not 0x21 <= c <= 0x75:
            raise _Malformed("ascii85 char")
        group.append(c - 0x21)
        if len(group) == 5:
            v = 0
            for g in group:
                v = v * 85 + g
            if v > 0xFFFFFFFF:
                raise _Malformed("ascii85 overflow")
            out += v.to_bytes(4, "big")
            group = []
    if group:
        if len(group) == 1:
            raise _Malformed("ascii85 trailing char")
        n = len(group)
        group += [84] * (5 - n)  # pad with 'u'
        v = 0
        for g in group:
            v = v * 85 + g
        if v > 0xFFFFFFFF:
            raise _Malformed("ascii85 overflow")
        out += v.to_bytes(4, "big")[:n - 1]
    return bytes(out)


def _runlength_decode(data: bytes) -> bytes:
    """§7.4.5: length byte L ≤ 127 → copy next L+1 literally; L ≥ 129 →
    repeat next byte 257-L times; L = 128 → EOD."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        l = data[i]
        if l == 128:
            return bytes(out)
        if l < 128:
            j = i + 1 + l + 1
            if j > n:
                raise _Malformed("runlength literal")
            out += data[i + 1:j]
            i = j
        else:
            if i + 1 >= n:
                raise _Malformed("runlength repeat")
            out += bytes([data[i + 1]]) * (257 - l)
            i += 2
    return bytes(out)  # spec wants EOD, but tolerate exact-length data


def _lzw_decode(data: bytes, early: int = 1) -> bytes:
    """§7.4.4: MSB-first variable-width LZW — 9-bit start, 256 = Clear,
    257 = EOD, first dictionary code 258; width bumps at 511/1023/2047
    (+EarlyChange, default 1 — one code EARLIER than the table demands,
    the well-known off-by-one PDF inherits from TIFF). Distinct from the
    GIF LZW in operators/multimodal.py: GIF packs codes LSB-first with a
    data-dependent initial width."""
    if early not in (0, 1):
        raise _Malformed("lzw earlychange")
    table: list[bytes] = [bytes([i]) for i in range(256)] + [b"", b""]
    out = bytearray()
    prev: bytes | None = None
    width = 9
    acc = nbits = 0
    for byte in data:
        acc = (acc << 8) | byte
        nbits += 8
        while nbits >= width:
            nbits -= width
            code = (acc >> nbits) & ((1 << width) - 1)
            if code == 256:  # Clear
                table = table[:258]
                width, prev = 9, None
                continue
            if code == 257:  # EOD
                return bytes(out)
            if prev is None:
                if code >= len(table):
                    raise _Malformed("lzw first code")
                entry = table[code]
            elif code < len(table):
                entry = table[code]
                table.append(prev + entry[:1])
            elif code == len(table):  # KwKwK case
                entry = prev + prev[:1]
                table.append(entry)
            else:
                raise _Malformed("lzw code gap")
            out += entry
            prev = entry
            if len(table) + early >= (1 << width) and width < 12:
                width += 1
    return bytes(out)  # tolerate missing EOD at exact end


def _apply_filter(name: object, raw: bytes, parms: dict) -> bytes:
    if name == "/Crypt":
        # §7.4.10: the Identity crypt filter is an explicit no-op some
        # writers emit in /Filter chains; any NAMED crypt filter would
        # re-route encryption and stays typed-unsupported
        if parms.get("Name", "/Identity") == "/Identity":
            return raw
        raise _Unsupported("unsupported_stream_filter")
    if name == "/FlateDecode":
        inflater = zlib.decompressobj()
        try:
            raw = inflater.decompress(raw, MAX_INFLATED_BYTES + 1)
        except zlib.error as e:
            raise _Malformed("flate") from e
        if len(raw) > MAX_INFLATED_BYTES:
            raise _Unsupported("resource_limit")
        if not inflater.eof:
            raise _Malformed("flate")
    elif name == "/LZWDecode":
        raw = _lzw_decode(raw, int(parms.get("EarlyChange", 1)))
    elif name == "/ASCIIHexDecode":
        return _asciihex_decode(raw)
    elif name == "/ASCII85Decode":
        return _ascii85_decode(raw)
    elif name == "/RunLengthDecode":
        return _runlength_decode(raw)
    else:
        raise _Unsupported("unsupported_stream_filter")
    if parms:  # /Predictor applies to Flate and LZW output only
        raw = _unpredict(raw, parms)
    return raw


class _Doc:
    """Lazy object store over one PDF's bytes: xref chain (tables and
    xref streams), ObjStm expansion, /Length-indirect stream slicing."""

    _OBJ_HDR_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b")
    _MAX_XREF_SECTIONS = 64

    def __init__(self, payload: bytes) -> None:
        self.p = payload
        self.offsets: dict[int, int] = {}       # objnum -> byte offset
        self.in_stm: dict[int, tuple[int, int]] = {}  # objnum -> (stm, idx)
        self.trailer: dict = {}
        self._cache: dict[int, object] = {}
        self._stm_cache: dict[int, list] = {}
        self._crypt = None
        self._load_xref_chain()
        if "Encrypt" in self.trailer:
            self._setup_encryption()

    def _setup_encryption(self) -> None:
        """Standard security handler with the EMPTY user password — the
        dominant wild case (owner-password restrictions only), which
        every conforming reader decrypts transparently. Everything else
        stays typed: a non-empty password can't be guessed in a batch
        pipeline (`encrypted_password_protected`), non-/Standard
        handlers and unknown V/R/CFM are `unsupported_encrypted_pdf`.
        Runs after the xref chain (xref streams are never encrypted,
        §7.5.8.2) and before any content/ObjStm stream is touched."""
        enc = self.resolve(self.trailer.get("Encrypt"))
        if not isinstance(enc, dict):
            raise _Unsupported("unsupported_encrypted_pdf")
        ids = self.resolve(self.trailer.get("ID"))
        id0 = ids[0] if isinstance(ids, list) and ids \
            and isinstance(ids[0], bytes) else b""
        try:
            self._crypt = StandardDecryptor(enc, id0)
        except PasswordRequired as e:
            raise _Unsupported(e.args[0]) from e
        except UnsupportedEncryption as e:
            raise _Unsupported("unsupported_encrypted_pdf") from e

    # -- xref -----------------------------------------------------------
    def _load_xref_chain(self) -> None:
        tail = self.p[-2048:]
        m = None
        for m in re.finditer(rb"startxref\s+(\d+)", tail):
            pass
        if m is None:
            raise _Malformed("no startxref")
        off = int(m.group(1))
        seen: set[int] = set()
        for _ in range(self._MAX_XREF_SECTIONS):
            if off in seen or not 0 <= off < len(self.p):
                raise _Malformed("xref offset")
            seen.add(off)
            pos = _skip_ws(self.p, off)
            if self.p.startswith(b"xref", pos):
                trailer = self._load_xref_table(pos + 4)
            else:
                trailer = self._load_xref_stream(pos)
            for k, v in trailer.items():
                self.trailer.setdefault(k, v)
            nxt = trailer.get("Prev")
            if nxt is None:
                return
            off = int(nxt)
        raise _Malformed("xref chain too long")

    def _load_xref_table(self, pos: int) -> dict:
        p = self.p
        while True:
            pos = _skip_ws(p, pos)
            if p.startswith(b"trailer", pos):
                val, _ = _parse_value(p, pos + 7)
                if not isinstance(val, dict):
                    raise _Malformed("trailer")
                return val
            m = _XREF_SUBSECTION_RE.match(p, pos)
            if not m:
                raise _Malformed("xref subsection header")
            start, count = int(m.group(1)), int(m.group(2))
            pos = _skip_ws(p, m.end())
            for i in range(count):
                ent = p[pos:pos + 20]
                if len(ent) < 18:
                    raise _Malformed("xref entry")
                if ent[17:18] == b"n":
                    self.offsets.setdefault(start + i, int(ent[:10]))
                pos += 20

    def _load_xref_stream(self, pos: int) -> dict:
        d, body = self._parse_stream_at(pos)
        if d.get("Type") != "/XRef":
            raise _Malformed("not an xref stream")
        w = d.get("W")
        if not isinstance(w, list) or not 2 <= len(w) <= 3:
            raise _Malformed("xref /W")
        w = [int(x) for x in w] + [0] * (3 - len(w))
        rowlen = sum(w)
        index = d.get("Index") or [0, int(d.get("Size", 0))]
        pairs = [(int(index[i]), int(index[i + 1]))
                 for i in range(0, len(index), 2)]
        if rowlen <= 0 or len(body) < rowlen * sum(c for _, c in pairs):
            raise _Malformed("xref stream size")
        pos2 = 0

        def rd(width: int, default: int) -> int:
            nonlocal pos2
            if not width:
                return default  # spec: absent field defaults (type -> 1)
            v = int.from_bytes(body[pos2:pos2 + width], "big")
            pos2 += width
            return v

        for start, count in pairs:
            for i in range(count):
                typ, f2, f3 = rd(w[0], 1), rd(w[1], 0), rd(w[2], 0)
                num = start + i
                if typ == 1:
                    self.offsets.setdefault(num, f2)
                elif typ == 2 and num not in self.in_stm:
                    self.in_stm[num] = (f2, f3)
        return d

    # -- objects --------------------------------------------------------
    def _decode_stream(self, d: dict, raw: bytes) -> bytes:
        filt = self.resolve(d.get("Filter"))
        filters = filt if isinstance(filt, list) else ([filt] if filt else [])
        # ISO 32000 §7.4: DecodeParms parallels Filter — a single dict for
        # a single filter, an array (entries may be null) for a chain. A
        # lone dict on a chain names no link, so no link gets it (as in
        # pdf.js): a Flate /Predictor must not run after an LZW link too.
        parms = self.resolve(d.get("DecodeParms"))
        if isinstance(parms, list):
            parms_list = parms
        else:
            parms_list = [] if isinstance(filt, list) else [parms]
        for i, f in enumerate(filters):
            p = parms_list[i] if i < len(parms_list) else None
            p = self.resolve(p)
            raw = _apply_filter(f, raw, p if isinstance(p, dict) else {})
        return raw

    def _parse_stream_at(self, pos: int) -> tuple[dict, bytes]:
        """Parse `N G obj << dict >> stream...` at pos; return decoded body.
        Decryption (when the document is encrypted) applies to the raw
        bytes BEFORE the /Filter chain, keyed by the object number/
        generation from the header; xref streams are exempt (§7.5.8.2)."""
        p = self.p
        m = self._OBJ_HDR_RE.match(p, _skip_ws(p, pos))
        start = m.end() if m else pos
        d, after = _parse_value(p, start)
        if not isinstance(d, dict):
            raise _Malformed("stream dict")
        sm = _STREAM_KW_RE.match(p, after)
        if not sm:
            raise _Malformed("stream keyword")
        length = self.resolve(d.get("Length"))
        if not isinstance(length, int) or length < 0 \
                or sm.end() + length > len(p):
            raise _Malformed("stream length")
        raw = p[sm.end():sm.end() + length]
        if self._crypt is not None and m and d.get("Type") != "/XRef":
            try:
                raw = self._crypt.decrypt_stream(
                    int(m.group(1)), int(m.group(2)), raw)
            except ValueError as e:
                raise _Malformed("encrypted stream") from e
        return d, self._decode_stream(d, raw)

    def resolve(self, v: object):
        while isinstance(v, _Ref):
            v = self.get(v.num)
        return v

    def get(self, num: int):
        if num in self._cache:
            return self._cache[num]
        self._cache[num] = None  # cycle guard
        if num in self.offsets:
            pos = _skip_ws(self.p, self.offsets[num])
            m = self._OBJ_HDR_RE.match(self.p, pos)
            if not m or int(m.group(1)) != num:
                raise _Malformed("object header")
            val, after = _parse_value(self.p, m.end())
            # a stream object resolves to its (dict, body) pair
            if isinstance(val, dict) and _STREAM_KW_RE.match(self.p, after):
                val = (val, self._parse_stream_at(self.offsets[num])[1])
        elif num in self.in_stm:
            stm_num, idx = self.in_stm[num]
            objs = self._objstm(stm_num)
            if idx >= len(objs):
                raise _Malformed("objstm index")
            val = objs[idx]
        else:
            return None
        self._cache[num] = val
        return val

    def _objstm(self, stm_num: int) -> list:
        if stm_num in self._stm_cache:
            return self._stm_cache[stm_num]
        if stm_num not in self.offsets:
            raise _Malformed("objstm missing")
        d, body = self._parse_stream_at(self.offsets[stm_num])
        if d.get("Type") != "/ObjStm":
            raise _Malformed("not an objstm")
        n, first = int(self.resolve(d.get("N", 0))), \
            int(self.resolve(d.get("First", 0)))
        pos, pairs = 0, []
        for _ in range(n):
            num, pos = _parse_value(body, pos)
            off, pos = _parse_value(body, pos)
            pairs.append((int(num), int(off)))
        objs = [_parse_value(body, first + off)[0] for _, off in pairs]
        self._stm_cache[stm_num] = objs
        return objs


# -- ToUnicode CMap -----------------------------------------------------

_CMAP_CSR_RE = re.compile(
    rb"begincodespacerange(.*?)endcodespacerange", re.DOTALL)
_CMAP_BFCHAR_RE = re.compile(rb"beginbfchar(.*?)endbfchar", re.DOTALL)
_CMAP_BFRANGE_RE = re.compile(rb"beginbfrange(.*?)endbfrange", re.DOTALL)
_CMAP_HEX_RE = re.compile(rb"<([0-9A-Fa-f]*)>")


class _CMap:
    """code (1- or 2-byte) → Unicode, from a /ToUnicode CMap stream."""

    __slots__ = ("nbytes", "map")

    def __init__(self, body: bytes) -> None:
        self.nbytes = 2
        m = _CMAP_CSR_RE.search(body)
        if m:
            hexes = _CMAP_HEX_RE.findall(m.group(1))
            if hexes:
                self.nbytes = max(1, len(hexes[0]) // 2)
        self.map: dict[int, str] = {}
        for sect in _CMAP_BFCHAR_RE.finditer(body):
            toks = _CMAP_HEX_RE.findall(sect.group(1))
            for i in range(0, len(toks) - 1, 2):
                self.map[int(toks[i], 16)] = self._u(toks[i + 1])
        for sect in _CMAP_BFRANGE_RE.finditer(body):
            # <lo> <hi> <dst>  |  <lo> <hi> [<d0> <d1> ...]
            chunk = sect.group(1)
            pos = 0
            while True:
                toks = []
                scan = pos
                for _ in range(2):
                    hm = _CMAP_HEX_RE.search(chunk, scan)
                    if not hm:
                        break
                    toks.append(hm)
                    scan = hm.end()
                if len(toks) < 2:
                    break
                lo, hi = int(toks[0].group(1), 16), int(toks[1].group(1), 16)
                nxt = _skip_ws(chunk, scan)
                if nxt < len(chunk) and chunk[nxt] == 0x5B:  # array form
                    end = chunk.find(b"]", nxt)
                    if end < 0:
                        break
                    dsts = _CMAP_HEX_RE.findall(chunk[nxt:end])
                    for k, dst in enumerate(dsts):
                        if lo + k <= hi:
                            self.map[lo + k] = self._u(dst)
                    pos = end + 1
                else:
                    hm = _CMAP_HEX_RE.search(chunk, nxt)
                    if not hm:
                        break
                    base = int(hm.group(1), 16)
                    for k in range(hi - lo + 1):
                        self.map[lo + k] = self._u(
                            format(base + k, "x").zfill(
                                len(hm.group(1))).encode())
                    pos = hm.end()

    @staticmethod
    def _u(hx: bytes) -> str:
        raw = bytes.fromhex(hx.decode("ascii").zfill((len(hx) + 1) // 2 * 2))
        if len(raw) % 2:
            raw = b"\x00" + raw
        return raw.decode("utf-16-be", errors="replace")

    def decode(self, raw: bytes) -> str:
        out = []
        for i in range(0, len(raw) - self.nbytes + 1, self.nbytes):
            out.append(self.map.get(
                int.from_bytes(raw[i:i + self.nbytes], "big"), "�"))
        return "".join(out)


class _Font:
    """Per-resource font state: `dec` decodes show-string bytes (a
    ToUnicode _CMap, a pdfenc.SimpleEnc, or None = latin-1), `wtab` is
    the per-byte-code advance fraction (glyph width / 1000) from
    /FirstChar + /Widths when the font declares them — making word-gap
    and table-column geometry EXACT instead of CHAR_W-estimated —
    with /MissingWidth (or the CHAR_W estimate) for undeclared codes.
    Composite (Type0) fonts carry CID widths instead: `cid_w` from the
    descendant font's /W with `dw` = /DW (spec default 1000), and
    `composite` keeps word spacing off their multi-byte codes."""

    __slots__ = ("dec", "wtab", "missing", "cid_w", "dw", "composite")

    def __init__(self, dec=None, wtab=None, missing=None,
                 cid_w=None, dw=1.0, composite=False) -> None:
        self.dec, self.wtab, self.missing = dec, wtab, missing
        self.cid_w, self.dw, self.composite = cid_w, dw, composite

    @property
    def has_widths(self) -> bool:
        return self.wtab is not None or self.cid_w is not None

    def advance(self, raw: bytes, nchars: int) -> float:
        """Text-space advance (fraction of font size) for a shown
        string: exact per-code widths when declared (1-byte /Widths or
        2-byte CID /W), else the kernel's CHAR_W glyph estimate over
        the DECODED length."""
        if self.cid_w is not None:
            nb = getattr(self.dec, "nbytes", 2)
            get, dw = self.cid_w.get, self.dw
            return sum(get(int.from_bytes(raw[i:i + nb], "big"), dw)
                       for i in range(0, len(raw) - nb + 1, nb))
        if self.wtab is None:
            return CHAR_W * nchars
        fallback = self.missing if self.missing is not None else CHAR_W
        tab = self.wtab
        return sum(w if (w := tab[b]) is not None else fallback
                   for b in raw)


def _parse_cid_w(items: list, resolve) -> dict[int, float]:
    """§9.7.4.3 /W array: `c [w1 w2 …]` lists consecutive-CID widths,
    `c1 c2 w` sets a range (clamped to 2-byte CID space). Fractions of
    font size (glyph space / 1000)."""
    out: dict[int, float] = {}
    vals = [resolve(x) for x in items]
    i = 0
    while i + 1 < len(vals):
        c = vals[i]
        nxt = vals[i + 1]
        if not isinstance(c, (int, float)):
            break
        if isinstance(nxt, list):
            for k, wv in enumerate(nxt):
                wv = resolve(wv)
                if isinstance(wv, (int, float)):
                    out[int(c) + k] = float(wv) / 1000.0
            i += 2
        elif isinstance(nxt, (int, float)) and i + 2 < len(vals) \
                and isinstance(vals[i + 2], (int, float)):
            lo, hi = int(c), min(int(nxt), int(c) + 0xFFFF)
            w = float(vals[i + 2]) / 1000.0
            for code in range(lo, hi + 1):
                out[code] = w
            i += 3
        else:
            break
    return out


def _fonts_from_res(doc: _Doc, res: object) -> dict[str, _Font]:
    """Resolve the page's /Resources /Font entries to _Font state: an
    explicit /ToUnicode CMap wins for decoding (§9.10.2); otherwise a
    simple-font /Encoding (base name or dict with /BaseEncoding +
    /Differences, §9.6.6) builds a 256-entry byte table; fonts with
    neither decode as latin-1 (the font's built-in encoding, identity
    here). Simple (1-byte) fonts additionally carry /FirstChar +
    /Widths advances; CMap fonts carry their descendant's CID /W, and
    /Subtype /Type0 marks a font composite (no word spacing)."""
    from .pdfenc import SimpleEnc, build_encoding
    fonts: dict[str, _Font] = {}
    fdict = doc.resolve(res.get("Font")) if isinstance(res, dict) else None
    if not isinstance(fdict, dict):
        return fonts
    for name, ref in fdict.items():
        fobj = doc.resolve(ref)
        if not isinstance(fobj, dict):
            continue
        dec = None
        composite = doc.resolve(fobj.get("Subtype")) == "/Type0"
        tu = doc.resolve(fobj.get("ToUnicode"))
        if isinstance(tu, tuple):
            dec = _CMap(tu[1])
            desc = doc.resolve(fobj.get("DescendantFonts"))
            cid_w, dw = None, 1.0
            if isinstance(desc, list) and desc:
                d0 = doc.resolve(desc[0])
                if isinstance(d0, dict):
                    wl = doc.resolve(d0.get("W"))
                    if isinstance(wl, list):
                        cid_w = _parse_cid_w(wl, doc.resolve)
                    dwv = doc.resolve(d0.get("DW"))
                    if isinstance(dwv, (int, float)):
                        dw = float(dwv) / 1000.0
            fonts[name] = _Font(dec, cid_w=cid_w, dw=dw,
                                composite=composite)
            continue
        else:
            enc = doc.resolve(fobj.get("Encoding"))
            if isinstance(enc, str):
                dec = SimpleEnc(build_encoding(enc[1:], None))
            elif isinstance(enc, dict):
                base = doc.resolve(enc.get("BaseEncoding"))
                diffs = doc.resolve(enc.get("Differences"))
                dec = SimpleEnc(build_encoding(
                    base[1:] if isinstance(base, str) else None,
                    diffs if isinstance(diffs, list) else None))
        wtab = missing = None
        if not isinstance(dec, _CMap):
            ws = doc.resolve(fobj.get("Widths"))
            fc = doc.resolve(fobj.get("FirstChar"))
            if isinstance(ws, list) and isinstance(fc, int):
                wtab = [None] * 256
                for k, wv in enumerate(ws):
                    wv = doc.resolve(wv)
                    if isinstance(wv, (int, float)) and 0 <= fc + k <= 255:
                        wtab[fc + k] = float(wv) / 1000.0
                fd = doc.resolve(fobj.get("FontDescriptor"))
                mw = doc.resolve(fd.get("MissingWidth")) \
                    if isinstance(fd, dict) else None
                if isinstance(mw, (int, float)):
                    missing = float(mw) / 1000.0
        fonts[name] = _Font(dec, wtab, missing, composite=composite)
    return fonts


def _walk_pages(doc: _Doc):
    """Yield (content_bytes, resources_dict) per page in PAGE-TREE
    order. /Resources is an INHERITABLE page attribute (§7.7.3.4): a
    leaf without its own falls back to the nearest ancestor's."""
    root = doc.resolve(doc.trailer.get("Root"))
    if not isinstance(root, dict):
        raise _Malformed("no catalog")
    out = []
    seen = 0
    work: list[tuple[object, dict]] = [(root.get("Pages"), {})]
    while work:
        ref, inherited = work.pop(0)
        node = doc.resolve(ref)
        if not isinstance(node, dict):
            raise _Malformed("page tree node")
        res = doc.resolve(node.get("Resources"))
        res = res if isinstance(res, dict) else inherited
        if node.get("Type") == "/Pages" or "Kids" in node:
            kids = doc.resolve(node.get("Kids")) or []
            if not isinstance(kids, list):
                raise _Malformed("kids")
            work = [(k, res) for k in kids] + work
            seen += 1
            if seen > 10_000:
                raise _Malformed("page tree too deep")
            continue
        contents = doc.resolve(node.get("Contents"))
        parts: list[bytes] = []
        items = contents if isinstance(contents, list) else [contents]
        for it in items:
            v = doc.resolve(it) if isinstance(it, _Ref) else it
            if isinstance(v, tuple):
                parts.append(v[1])
        out.append((b"\n".join(parts), res))
    return out


# layout constants (kernel spec)
Y_TOL = 3.0            # same-line y tolerance (pts)
GAP_FACTOR = 0.25      # x-gap > GAP_FACTOR*font_size ⇒ word boundary
CHAR_W = 0.5           # estimated glyph width as fraction of font size
PAGE_MID = 306.0       # column split candidate (612pt page)
COL_MIN_LINES = 2      # min lines per side to call it two-column
TABLE_MIN_ROWS = 3     # min aligned rows to call it a table region
TABLE_X_TOL = 3.0


class _Span:
    __slots__ = ("x", "y", "size", "text", "w")

    def __init__(self, x: float, y: float, size: float, text: str,
                 w: float | None = None) -> None:
        self.x, self.y, self.size, self.text = x, y, size, text
        self.w = w  # device-space advance; None = CHAR_W estimate

    @property
    def x_end(self) -> float:
        if self.w is not None:
            return self.x + self.w
        return self.x + CHAR_W * self.size * len(self.text)


_TOKEN_RE = re.compile(
    # a literal string that closes before any unescaped '(' is one token;
    # otherwise the token is its '(' and the loop depth-scans the rest
    # (§7.3.4.2 allows nested unescaped parens)
    rb"\((?:[^()\\]*(?:\\.[^()\\]*)*\))?"
    rb"|<[0-9A-Fa-f\s]*>"
    rb"|\[|\]"
    rb"|/[A-Za-z0-9]+"
    rb"|[-+]?\d*\.?\d+"
    rb"|[A-Za-z'\"*]+",
    re.DOTALL)
_NUM_FIRST = b"+-.0123456789"  # first bytes of the number alternative

_INLINE_ID_RE = re.compile(rb"\bID[\x00\t\n\x0c\r ]")
_INLINE_EOD_RE = re.compile(
    rb"[\x00\t\n\x0c\r ]EI(?=[\x00\t\n\x0c\r(<\[/%]|$)")

_ESC_RE = re.compile(rb"\\([nrtbf()\\]|[0-7]{1,3})")
_ESC_MAP = {b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f",
            b"(": b"(", b")": b")", b"\\": b"\\"}


def _unescape(raw: bytes) -> str:
    def sub(m: re.Match) -> bytes:
        g = m.group(1)
        if g in _ESC_MAP:
            return _ESC_MAP[g]
        return bytes([int(g, 8) & 0xFF])

    return _ESC_RE.sub(sub, raw).decode("latin-1")


_ID6 = (1.0, 0.0, 0.0, 1.0, 0.0, 0.0)


def _mat_mul(m: tuple, n: tuple) -> tuple:
    """PDF row-vector convention: applying m then n is the product m·n
    (§8.3.4); cm concatenates as CTM' = M·CTM."""
    a1, b1, c1, d1, e1, f1 = m
    a2, b2, c2, d2, e2, f2 = n
    return (a1 * a2 + b1 * c2, a1 * b2 + b1 * d2,
            c1 * a2 + d1 * c2, c1 * b2 + d1 * d2,
            e1 * a2 + f1 * c2 + e2, e1 * b2 + f1 * d2 + f2)


def _mat_translate(tx: float, ty: float, m: tuple) -> tuple:
    """translate(tx,ty)·m without the full product."""
    return (m[0], m[1], m[2], m[3],
            tx * m[0] + ty * m[2] + m[4], tx * m[1] + ty * m[3] + m[5])


def _mat_scale(m: tuple) -> float:
    """Area-preserving scale factor of an affine map (√|det|) — how a
    text-space font size maps to device space under scaling cm/Tm."""
    det = m[0] * m[3] - m[1] * m[2]
    return math.sqrt(abs(det)) if det else 1.0


_MAX_FORM_DEPTH = 8


def _parse_spans(stream: bytes,
                 fonts: dict | None = None, doc: "_Doc | None" = None,
                 res: dict | None = None, ctm: tuple = _ID6,
                 depth: int = 0,
                 spans: list[_Span] | None = None) -> list[_Span]:
    """Execute the text operators of one content stream into positioned
    spans. `fonts` maps resource names to decoders (ToUnicode _CMap or
    pdfenc.SimpleEnc): while such a font is selected (Tf), show-string
    bytes decode through it; otherwise latin-1 (built-in encoding).

    Tracks the full graphics state needed for placement: q/Q save/
    restore and cm concatenation of the 6-tuple CTM, the text and line
    matrices as full affines (Td/TD/Tm/T*/' translate in LINE-matrix
    space per §9.4.2), span device position = origin of Tm·CTM with
    the font size scaled by √|det| — which reduces exactly to the old
    translation arithmetic when all matrices are translations. `Do` on
    a /Form XObject recurses into the form's content with CTM' =
    /Matrix·CTM and the form's own /Resources (falling back to the
    caller's), depth-capped; /Image XObjects are skipped."""
    spans = spans if spans is not None else []
    size = 12.0
    tm = lm = _ID6
    leading = 0.0
    char_sp = word_sp = rise = 0.0   # Tc / Tw / Ts (§9.3.1)
    hscale = 1.0                     # Tz, stored as fraction
    ctm_stack: list[tuple] = []
    stack: list = []           # operand stack
    in_array = False
    array_items: list = []
    font: _Font | None = None

    sc = None  # √|det| of Tm·CTM; only BT, Tm, cm and Q change it

    def emit(raw: str) -> None:
        # advance model (§9.4.4): w = (Σ glyph widths + Tc·n +
        # Tw·spaces) · Tz, where glyph widths come from the font's
        # /Widths table when declared and the CHAR_W estimate
        # otherwise; Ts displaces the rendered position vertically but
        # not the advance. Defaults (0/0/100%/0) reduce to the plain
        # estimate, and the exact width rides on the span so word-gap
        # and table geometry use it too.
        nonlocal tm, sc
        s = raw if font is None or font.dec is None \
            else font.dec.decode(raw.encode("latin-1"))
        if s:
            trm = _mat_mul(_mat_translate(0.0, rise, tm), ctm)
            if sc is None:
                sc = _mat_scale(trm)
            frac = (font.advance(raw.encode("latin-1"), len(s))
                    if font is not None and font.has_widths
                    else CHAR_W * len(s))
            # Tw applies to each single-byte code 32 shown (§9.3.3), not
            # to decoded spaces: never in a composite font's codes
            spaces = 0 if font is not None and font.composite \
                else raw.count(" ")
            w = (frac * size + char_sp * len(s)
                 + word_sp * spaces) * hscale
            spans.append(_Span(trm[4], trm[5], size * sc, s, w * sc))
            tm = _mat_translate(w, 0.0, tm)

    pos = 0
    while (m := _TOKEN_RE.search(stream, pos)) is not None:
        pos = m.end()
        tok = m.group()
        c = tok[0]  # the first byte fixes the token regex's alternative
        if c in _NUM_FIRST:
            (array_items if in_array else stack).append(float(tok))
        elif c == 0x28:  # '(' literal string
            if len(tok) == 1:  # nested parens or unterminated
                pos = _scan_literal(stream, pos)
                tok = stream[m.start():pos]
            s = _unescape(tok[1:-1] if tok[-1] == 0x29 else tok[1:])
            (array_items if in_array else stack).append(s)
        elif c == 0x3C:  # '<' hex string
            hx = tok[1:-1].translate(None, _ASCII_WS)
            if len(hx) % 2:
                hx += b"0"  # PDF spec: odd-length hex pads with 0
            s = bytes.fromhex(hx.decode("ascii")).decode("latin-1")
            (array_items if in_array else stack).append(s)
        elif c == 0x2F:  # '/' name
            stack.append(tok.decode("latin-1"))
        elif c == 0x5B:  # '['
            in_array, array_items = True, []
        elif c == 0x5D:  # ']'
            in_array = False
            stack.append(array_items)
        else:  # operator (frequent ones first): act on its operands, drop them
            if tok == b"Tj" and stack:
                if isinstance(stack[-1], str):
                    emit(stack[-1])
            elif tok == b"TD" and len(stack) >= 2:
                leading = -float(stack[-1])
                lm = _mat_translate(float(stack[-2]), float(stack[-1]), lm)
                tm = lm
            elif tok == b"Tm" and len(stack) >= 6:
                lm = tm = tuple(float(v) for v in stack[-6:])
                sc = None
            elif tok == b"Td" and len(stack) >= 2:
                lm = _mat_translate(float(stack[-2]), float(stack[-1]), lm)
                tm = lm
            elif tok == b"Tf" and len(stack) >= 1:
                size = float(stack[-1])
                if (fonts and len(stack) >= 2
                        and isinstance(stack[-2], str)
                        and stack[-2].startswith("/")):
                    font = fonts.get(stack[-2][1:])
            elif tok == b"BT":
                tm = lm = _ID6
                sc = None
            elif tok == b"TJ" and stack:
                arr = stack[-1]
                if isinstance(arr, list):
                    for item in arr:
                        if isinstance(item, str):
                            emit(item)
                        else:
                            tm = _mat_translate(
                                -float(item) / 1000.0 * size * hscale,
                                0.0, tm)
            elif tok == b"TL" and stack:
                leading = float(stack[-1])
            elif tok == b"Tc" and stack:
                char_sp = float(stack[-1])
            elif tok == b"Tw" and stack:
                word_sp = float(stack[-1])
            elif tok == b"Tz" and stack:
                hscale = float(stack[-1]) / 100.0
            elif tok == b"Ts" and stack:
                rise = float(stack[-1])
            elif tok == b"T*":
                lm = _mat_translate(0.0, -leading, lm)
                tm = lm
            elif tok == b"'" and stack:  # next line + show
                lm = _mat_translate(0.0, -leading, lm)
                tm = lm
                if isinstance(stack[-1], str):
                    emit(stack[-1])
            elif tok == b'"' and len(stack) >= 3:  # aw ac string "
                word_sp = float(stack[-3])
                char_sp = float(stack[-2])
                lm = _mat_translate(0.0, -leading, lm)
                tm = lm
                if isinstance(stack[-1], str):
                    emit(stack[-1])
            elif tok == b"cm" and len(stack) >= 6:
                try:
                    ctm = _mat_mul(tuple(float(v) for v in stack[-6:]),
                                   ctm)
                    sc = None
                except (TypeError, ValueError):
                    pass  # malformed operands: keep the current CTM
            elif tok == b"q":
                ctm_stack.append(ctm)
            elif tok == b"Q":
                if ctm_stack:
                    ctm, sc = ctm_stack.pop(), None
            elif tok == b"Do" and stack:
                name = stack[-1]
                if (doc is not None and isinstance(res, dict)
                        and isinstance(name, str) and name.startswith("/")
                        and depth < _MAX_FORM_DEPTH):
                    xres = doc.resolve(res.get("XObject"))
                    entry = doc.resolve(xres.get(name[1:])) \
                        if isinstance(xres, dict) else None
                    if isinstance(entry, tuple) \
                            and entry[0].get("Subtype") == "/Form":
                        d, body = entry
                        mtx = doc.resolve(d.get("Matrix"))
                        m6 = (tuple(float(v) for v in mtx)
                              if isinstance(mtx, list) and len(mtx) == 6
                              else _ID6)
                        fres = doc.resolve(d.get("Resources"))
                        fres = fres if isinstance(fres, dict) else res
                        _parse_spans(body, _fonts_from_res(doc, fres),
                                     doc, fres, _mat_mul(m6, ctm),
                                     depth + 1, spans)
            elif tok == b"BI":
                # inline image (§8.9.7): skip the dict, the binary data
                # after ID, and the whitespace-delimited EI EOD. The raw
                # bytes can contain anything — parens, "Tj", digits — so
                # they must never reach the token stream. Done here (not
                # as a pre-strip regex) so a "(BI" inside a string,
                # already consumed as one string token, can't
                # false-positive.
                idm = _INLINE_ID_RE.search(stream, pos)
                if idm is None:
                    raise _Malformed("inline image: no ID")
                eod = _INLINE_EOD_RE.search(stream, idm.end())
                if eod is None:
                    raise _Malformed("inline image: no EI")
                pos = eod.end()
            stack = []
    return spans


def _group_lines(spans: list[_Span]) -> list[list[_Span]]:
    """Sort by (y desc, x asc); group consecutive spans within Y_TOL."""
    spans = sorted(spans, key=lambda s: (-s.y, s.x))
    lines: list[list[_Span]] = []
    for sp in spans:
        if lines and abs(lines[-1][0].y - sp.y) <= Y_TOL:
            lines[-1].append(sp)
        else:
            lines.append([sp])
    for line in lines:
        line.sort(key=lambda s: (s.x, s.text))
    return lines


def _line_text(line: list[_Span]) -> str:
    """Word grouping by x-gap: merge spans, inserting a space when the gap
    between the previous span's estimated end and the next start exceeds
    GAP_FACTOR × font size."""
    parts = [line[0].text]
    for prev, cur in zip(line, line[1:]):
        gap = cur.x - prev.x_end
        parts.append((" " if gap > GAP_FACTOR * cur.size else "") + cur.text)
    return "".join(parts)


def _detect_table_rows(lines: list[list[_Span]]) -> set[int]:
    """Indices of lines inside an aligned-column table region: ≥TABLE_MIN_ROWS
    consecutive lines, ≥2 spans each, same span count, x-positions aligned
    within TABLE_X_TOL."""
    table_idx: set[int] = set()
    i = 0
    while i < len(lines):
        run = [i]
        xs0 = [s.x for s in lines[i]]
        if len(xs0) >= 2:
            j = i + 1
            while j < len(lines):
                xs = [s.x for s in lines[j]]
                if len(xs) == len(xs0) and all(
                    abs(a - b) <= TABLE_X_TOL for a, b in zip(xs, xs0)
                ):
                    run.append(j)
                    j += 1
                else:
                    break
            if len(run) >= TABLE_MIN_ROWS:
                table_idx.update(run)
                i = run[-1] + 1
                continue
        i += 1
    return table_idx


def _page_text(spans: list[_Span]) -> str:
    if not spans:
        return ""
    # two-column detection on raw spans: split at PAGE_MID when both sides
    # have enough lines and no span crosses the midline.
    left = [s for s in spans if s.x < PAGE_MID]
    right = [s for s in spans if s.x >= PAGE_MID]
    crossing = any(s.x < PAGE_MID < s.x_end for s in left)
    if (len({round(s.y) for s in left}) >= COL_MIN_LINES
            and len({round(s.y) for s in right}) >= COL_MIN_LINES
            and not crossing):
        return _column_text(left) + "\n" + _column_text(right)
    return _column_text(spans)


def _column_text(spans: list[_Span]) -> str:
    lines = _group_lines(spans)
    table_rows = _detect_table_rows(lines)
    out = []
    for idx, line in enumerate(lines):
        if idx in table_rows:
            out.append("\t".join(s.text for s in line))
        else:
            out.append(_line_text(line))
    return "\n".join(out)


def _extract_structured(payload: bytes) -> str:
    """Page-tree-ordered extraction through the xref/object machinery.
    Raises _Malformed / _Unsupported; never returns on those paths."""
    doc = _Doc(payload)
    pages = []
    for body, res in _walk_pages(doc):
        spans = _parse_spans(body, _fonts_from_res(doc, res),
                             doc=doc, res=res)
        if spans:
            pages.append(_page_text(spans))
    return "\n\n".join(pages).strip()


def _extract_scan(payload: bytes) -> tuple[str | None, str | None]:
    """Legacy salvage path: slice every `<<…>>stream` body in FILE order.
    Correct whenever pages are stored in reading order (all fixtures
    before round 5) and the only streams are content streams."""
    pages = []
    for body in _iter_streams(payload):
        if isinstance(body, str):
            return None, body
        try:
            spans = _parse_spans(body)
        except Exception:
            # malformed operands (e.g. a string where Td expects a number)
            # must quarantine, never crash the task (error-row contract)
            return None, "content_stream_parse_error"
        if spans:
            pages.append(_page_text(spans))
    text = "\n\n".join(pages).strip()
    if not text:
        return None, "no_text_content"
    return text, None


def extract_pdf_text(payload: bytes) -> tuple[str | None, str | None]:
    """(text, error) from PDF bytes: per-page layout text, pages joined in
    PAGE-TREE order by blank lines, stripped (reference tools.py:41-47).

    Strategy mirrors production crawl extractors: parse the document
    structure (xref table/stream → catalog → page tree → contents +
    fonts); if the structure is malformed, fall back to the stream-scan
    salvage path (file order — identical output for well-ordered PDFs,
    and the only option when the trailer is damaged). Unsupported
    features quarantine with their own typed reasons so operators can
    distinguish `unsupported_*` (extend the kernel) from `bad_*`/
    `truncated_*`/`*_parse_error` (bad crawl bytes)."""
    if not payload.startswith(b"%PDF-"):
        return None, "not_pdf"
    if b"%%EOF" not in payload:
        return None, "truncated_pdf"
    try:
        text = _extract_structured(payload)
        if not text:
            return None, "no_text_content"
        return text, None
    except _Unsupported as e:
        return None, e.args[0]
    except _Malformed:
        if b"/Encrypt" in payload:
            # the salvage scanner has no object numbers, so it can only
            # ever emit ciphertext garbage for an encrypted document —
            # quarantine typed instead of fabricating text
            return None, "encrypted_malformed"
        return _extract_scan(payload)
    except Exception:
        return None, "content_stream_parse_error"
