"""Unit tests for the pure deterministic kernels (the golden oracle layer)."""

from __future__ import annotations

from hypothesis import given, settings, strategies as st

from pdf_extract_spark.fixtures import pages, pdf_writer
from pdf_extract_spark.kernels.chunker import check_chunks, split_text
from pdf_extract_spark.kernels.decode import decode_payload
from pdf_extract_spark.kernels.embed import embed_text
from pdf_extract_spark.kernels.html_extract import decode_html_bytes
from pdf_extract_spark.kernels.ner import extract_entities
from pdf_extract_spark.kernels.pdf_extract import extract_pdf_text
from pdf_extract_spark.kernels.summarize import summarize_extractive
from pdf_extract_spark.kernels.textstats import (
    detect_language, hamming64, simhash64, token_count,
)


def test_html_strips_boilerplate():
    payload = pages.make_html(2, "en")
    text, err = decode_html_bytes(payload)
    assert err is None
    assert "Document 00000002" in text
    assert "buy now" not in text          # ads dropped
    assert "section 0 link" not in text   # nav dropped
    assert "related item" not in text     # sidebar dropped
    assert "privacy" not in text          # footer dropped
    assert "var x=1" not in text          # script dropped


def test_html_adversarial():
    assert decode_html_bytes(b"")[1] == "empty_payload"
    assert decode_html_bytes(b"<html>\xff\xfe</html>")[1] == "invalid_utf8"
    assert decode_html_bytes(b"<html><body><nav>x</nav></body></html>")[1] == "no_main_content"


def test_pdf_simple_page_order():
    pdf = pdf_writer.build_pdf([
        pdf_writer.page_ops_simple(["first page line one", "first page line two"]),
        pdf_writer.page_ops_simple(["second page line"]),
    ])
    text, err = extract_pdf_text(pdf)
    assert err is None
    assert text == ("first page line one\nfirst page line two"
                    "\n\nsecond page line")


def test_pdf_word_grouping_by_gap():
    pdf = pdf_writer.build_pdf([pdf_writer.page_ops_words([["alpha", "beta", "gamma"]])])
    text, _ = extract_pdf_text(pdf)
    assert text == "alpha beta gamma"


def test_pdf_two_column_reading_order():
    pdf = pdf_writer.build_pdf([
        pdf_writer.page_ops_two_column(["L1 a b c", "L2 a b c"], ["R1 x", "R2 x"]),
    ])
    text, _ = extract_pdf_text(pdf)
    # left column read fully before right despite right-first stream order
    assert text == "L1 a b c\nL2 a b c\nR1 x\nR2 x"


def test_pdf_table_region_tabs():
    pdf = pdf_writer.build_pdf([
        pdf_writer.page_ops_table(["h1", "h2"], [["a", "b"], ["c", "d"]]),
    ])
    text, _ = extract_pdf_text(pdf)
    assert "h1\th2" in text and "a\tb" in text


def test_pdf_tj_kerning_word_gaps():
    pdf = pdf_writer.build_pdf([
        pdf_writer.page_ops_tj_array([["ker", -100, "ned", -900, "words"]]),
    ])
    text, _ = extract_pdf_text(pdf)
    assert text == "kerned words"


def test_pdf_adversarial():
    assert extract_pdf_text(b"%PDF-1.4\nbroken")[1] == "truncated_pdf"
    assert decode_payload(b"")[1] == "empty_payload"


def test_chunker_bounds_and_overlap():
    text = " ".join(f"word{i}" for i in range(900))
    chunks = split_text(text, chunk_size=2000, chunk_overlap=200)
    assert len(chunks) > 1
    assert all(len(c) <= 2000 for c in chunks)
    assert check_chunks(chunks)
    # overlap: some tail of chunk i reappears at the head of chunk i+1
    for a, b in zip(chunks, chunks[1:]):
        tail_word = a.split()[-1]
        assert tail_word in b[:400]


@given(st.text(min_size=0, max_size=5000))
@settings(max_examples=50, deadline=None)
def test_chunker_never_exceeds_size_and_covers_content(text):
    chunks = split_text(text, chunk_size=300, chunk_overlap=50)
    assert all(len(c) <= 300 for c in chunks)
    if text.strip():
        joined = "".join(chunks)
        # no content invented
        for c in chunks:
            assert c in text or all(part in text for part in c.split())


@given(st.text(min_size=1, max_size=2000))
@settings(max_examples=30, deadline=None)
def test_embedding_deterministic_and_unit_norm(text):
    import numpy as np

    a = embed_text(text)
    b = embed_text(text)
    assert (a == b).all()
    n = float(np.linalg.norm(a.astype("float64")))
    assert n == 0.0 or abs(n - 1.0) < 1e-5


def test_ner_categories():
    ents = extract_entities(
        "Alice Johnson met Bob Stone in Paris on 2024-03-15. "
        "Budget was 1,500.75 which is 12.5% higher."
    )
    assert "Alice Johnson" in ents["names"]
    assert "2024-03-15" in ents["dates"]
    assert "Paris" in ents["locations"]
    assert "1,500.75" in ents["numbers"] and "12.5%" in ents["numbers"]
    # canonical order: sorted distinct
    for v in ents.values():
        assert v == sorted(set(v))


def test_summarizer_budget_and_determinism():
    text = " ".join(f"Sentence number {i} talks about spark data engines." for i in range(50))
    s1 = summarize_extractive(text)
    s2 = summarize_extractive(text)
    assert s1 == s2
    assert len(s1.split()) <= 110


def test_langid_and_stats():
    assert detect_language("the cat sat on the mat and it was happy") == "en"
    assert detect_language("le chat est sur la table avec les autres") == "fr"
    assert detect_language("这是一个中文文档的例子") == "zh"
    assert token_count("a b  c") == 3
    assert hamming64(simhash64("spark engine data"), simhash64("spark engine data")) == 0


def test_fast_tokenizer_matches_htmlparser_reference():
    """The regex tokenizer must produce exactly the blocks the stdlib
    HTMLParser-based reference collector produces, across the full fixture
    mix (boilerplate, oversized, unicode, all languages)."""
    from pdf_extract_spark.fixtures.pages import make_payload
    from html_reference import collect_blocks_reference

    from pdf_extract_spark.kernels.html_extract import _collect_blocks

    checked = 0
    for i in range(0, 3000, 3):
        payload, _ = make_payload(i)
        if not payload or payload[:5] == b"%PDF-":
            continue
        try:
            html = payload.decode("utf-8")
        except UnicodeDecodeError:
            continue
        assert _collect_blocks(html) == collect_blocks_reference(html), i
        checked += 1
    assert checked > 500


def test_roundtrip_property_arbitrary_text():
    """Property: for any text whose blank-line paragraphs are
    whitespace-normalized and individually keepable (≥25 chars, ≥4 words),
    encode_page → extract is byte-identity (the flagship oracle's spec),
    including HTML-special characters that must escape/unescape cleanly."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pdf_extract_spark.kernels.decode import decode_payload
    from pdf_extract_spark.queries.docpipe_q import encode_page

    word = st.text(
        alphabet=st.characters(
            blacklist_categories=("Cs", "Zs", "Zl", "Zp", "Cc"),
        ),
        min_size=1, max_size=12)
    para = (st.lists(word, min_size=4, max_size=30)
            .map(" ".join)
            .filter(lambda p: len(p) >= 25))
    texts = st.lists(para, min_size=1, max_size=4).map("\n\n".join)

    @settings(max_examples=150, deadline=None)
    @given(texts)
    def check(text):
        extracted, err = decode_payload(encode_page(text))
        assert err is None
        assert extracted == text

    check()


def test_pdf_quote_hex_and_leading():
    """TL + ' operator + hex-string arguments: lines land in order."""
    from pdf_extract_spark.fixtures import pdf_writer
    from pdf_extract_spark.kernels.pdf_extract import extract_pdf_text

    lines = ["first literal line here", "second via hex string",
             "third literal again ok", "fourth via hex again"]
    pdf = pdf_writer.build_pdf([pdf_writer.page_ops_quote_hex(lines)])
    text, err = extract_pdf_text(pdf)
    assert err is None
    assert text.splitlines() == lines


_FILTER_CHAINS = (
    ["/ASCIIHexDecode"], ["/ASCII85Decode"], ["/RunLengthDecode"],
    ["/LZWDecode"], ["/ASCII85Decode", "/FlateDecode"],
    ["/ASCIIHexDecode", "/LZWDecode"], ["/RunLengthDecode", "/FlateDecode"],
)


def test_pdf_stream_filters_byte_identical():
    """ISO 32000 §7.4 filters (ASCIIHex/ASCII85/RunLength/LZW + chains)
    decode to the same extracted text as the unfiltered twin — through
    the structured page-tree path, the xref-stream/ObjStm variant, AND
    the stream-scan salvage path (damaged startxref)."""
    pgs = [pdf_writer.page_ops_simple(
               [f"filter fixture line {j} words" for j in range(8)]),
           pdf_writer.page_ops_two_column(
               [f"left {j}" for j in range(4)],
               [f"right {j}" for j in range(4)])]
    want, err = extract_pdf_text(pdf_writer.build_pdf2(pgs))
    assert err is None and want
    for fl in _FILTER_CHAINS:
        plain = pdf_writer.build_pdf2(pgs, filters=fl)
        assert extract_pdf_text(plain) == (want, None), fl
        modern = pdf_writer.build_pdf2(pgs, filters=fl,
                                       xref_stream=True, objstm=True)
        assert extract_pdf_text(modern) == (want, None), fl
        salvage = plain.replace(b"startxref", b"startxrfX")
        assert extract_pdf_text(salvage) == (want, None), fl


def test_pdf_filter_codecs_roundtrip():
    """encode∘decode identity for each filter codec over adversarial
    payloads: empty, runs, full byte range, low-entropy streams that
    force LZW width growth, and >4096-entry streams that force a table
    reset. Both EarlyChange values for LZW."""
    import random

    from pdf_extract_spark.fixtures.pdf_writer import (
        _a85_encode, _lzw_encode, _rle_encode)
    from pdf_extract_spark.kernels.pdf_extract import (
        _ascii85_decode, _asciihex_decode, _lzw_decode, _runlength_decode)

    rnd = random.Random(20260819)
    cases = [
        b"", b"A", b"AAAA", b"\x00" * 1000, bytes(range(256)) * 5,
        ("lorem ipsum dolor " * 400).encode(),
        bytes(rnd.choice(b"ab") for _ in range(30000)),      # width growth
        bytes(rnd.randrange(256) for _ in range(60000)),     # table reset
    ]
    for data in cases:
        assert _asciihex_decode(data.hex().encode() + b">") == data
        assert _ascii85_decode(_a85_encode(data)) == data
        assert _runlength_decode(_rle_encode(data)) == data
        for early in (0, 1):
            assert _lzw_decode(_lzw_encode(data, early), early) == data
    # spec corner cases the encoders exercise from the decode side
    assert _asciihex_decode(b"4 1 4") == b"A@"     # ws ignored, odd pad 0
    assert _ascii85_decode(b"z~>") == b"\0\0\0\0"  # 'z' zero group
    assert _a85_encode(b"\0\0\0\0") == b"z~>"


def test_pdf_filter_malformed_and_unsupported():
    """Typed taxonomy for the new filters: malformed bytes raise
    _Malformed (→ scan fallback / quarantine), image codecs stay
    unsupported_stream_filter, and /DecodeParms EarlyChange reaches the
    LZW decoder through _apply_filter."""
    import pytest

    from pdf_extract_spark.fixtures.pdf_writer import _lzw_encode
    from pdf_extract_spark.kernels.pdf_extract import (
        _Malformed, _Unsupported, _apply_filter, _ascii85_decode,
        _lzw_decode, _runlength_decode)

    for bad in (b"u~>",          # lone trailing char: 1-of-5 group
                b"uuuuu~>",      # > 2^32-1 group value
                b"ab\x07cd~>"):  # char outside '!'..'u'
        with pytest.raises(_Malformed):
            _ascii85_decode(bad)
    with pytest.raises(_Malformed):
        _runlength_decode(b"\x7f" + b"x" * 10)  # literal overruns input
    with pytest.raises(_Malformed):
        _lzw_decode(b"\xff\xff\xff\xff")  # code far past table end
    with pytest.raises(_Unsupported):
        _apply_filter("/DCTDecode", b"x", {})
    with pytest.raises(_Unsupported):
        _apply_filter("/JPXDecode", b"x", {})
    # /Crypt: Identity (explicit or default) is a no-op pass-through;
    # any named crypt filter stays typed-unsupported (§7.4.10)
    assert _apply_filter("/Crypt", b"xyz", {}) == b"xyz"
    assert _apply_filter("/Crypt", b"xyz", {"Name": "/Identity"}) == b"xyz"
    with pytest.raises(_Unsupported):
        _apply_filter("/Crypt", b"xyz", {"Name": "/StdCF"})
    data = ("abcd" * 3000).encode()
    enc0 = _lzw_encode(data, 0)
    assert _apply_filter("/LZWDecode", enc0, {"EarlyChange": 0}) == data
    # same-length name patch keeps xref offsets valid: the structured
    # path must report the typed reason, not fall back silently
    pdf = pdf_writer.build_pdf2(
        [pdf_writer.page_ops_simple(["only line"])], filters=["/LZWDecode"])
    assert extract_pdf_text(pdf.replace(b"/LZWDecode", b"/JPXDecode")) \
        == (None, "unsupported_stream_filter")


def test_aes_rc4_published_vectors():
    """FIPS-197 Appendix C block vectors (128/192/256; one CBC block
    under a zero IV is the ECB block), CBC encrypt/decrypt round-trips,
    and the classic RC4 test strings."""
    import random

    from pdf_extract_spark.kernels import pdfcrypt as pc

    pt = bytes.fromhex("00112233445566778899aabbccddeeff")
    for klen, want in ((16, "69c4e0d86a7b0430d8cdb78070b4c55a"),
                       (24, "dda97ca4864cdfe06eaf70a0ec0d7191"),
                       (32, "8ea2b7ca516745bfeafc49904b496089")):
        key = bytes(range(klen))
        assert pc.aes_cbc_encrypt(key, bytes(16), pt).hex() == want
    rnd = random.Random(20260819)
    for klen in (16, 32):
        key = bytes(rnd.randrange(256) for _ in range(klen))
        iv = bytes(rnd.randrange(256) for _ in range(16))
        for n in (16, 160, 4096):
            data = bytes(rnd.randrange(256) for _ in range(n))
            ct = pc.aes_cbc_encrypt(key, iv, data)
            assert ct != data and pc.aes_cbc_decrypt(key, iv, ct) == data
    assert pc.rc4(b"Key", b"Plaintext").hex() == "bbf316e8d940af0ad3"
    assert pc.rc4(b"Wiki", b"pedia").hex() == "1021bf0420"


# ISO 32000-2 Algorithm 2.B keys computed with a pure-Python FIPS-197
# AES, an implementation independent of OpenSSL's: (salt index,
# password, with 48 bytes of user data) -> key
_HASH_2B_PINS = {
    (0, b"", False): "0bfa6c6fd9bf2c809902dbf6f7614664"
                     "ab71aff0e22cbf66c5ea3dbf0b264115",
    (0, b"", True): "ce5e8a38c381eabc08194d582ffaf1b0"
                    "4275546b3eaefc3772e1a690d7e7accb",
    (0, b"owner-pw", True): "b20ccd721e46a2db7fd39b2f3aab1b76"
                            "033e1ac23ab23d0495f727515fd36fc0",
    (1, b"", False): "4a6822c25f8ff9cdec56cb7c1a900473"
                     "f0cd5aa6a9f716f11a75a78d46f560f9",
    (1, b"", True): "15ab60dcb3259b976f27e24b0411c0e8"
                    "739d69bf28512c28c172aed502918a94",
    (2, b"", False): "68965e5f856661742b30b017551ea581"
                     "8f761a1746183aed4d74f18e66d3f2ed",
    (2, b"", True): "8068708a5512f6c01e924ca8e5258e2b"
                    "3f1dd769e1814b2f1f4265a779045269",
    (3, b"", False): "e2f981859041aa5b19716ae2b3696a4e"
                     "72eebd2a14d0573b837d103522c187eb",
    (3, b"", True): "d5e9b07db65f2a3cc122dd8347e9e3d5"
                    "7abe04604391a8c68f2dfe54c873281b",
    (4, b"", False): "f779568aa426e52808a12e7a635f2c8f"
                     "c73292a4c69d4ebc3ba50b14c3d8a8f5",
    (4, b"", True): "e6b240b7fa548b1aea17995bb7824616"
                    "94b43017fefef002b838efc219d769ca",
}


def test_r6_kdf_known_answers():
    """Cold Algorithm 2.B (the R6 KDF, whose every round is an
    AES-128-CBC encryption) against pinned keys for salts the fixtures
    never use; the cache is cleared first, so each call computes."""
    import random

    from pdf_extract_spark.kernels import pdfcrypt as pc

    rnd = random.Random(15)
    salts, udatas = [], []
    for _ in range(5):
        salts.append(bytes(rnd.randrange(256) for _ in range(8)))
        udatas.append(bytes(rnd.randrange(256) for _ in range(48)))
    for (i, pw, with_udata), want in _HASH_2B_PINS.items():
        pc._hash_2b.cache_clear()
        key = pc._hash_2b(pw, salts[i], udatas[i] if with_udata else b"")
        assert key.hex() == want, (i, pw, with_udata)


def test_missing_crypto_wheel_fails_the_import():
    """Without `cryptography` the decode kernel must not import, so a
    worker missing the wheel fails its task loudly instead of
    quarantining every encrypted PDF as a parse error."""
    import os
    import subprocess
    import sys

    code = (
        "import sys\n"
        "class Refuse:\n"
        "    def find_spec(self, name, path=None, target=None):\n"
        "        if name.split('.')[0] == 'cryptography':\n"
        "            raise ImportError('no ' + name)\n"
        "sys.meta_path.insert(0, Refuse())\n"
        "try:\n"
        "    import pdf_extract_spark.kernels.decode\n"
        "except ImportError as e:\n"
        "    print('ImportError', e)\n"
        "else:\n"
        "    print('imported')\n")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    res = subprocess.run([sys.executable, "-c", code], cwd=repo,
                         capture_output=True, text=True, timeout=120)
    assert res.returncode == 0, res.stderr
    assert res.stdout.startswith("ImportError no cryptography"), res.stdout


_ENCRYPT_MODES = ("rc4-40", "rc4-128", "aesv2", "aesv3")


def test_pdf_encrypted_byte_identical():
    """Standard-security-handler PDFs with an EMPTY user password (the
    dominant wild case) extract byte-identically to the plain twin for
    all four wild handler shapes — R2/RC4-40, R3/RC4-128, R4/AESV2,
    R6/AESV3 — through the classic-xref, modern (xref stream + ObjStm +
    flate), and filter-chain paths."""
    pgs = [pdf_writer.page_ops_simple(
               [f"encrypted fixture line {j} words" for j in range(8)]),
           pdf_writer.page_ops_two_column(
               [f"left {j}" for j in range(4)],
               [f"right {j}" for j in range(4)])]
    want, err = extract_pdf_text(pdf_writer.build_pdf2(pgs))
    assert err is None and want
    for mode in _ENCRYPT_MODES:
        plain = pdf_writer.build_pdf2(pgs, encrypt=mode)
        assert extract_pdf_text(plain) == (want, None), mode
        modern = pdf_writer.build_pdf2(pgs, encrypt=mode, compress=True,
                                       xref_stream=True, objstm=True)
        assert extract_pdf_text(modern) == (want, None), mode
        chained = pdf_writer.build_pdf2(
            pgs, encrypt=mode, filters=["/ASCII85Decode", "/FlateDecode"])
        assert extract_pdf_text(chained) == (want, None), mode
    # deprecated AESV3 rev 5 (plain SHA-256 derivation) and the R4
    # /EncryptMetadata false key-derivation branch (extra 0xFFFFFFFF
    # input to Algorithm 2)
    assert extract_pdf_text(
        pdf_writer.build_pdf2(pgs, encrypt="aesv3r5")) == (want, None)
    assert extract_pdf_text(pdf_writer.build_pdf2(
        pgs, encrypt="aesv3r5", xref_stream=True, objstm=True,
        compress=True)) == (want, None)
    assert extract_pdf_text(pdf_writer.build_pdf2(
        pgs, encrypt="aesv2", encrypt_metadata=False)) == (want, None)


def test_pdf_encrypted_taxonomy():
    """Typed quarantine for encryption: a non-empty user password is
    encrypted_password_protected (distinct from structurally
    unsupported handlers), an unknown crypt method stays
    unsupported_encrypted_pdf, and corrupted ciphertext quarantines
    rather than crashing."""
    pgs = [pdf_writer.page_ops_simple(["secret line"])]
    enc = pdf_writer.build_pdf2(pgs, encrypt="rc4-128")
    # breaking /U breaks empty-password authentication; same-length
    # patch keeps xref offsets valid
    u_hex = __import__("re").search(rb"/U <([0-9a-f]{64})>", enc).group(1)
    flip = (b"00" if u_hex[:2] != b"00" else b"01") + u_hex[2:]
    assert extract_pdf_text(enc.replace(u_hex, flip)) \
        == (None, "encrypted_password_protected")
    aes = pdf_writer.build_pdf2(pgs, encrypt="aesv2")
    assert extract_pdf_text(aes.replace(b"/CFM /AESV2", b"/CFM /AESXX")) \
        == (None, "unsupported_encrypted_pdf")
    # corrupt ciphertext: a non-block-multiple AES stream (/Length
    # shortened by one, same byte width) must quarantine typed — the
    # salvage scanner can only emit ciphertext garbage for an
    # encrypted doc, so it must never run
    lm = __import__("re").search(rb"/Length (\d\d+)", aes)
    shorter = str(int(lm.group(1)) - 1).encode().rjust(len(lm.group(1)),
                                                       b"0")
    corrupt = aes[:lm.start(1)] + shorter + aes[lm.end(1):]
    assert extract_pdf_text(corrupt) == (None, "encrypted_malformed")
    # IV corruption (first ciphertext byte) garbles only CBC block one
    # — positioning ops — and a conforming reader still extracts the
    # text; assert we do too rather than quarantining
    m = __import__("re").search(rb"stream\r?\n", aes)
    b0 = m.end()
    iv_hit = aes[:b0] + bytes([aes[b0] ^ 0xFF]) + aes[b0 + 1:]
    assert extract_pdf_text(iv_hit)[0] == "secret line"


def test_pdf_encrypted_unsigned_p_matches_signed():
    """/P written unsigned (4294967252) is the same 32-bit field as the
    fixtures' signed -44: Algorithm 2 must derive the same key from
    both spellings, so the document decrypts instead of quarantining."""
    import re

    pgs = [pdf_writer.page_ops_simple(["unsigned permissions line"])]
    for mode in ("rc4-40", "rc4-128", "aesv2"):
        signed = pdf_writer.build_pdf2(pgs, encrypt=mode)
        unsigned = signed.replace(b"/P -44 ", b"/P 4294967252 ")
        # the /Encrypt dict is the last object, so only startxref moves
        shift = len(unsigned) - len(signed)
        unsigned = re.sub(
            rb"startxref\n(\d+)",
            lambda m: b"startxref\n%d" % (int(m.group(1)) + shift), unsigned)
        assert extract_pdf_text(unsigned) == extract_pdf_text(signed) \
            == ("unsigned permissions line", None), mode


def test_pdf_aes_zero_length_stream_is_empty():
    """A /Length 0 stream in an AESV2 document is empty content, as
    readers treat it, not a cut ciphertext: the document extracts its
    other page instead of quarantining as encrypted_malformed. A stream
    of the IV alone (16 bytes) is still malformed."""
    import re

    pgs = [pdf_writer.page_ops_simple(["text beside an empty stream"]), []]
    aes = pdf_writer.build_pdf2(pgs, encrypt="aesv2")
    m = re.search(rb"6 0 obj\n<< /Length (\d+) >>\nstream\n", aes)
    end = m.end() + int(m.group(1))

    def with_stream(body: bytes) -> bytes:
        pdf = (aes[:m.start(1)] + b"%d >>\nstream\n" % len(body) + body
               + aes[end:])
        shift = len(pdf) - len(aes)
        pdf = re.sub(rb"(\d{10}) 00000 n", lambda x: b"%010d 00000 n" % (
            int(x.group(1)) + (shift if int(x.group(1)) > m.start() else 0)),
            pdf)
        return re.sub(rb"startxref\n(\d+)", lambda x: b"startxref\n%d" % (
            int(x.group(1)) + shift), pdf)

    assert extract_pdf_text(aes) == ("text beside an empty stream", None)
    assert extract_pdf_text(with_stream(b"")) \
        == ("text beside an empty stream", None)
    assert extract_pdf_text(with_stream(aes[m.end():m.end() + 16])) \
        == (None, "encrypted_malformed")


def test_pdf_literal_string_escapes():
    """_parse_value unescapes literal strings at the byte level (octal,
    named escapes, line continuations) — required for /O //U key
    material carried as literal strings in real PDFs."""
    from pdf_extract_spark.kernels.pdf_extract import _parse_value
    raw = b"(a\\050b\\\\c\\nd\\\r\ne)"  # \050 octal, \\, \n, line cont.
    v, _ = _parse_value(raw, 0)
    assert v == b"a(b\\c\nde"
    v, _ = _parse_value(b"(\\101\\12\\1x\\q)", 0)  # octal forms + \q -> q
    assert v == b"A\n\x01xq"


def test_pdf_simple_font_encodings():
    """Simple-font /Encoding tables (§9.6.6 + Annex D): WinAnsi,
    MacRoman and Standard map byte codes to the right unicode, and a
    /Differences array remaps individual codes (consecutive-name
    semantics, uniXXXX forms, letter+diacritic composites). The fixture
    encodes through the INVERSE table, so any per-byte infidelity in
    either direction breaks round-trip identity. Also held under
    encryption + modern structure, and ToUnicode precedence intact."""
    win = ["café naïve — “quoted” résumé", "prix: 12 € — Möbius™ • ½"]
    pdf = pdf_writer.build_pdf2(
        [pdf_writer.page_ops_simple_enc(win, "WinAnsiEncoding", None)],
        simple_enc=("WinAnsiEncoding", None))
    assert extract_pdf_text(pdf) == ("\n".join(win), None)

    mac = ["café — “déjà vu” • ¶ ﬁnal"]
    pdf = pdf_writer.build_pdf2(
        [pdf_writer.page_ops_simple_enc(mac, "MacRomanEncoding", None)],
        simple_enc=("MacRomanEncoding", None))
    assert extract_pdf_text(pdf) == (mac[0], None)

    std = ["it’s a ‘test’ of fi ligature ﬁ"]
    pdf = pdf_writer.build_pdf2(
        [pdf_writer.page_ops_simple_enc(std, "StandardEncoding", None)],
        simple_enc=("StandardEncoding", None))
    assert extract_pdf_text(pdf) == (std[0], None)

    diffs = [200, "eacute", "trademark", "uni0394", 65, "bullet"]
    dl = ["é™Δ at high codes", "• is code 65 now"]
    pdf = pdf_writer.build_pdf2(
        [pdf_writer.page_ops_simple_enc(dl, "WinAnsiEncoding", diffs)],
        simple_enc=("WinAnsiEncoding", diffs))
    assert extract_pdf_text(pdf) == ("\n".join(dl), None)

    enc = pdf_writer.build_pdf2(
        [pdf_writer.page_ops_simple_enc(
            ["café — “ok” ™"], "WinAnsiEncoding", None)],
        simple_enc=("WinAnsiEncoding", None), encrypt="aesv2",
        xref_stream=True, objstm=True, compress=True)
    assert extract_pdf_text(enc) == ("café — “ok” ™", None)


def test_pdf_glyph_name_resolution():
    """AGL-convention names resolve; unknown names keep the base table
    value instead of silently deleting the character."""
    from pdf_extract_spark.kernels.pdfenc import (build_encoding,
                                                  glyph_to_unicode)
    assert glyph_to_unicode("eacute") == "é"
    assert glyph_to_unicode("Ntilde") == "Ñ"
    assert glyph_to_unicode("udieresis") == "ü"
    assert glyph_to_unicode("uni20AC") == "€"
    assert glyph_to_unicode("u1F600") == "😀"
    assert glyph_to_unicode("quotesinglbase") == "‚"
    assert glyph_to_unicode("nosuchglyphname") is None
    tbl = build_encoding("WinAnsiEncoding",
                         [65, "/nosuchglyphname", "/eacute"])
    assert tbl[65] == "A" and tbl[66] == "é"  # unknown kept, next applied


def test_pdf_form_xobjects_and_graphics_state():
    """Text inside /Form XObjects extracts in the right reading-order
    position whether placed by a cm translation inside q/Q or by the
    form's own /Matrix; forms without /Resources fall back to the
    caller's; q/Q restores the CTM so transforms can't leak; /Resources
    inherits from the page-tree parent (§7.7.3.4); self-referential
    forms terminate at the depth cap."""
    L, T, LD, FS = (pdf_writer.LEFT, pdf_writer.TOP, pdf_writer.LEADING,
                    pdf_writer.FONT_SIZE)
    lines = [f"form fixture line {j}" for j in range(4)] \
        + ["footer text from form"]
    want, err = extract_pdf_text(
        pdf_writer.build_pdf2([pdf_writer.page_ops_simple(lines)]))
    assert err is None and want

    footer_y = T - 4 * LD
    form_ops = ["BT", f"/F1 {FS} Tf", "0 0 Td",
                "(footer text from form) Tj", "ET"]
    page = ["BT", f"/F1 {FS} Tf", f"{L} {T} Td"]
    for i, ln in enumerate(lines[:4]):
        if i:
            page.append(f"0 -{LD} TD")
        page.append(f"({ln}) Tj")
    body_cm = page + ["ET", "q", f"1 0 0 1 {L} {footer_y} cm",
                      "/Fm1 Do", "Q"]
    pdf = pdf_writer.build_pdf2([body_cm],
                                forms={"Fm1": (form_ops, None, True)})
    assert extract_pdf_text(pdf) == (want, None)

    body_mtx = page + ["ET", "/Fm1 Do"]
    pdf = pdf_writer.build_pdf2(
        [body_mtx],
        forms={"Fm1": (form_ops, (1, 0, 0, 1, L, footer_y), False)})
    assert extract_pdf_text(pdf) == (want, None)

    pdf = pdf_writer.build_pdf2([pdf_writer.page_ops_simple(lines)],
                                inherit_resources=True, xref_stream=True,
                                objstm=True)
    assert extract_pdf_text(pdf) == (want, None)

    leak = ["q", "2 0 0 2 0 0 cm", "Q", "BT", f"/F1 {FS} Tf",
            f"{L} {T} Td", "(only line) Tj", "ET"]
    assert extract_pdf_text(pdf_writer.build_pdf2([leak])) \
        == ("only line", None)

    recursive = ["BT", f"/F1 {FS} Tf", f"{L} {T} Td", "(base) Tj", "ET",
                 "q", f"1 0 0 1 0 -{LD} cm", "/FmR Do", "Q"]
    pdf = pdf_writer.build_pdf2(
        [recursive], forms={"FmR": (recursive, None, True)})
    text, err = extract_pdf_text(pdf)
    # form's own /Resources has no /XObject, so recursion stops after
    # one level by lookup failure — but never crashes or loops
    assert err is None and text.startswith("base")


def test_pdf_text_state_operators():
    """Tc/Tw/Tz change advances and Ts displaces within the line; text
    still groups into the same words and lines as the unstyled twin.
    A large Tz compression that pulls two Tj spans together must merge
    them into one word (the advance model honors the scale)."""
    lines = [f"text state line {j} words here" for j in range(5)]
    want, err = extract_pdf_text(
        pdf_writer.build_pdf2([pdf_writer.page_ops_simple(lines)]))
    assert err is None and want
    styled = pdf_writer.build_pdf2(
        [pdf_writer.page_ops_text_state(lines)])
    assert extract_pdf_text(styled) == (want, None)
    # consecutive shows stay contiguous at ANY Tz (scaling stretches
    # the glyphs themselves — span x_end carries the scaled advance),
    # while a TJ kern between them opens a real gap that scales too
    def two_shows(tz: int, kern: int = 0) -> str:
        arr = "[(AB)] TJ" if not kern else f"[(AB) {-kern}] TJ"
        ops = ["BT", "/F1 12 Tf", "72 720 Td", f"{tz} Tz",
               arr, "(CD) Tj", "ET"]
        t, e = extract_pdf_text(pdf_writer.build_pdf2([ops]))
        assert e is None
        return t
    assert two_shows(100) == "ABCD"       # zero gap: merged
    assert two_shows(400) == "ABCD"       # stretched glyphs: still merged
    assert two_shows(25) == "ABCD"        # compressed: still merged
    assert two_shows(100, 600) == "AB CD"   # kern opens a word gap
    assert two_shows(25, 2000) == "AB CD"   # big kern survives compression
    assert two_shows(25, 600) == "ABCD"     # small kern compresses away
    # the " operator: set word/char spacing, move to next line, show
    ops = ["BT", "/F1 12 Tf", "14 TL", "72 720 Td", "(first line) Tj",
           '1.5 0.2 (second via quote op) "',
           '0 0 (third via quote op) "', "ET"]
    t, e = extract_pdf_text(pdf_writer.build_pdf2([ops]))
    assert e is None
    assert t == "first line\nsecond via quote op\nthird via quote op"


def test_pdf_tiff_predictor():
    """/Predictor 2 (TIFF horizontal differencing) reverses exactly for
    1- and 3-component rows; bad row sizes stay typed malformed, and
    components other than 8-bit (here 4-bit, whose nibble deltas a byte
    reversal would corrupt) quarantine as unsupported_stream_filter."""
    import zlib as _z

    import pytest

    from pdf_extract_spark.kernels.pdf_extract import (_Malformed,
                                                       _Unsupported,
                                                       _apply_filter)
    for colors, cols in ((1, 16), (3, 5)):
        width = colors * cols
        plain = bytes((7 * i + 3) % 256 for i in range(width * 4))
        diffed = bytearray(plain)
        for r in range(0, len(plain), width):
            for i in range(width - 1, colors - 1, -1):
                diffed[r + i] = (plain[r + i] - plain[r + i - colors]) & 0xFF
        got = _apply_filter("/FlateDecode", _z.compress(bytes(diffed)),
                            {"Predictor": 2, "Columns": cols,
                             "Colors": colors})
        assert got == plain, (colors, cols)
    with pytest.raises(_Malformed):
        _apply_filter("/FlateDecode", _z.compress(b"xyz"),
                      {"Predictor": 2, "Columns": 2})
    with pytest.raises(_Unsupported, match="unsupported_stream_filter"):
        _apply_filter("/FlateDecode", _z.compress(bytes(8)),
                      {"Predictor": 2, "Columns": 8, "BitsPerComponent": 4})


def test_pdf_scalar_decode_parms_on_a_filter_chain():
    """A lone /DecodeParms dict on a /Filter chain names no link, so no
    link gets it (pdf.js): the Flate link of [/ASCIIHexDecode
    /FlateDecode] must not run the dict's PNG predictor over plain
    content. Checked on the structured path, which salvage would mask."""
    from pdf_extract_spark.kernels.pdf_extract import _extract_structured
    pgs = [pdf_writer.page_ops_simple(["scalar parms on a chain", "line 2"])]
    want, err = extract_pdf_text(pdf_writer.build_pdf2(pgs))
    assert err is None and want
    chained = pdf_writer.build_pdf2(
        pgs, filters=["/ASCIIHexDecode", "/FlateDecode"],
        decode_parms="<< /Predictor 12 /Columns 4 >>")
    assert _extract_structured(chained) == want
    assert extract_pdf_text(chained) == (want, None)


def test_pdf_word_spacing_counts_single_byte_code_32():
    """Tw (§9.3.3) advances each single-byte code 32 shown, not each
    decoded space: a Type0 font's two-byte code mapped to U+0020 gets no
    Tw, so the next show (placed where the plain advance ends) stays in
    the same word; the single-byte /F1 twin still gets it, and its -6 Tw
    opens a word gap."""
    def text(font: str, first: str, second: str) -> str:
        ops = ["BT", f"/{font} 12 Tf", "-6 Tw", "72 720 Td",
               f"{first} Tj", "ET",
               "BT", f"/{font} 12 Tf", "90 720 Td", f"{second} Tj", "ET"]
        t, e = extract_pdf_text(pdf_writer.build_pdf2([ops], cid_font=True))
        assert e is None
        return t
    assert text("F2", "<004100200042>", "<00430044>") == "A BCD"
    assert text("F1", "(A B)", "(CD)") == "A B CD"


def test_pdf_widths_table_advances():
    """A declared /FirstChar + /Widths table makes advances exact:
    narrow glyphs (width 250) pull consecutive shows together where the
    CHAR_W estimate (500) would split them, wide glyphs (900) force a
    word gap the estimate would miss; /MissingWidth covers undeclared
    codes. Fonts without /Widths keep the estimate (goldens unchanged)."""
    def shows(widths) -> str:
        ops = ["BT", "/F1 12 Tf", "72 720 Td", "(AB) Tj", "(CD) Tj", "ET"]
        pdf = pdf_writer.build_pdf2([ops], f1_widths=widths)
        t, e = extract_pdf_text(pdf)
        assert e is None
        return t
    assert shows(None) == "ABCD"                    # estimate: contiguous
    # all four glyphs declared at 250/1000: advance 2*0.25*12 = 6pt but
    # x_end estimate would be 12pt — only the DECLARED width keeps the
    # second show adjacent after the true 6pt advance
    assert shows((65, [250, 250, 250, 250])) == "ABCD"
    # wide glyphs: true advance 2*0.9*12 = 21.6pt, estimate 12pt; the
    # next show starts 21.6pt in — adjacent under declared widths, a
    # 9.6pt phantom gap under the estimate. Then narrow SECOND pair
    # (undeclared -> MissingWidth 900) keeps symmetry
    assert shows((65, [900, 900], 900)) == "ABCD"
    # declared 250 for AB but the advance between spans comes from a Td
    # jump of 12pt: true x_end = 72+6, gap = 6pt > GAP_FACTOR*12 -> split
    ops = ["BT", "/F1 12 Tf", "72 720 Td", "(AB) Tj",
           "ET", "BT", "/F1 12 Tf", "84 720 Td", "(CD) Tj", "ET"]
    pdf = pdf_writer.build_pdf2([ops], f1_widths=(65, [250, 250]))
    assert extract_pdf_text(pdf) == ("AB CD", None)
    # same geometry WITHOUT widths: estimate says x_end = 72+12 = 84,
    # zero gap -> merged. The declared table changes the verdict.
    pdf = pdf_writer.build_pdf2([ops])
    assert extract_pdf_text(pdf) == ("ABCD", None)


def test_pdf_nested_paren_strings():
    """§7.3.4.2: literal strings may contain BALANCED unescaped parens;
    the content tokenizer depth-scans them (the regex alternative would
    split '(a(b)c)' at the inner close and fabricate operands). Escaped
    and balanced parens mix; arrays too; unterminated strings don't
    crash."""
    ops = ["BT", "/F1 12 Tf", "72 720 Td",
           "(outer (nested (deep)) text) Tj", "0 -14 TD",
           r"(escaped \( mix (bal) \)) Tj", "0 -14 TD",
           "[(arr (one)) -700 (two)] TJ", "ET"]
    t, e = extract_pdf_text(pdf_writer.build_pdf2([ops]))
    assert e is None
    assert t == ("outer (nested (deep)) text\n"
                 "escaped ( mix (bal) )\narr (one) two")
    bad = ["BT", "/F1 12 Tf", "72 720 Td", "(never closed"]
    t, e = extract_pdf_text(pdf_writer.build_pdf2([bad]))
    assert (t is None) != (e is None)


def test_pdf_cid_w_widths():
    """Composite-font CID widths (§9.7.4.3): the descendant font's /W
    drives 2-byte-code advances in both forms (`c1 c2 w` range and
    `c [w …]` list) with /DW for undeclared CIDs — narrow CJK-style
    glyph tables change the word-gap verdict where the CHAR_W estimate
    would merge. Fonts without /W keep the estimate."""
    ops = ["BT", "/F2 12 Tf", "72 720 Td", "<00410042> Tj", "ET",
           "BT", "/F2 12 Tf", "84 720 Td", "<00430044> Tj", "ET"]
    est = pdf_writer.build_pdf2([ops], cid_font=True)
    # estimate: x_end = 72 + 2*0.5*12 = 84 -> zero gap -> merged
    assert extract_pdf_text(est) == ("ABCD", None)
    # /W 250 range form: true x_end = 72 + 6 -> 6pt gap -> split
    rng = pdf_writer.build_pdf2([ops], cid_font=True,
                                cid_w=("65 68 250", 1000))
    assert extract_pdf_text(rng) == ("AB CD", None)
    # consecutive-list form, no /DW (spec default 1000)
    lst = pdf_writer.build_pdf2([ops], cid_font=True,
                                cid_w=("65 [250 250 250 250]", None))
    assert extract_pdf_text(lst) == ("AB CD", None)
    # undeclared CIDs fall to /DW: declare only 0x43/0x44 narrow and
    # make DW narrow too -> same split geometry via the default
    dw = pdf_writer.build_pdf2([ops], cid_font=True,
                               cid_w=("67 68 250", 250))
    assert extract_pdf_text(dw) == ("AB CD", None)


def test_pdf_invisible_text_extracts():
    """Tr 3 (invisible render mode) text MUST extract: scanned PDFs
    carry their OCR layer as invisible text over the page image, and a
    crawl extractor that honored visibility would return nothing for
    every scanned document. Ignoring Tr is a deliberate kernel choice,
    matching production extractors (pdfminer, pdftotext)."""
    ops = ["BT", "/F1 12 Tf", "3 Tr", "72 720 Td",
           "(ocr layer text under a scan) Tj", "ET"]
    assert extract_pdf_text(pdf_writer.build_pdf2([ops])) \
        == ("ocr layer text under a scan", None)


def test_pdf_inline_images_stripped():
    """Inline-image binary data (BI…ID…EI, §8.9.7) never reaches the text
    tokenizer — extraction equals the image-free twin even when the data
    contains parens, show operators, and non-delimited 'EI' byte pairs —
    through the structured, modern (xref-stream/ObjStm + filters), and
    salvage paths. Truncated data (no EOD) quarantines typed."""
    lines = [f"inline image fixture line {j} words" for j in range(6)]
    want, err = extract_pdf_text(
        pdf_writer.build_pdf2([pdf_writer.page_ops_simple(lines)]))
    assert err is None and want
    ops = pdf_writer.page_ops_inline_image(lines)
    assert extract_pdf_text(pdf_writer.build_pdf2([ops])) == (want, None)
    modern = pdf_writer.build_pdf2([ops], filters=["/FlateDecode"],
                                   xref_stream=True, objstm=True)
    assert extract_pdf_text(modern) == (want, None)
    salvage = pdf_writer.build_pdf2([ops]).replace(b"startxref", b"startxrfX")
    assert extract_pdf_text(salvage) == (want, None)
    truncated = pdf_writer.build_pdf2(
        [["BT", "/F1 12 Tf", "72 720 Td", "(x) Tj", "ET",
          "BI /W 1 /H 1 ID \x00\x01"]])
    assert extract_pdf_text(truncated) == (None, "content_stream_parse_error")


def test_pdf_flate_compressed_stream():
    """FlateDecode content streams decode identically to raw ones, and the
    /Length-based slicing survives `endstream` bytes inside deflate data."""
    from pdf_extract_spark.fixtures import pdf_writer
    from pdf_extract_spark.kernels.pdf_extract import extract_pdf_text

    lines = [f"compressed page line {j} with words" for j in range(8)]
    raw = pdf_writer.build_pdf([pdf_writer.page_ops_simple(lines)],
                               compress=False)
    comp = pdf_writer.build_pdf([pdf_writer.page_ops_simple(lines)],
                                compress=True)
    t_raw, e1 = extract_pdf_text(raw)
    t_comp, e2 = extract_pdf_text(comp)
    assert e1 is None and e2 is None
    assert t_raw == t_comp

    # corrupt deflate body → quarantined, not crashed
    bad = comp.replace(b"stream\n", b"stream\nXX", 1)
    t_bad, e_bad = extract_pdf_text(bad)
    assert t_bad is None and e_bad == "bad_flate_stream"


def _bomb_pdf(inflated_mb: int) -> bytes:
    """A one-page PDF whose Flate content stream inflates to
    `inflated_mb` MB of spaces (about 1 KB of deflate data per MB)."""
    import zlib

    z = zlib.compressobj(9)
    mb = b" " * (1 << 20)
    body = b"".join(z.compress(mb) for _ in range(inflated_mb)) + z.flush()
    objs = [b"<< /Type /Catalog /Pages 2 0 R >>",
            b"<< /Type /Pages /Kids [3 0 R] /Count 1 >>",
            b"<< /Type /Page /Parent 2 0 R /Contents 4 0 R >>",
            b"<< /Length %d /Filter /FlateDecode >>\nstream\n%s\nendstream"
            % (len(body), body)]
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for num, obj in enumerate(objs, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n%s\nendobj\n" % (num, obj)
    xref_at = len(out)
    out += b"xref\n0 5\n0000000000 65535 f \n"
    out += b"".join(b"%010d 00000 n \n" % off for off in offsets)
    out += b"trailer\n<< /Size 5 /Root 1 0 R >>\nstartxref\n%d\n%%%%EOF\n" \
        % xref_at
    return bytes(out)


def test_pdf_flate_bomb_is_a_resource_limit():
    """A Flate stream inflating past MAX_INFLATED_BYTES quarantines as
    `resource_limit` on the structured and the salvage path alike, in
    bounded time, instead of being inflated whole."""
    import time
    import zlib

    import pytest

    from pdf_extract_spark.kernels import pdf_extract as P

    bomb = _bomb_pdf(100)
    assert len(bomb) < 150_000
    salvage = bomb.replace(b"startxref", b"startxrex")  # no xref: salvage
    for payload in (bomb, salvage):
        t0 = time.perf_counter()
        assert extract_pdf_text(payload) == (None, "resource_limit")
        assert time.perf_counter() - t0 < 2.0
    # under the cap the same stream decodes (to no text); a truncated
    # deflate body is still malformed
    assert extract_pdf_text(_bomb_pdf(1)) == (None, "no_text_content")
    with pytest.raises(P._Malformed):
        P._apply_filter("/FlateDecode", zlib.compress(b"x" * 100)[:-3], {})


def _pinned_corpus() -> list[bytes]:
    """make_rows(2000) payloads plus four many-page PDFs (20-50 pages of
    40 lines each) from a fixed-seed word list."""
    import random

    rng = random.Random("pinned-multipage")
    words = ("data spark engine query table column partition shuffle join "
             "filter aggregate window stream batch vector index").split()
    docs = [row[2] for row in pages.make_rows(2000)]
    for k in range(4):
        docs.append(pdf_writer.build_pdf([
            pdf_writer.page_ops_simple(
                [" ".join(rng.choice(words) for _ in range(10))
                 for _ in range(40)])
            for _ in range(20 + 10 * k)]))
    return docs


# sha256 over decode_payload's (text, error) for _pinned_corpus(), one
# JSON line per document. Recorded once, never recomputed: the other
# goldens are computed by the kernel under test, so only this digest
# catches a kernel rewrite that changes its output bytes.
PINNED_DECODE_SHA256 = \
    "e45efe891c4aaef303ad2674a8d87463eea6fabb67bc2e0742c53ced1026ff44"


def test_pinned_decode_output_digest():
    import hashlib
    import json

    h = hashlib.sha256()
    for payload in _pinned_corpus():
        h.update(json.dumps(decode_payload(payload)).encode() + b"\n")
    assert h.hexdigest() == PINNED_DECODE_SHA256


def test_pdf_escape_property():
    """Property: writer-escape → parser-unescape is identity for lines with
    parens, backslashes, and latin-1 glyphs (the PDF string escape path)."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from pdf_extract_spark.fixtures import pdf_writer
    from pdf_extract_spark.kernels.pdf_extract import extract_pdf_text

    line = st.text(
        alphabet=st.sampled_from(
            list("abcdefgh ()\\%/<>[]{}#&*!0123456789éüñ")),
        min_size=1, max_size=40,
    ).map(lambda s: s.strip()).filter(
        lambda s: s and " " not in s[:1])

    @settings(max_examples=120, deadline=None)
    @given(st.lists(line, min_size=1, max_size=5))
    def check(lines):
        pdf = pdf_writer.build_pdf(
            [pdf_writer.page_ops_simple(lines)], compress=True)
        text, err = extract_pdf_text(pdf)
        assert err is None
        # layout collapses runs of spaces within a line (word grouping);
        # writer emits one span per line, so text must round-trip exactly
        assert text.splitlines() == lines

    check()


def test_entity_sanitation_idempotent():
    """SURVEY §5.2: sanitize(sanitize(x)) == sanitize(x), and extraction
    output is already canonical (sorted, distinct, len>2)."""
    from pdf_extract_spark.kernels.ner import _sanitize, extract_entities

    raw = ["  Alice  ", "Bob", "x", "", "Alice", "Charlie Delta", "ab"]
    once = _sanitize(raw)
    assert _sanitize(once) == once
    assert once == sorted(set(once))
    assert all(len(e) > 2 for e in once)

    ents = extract_entities(
        "Alice Johnson met Bob Smith in Paris on 2024-01-15; cost 42.5.")
    for cat, vals in ents.items():
        assert vals == sorted(set(vals)), cat
        assert _sanitize(vals) == vals, cat


def test_fast_tokenizer_edge_cases_match_reference():
    """Review-found divergences, now fixed: bare '<' in prose is text (not
    a tag), and XHTML self-closing tags don't split or drop blocks."""
    from html_reference import collect_blocks_reference

    from pdf_extract_spark.kernels.html_extract import _collect_blocks

    cases = [
        "<p>price is 3 < y and 7 > 2 tested here today ok</p>",
        "<p>hello there <svg/> world again ok fine</p>",
        "<p>mixed <br/> break and <iframe/> inline content here</p>",
        "<div>a < b</div><p>real paragraph with enough words here</p>",
        "<p>self closed para</p><p/><p>another real one with words</p>",
    ]
    for html in cases:
        assert _collect_blocks(html) == collect_blocks_reference(html), html


def test_second_review_regressions():
    """Fixes from the kernel-focused review pass."""
    from html_reference import collect_blocks_reference

    from pdf_extract_spark.kernels.chunker import split_text
    from pdf_extract_spark.kernels.html_extract import _collect_blocks
    from pdf_extract_spark.kernels.pdf_extract import extract_pdf_text
    from pdf_extract_spark.kernels.textstats import simhash64

    # chunker: emitted chunks can never exceed chunk_size
    chunks = split_text("a" * 1798 + "\n\n" + "b" * 148 + "\n\n" + "c" * 1898,
                        2000, 200)
    assert all(len(c) <= 2000 for c in chunks), [len(c) for c in chunks]

    # tokenizer: unquoted attribute value ending in '/' is NOT self-closing
    # (bare-URL anchors must count as linked chars)
    h1 = ('<div><a href=http://example.com/>click here now</a> plus real '
          'body prose that stays</div>')
    assert _collect_blocks(h1) == collect_blocks_reference(h1)

    # tokenizer: unterminated comment → remainder is data, like html.parser
    h2 = ("<p>good paragraph with plenty of words here</p>"
          "<!-- oops <p>ghost block content here</p>")
    assert _collect_blocks(h2) == collect_blocks_reference(h2)

    # pdf: malformed operands quarantine instead of crashing
    bad = (b"%PDF-1.4\n<< /Length 21 >>\nstream\n"
           b"BT (x) (y) Td (z) Tj\nendstream\n%%EOF")
    text, err = extract_pdf_text(bad)
    assert err == "content_stream_parse_error" and text is None

    # simhash: batched accumulation is value-identical to the direct form
    t = "spark engine data " * 3000
    def ref(text):
        from pdf_extract_spark.kernels.embed import fnv1a64
        acc = [0] * 64
        for tok in text.lower().split():
            h = fnv1a64(tok.encode())
            for b in range(64):
                acc[b] += 1 if (h >> b) & 1 else -1
        out = 0
        for b in range(64):
            if acc[b] > 0:
                out |= 1 << b
        return out
    assert simhash64(t) == ref(t)


def test_tokenizer_valueless_attribute_self_closes():
    """A '/' right after a valueless attribute name self-closes the tag, as
    in html.parser: '<iframe ... allowfullscreen/>' must not open a drop
    subtree that swallows the rest of the page, and '<a href=x data/>'
    must not open a link."""
    from html_reference import collect_blocks_reference

    from pdf_extract_spark.kernels.html_extract import _collect_blocks

    body = "<p>main body paragraph that must survive extraction</p>"
    for tag in ('<iframe src="v.html" allowfullscreen/>',
                "<svg class=i aria-hidden/>", "<a href=x data/>"):
        html = ("<p>intro paragraph with enough words here</p>" + tag
                + body + "<p>tail text</p>")
        blocks = _collect_blocks(html)
        assert blocks == collect_blocks_reference(html), tag
        assert [b[0] for b in blocks] == [
            "intro paragraph with enough words here",
            "main body paragraph that must survive extraction",
            "tail text"], tag
    # an unquoted value still takes the '/': <a href=x/> opens a link
    html = "<div><a href=x/>linked words</a> and plain words</div>"
    assert _collect_blocks(html) == collect_blocks_reference(html) == [
        ("linked words and plain words", 28, 11, "div")]


def test_tokenizer_openings_without_a_close_bracket_stay_linear():
    """'<x' openings with no '>' after them start no token. The tokenizer
    stops scanning at the document's last '>', so each of them is not a
    fresh scan to the end of the document (a 6 KB page of them inside a
    <nav> used to take minutes)."""
    import time

    from pdf_extract_spark.kernels.html_extract import _collect_blocks

    head = "<p>kept paragraph with enough words</p>"
    for tail in ("<nav>" + "<x" * 3000, "<p class=x " * 6000):
        t0 = time.perf_counter()
        blocks = _collect_blocks(head + tail)
        assert time.perf_counter() - t0 < 2.0, tail[:20]
        assert blocks[0] == ("kept paragraph with enough words", 32, 0, "p")


def test_rawtext_close_tag_boundary_matches_reference():
    """ADVICE r1: '</scripty>' shares the prefix of '</script' but must NOT
    end a <script> CDATA block — html.parser only exits CDATA at
    r'</\\s*script\\s*>'. Also: whitespace-padded close tags DO end it, and
    an unterminated rawtext block swallows the rest of the document."""
    from html_reference import collect_blocks_reference

    from pdf_extract_spark.kernels.html_extract import _collect_blocks

    cases = [
        # longer-name prefix: </scripty> is still CDATA, real close follows
        ("<p>first real paragraph with words</p><script>x = 1; "
         "</scripty> y = 2;</script><p>second real paragraph here</p>"),
        # whitespace inside the close tag is allowed by html.parser
        ("<p>alpha beta gamma delta epsilon</p><script>code()"
         "</ script ><p>zeta eta theta iota kappa</p>"),
        # style variant of the same prefix hazard
        ("<p>one two three four five six</p><style>.a{}</styled>.b{}"
         "</style><p>seven eight nine ten eleven</p>"),
        # unterminated script: remainder of the document is CDATA
        ("<p>kept paragraph with enough words</p><script>open("
         "<p>never seen paragraph content</p>"),
    ]
    for html in cases:
        assert _collect_blocks(html) == collect_blocks_reference(html), html


def _content_html(body: str) -> str:
    """A page whose <article> passes the block classifier."""
    para = ("word " * 30).strip()
    return (f"<html><head>{body}</head><body>"
            f"<article><p>{para} café résumé</p></article>"
            "</body></html>")


def test_charset_meta_cp1252():
    html = _content_html('<meta charset="iso-8859-1">')
    text, err = decode_html_bytes(html.encode("cp1252"))
    assert err is None and "café résumé" in text
    # http-equiv form and quoting variants
    html2 = _content_html(
        "<meta http-equiv='Content-Type' "
        "content='text/html; charset=latin1'>")
    text2, err2 = decode_html_bytes(html2.encode("cp1252"))
    assert err2 is None and "café" in text2


def test_charset_bom_variants():
    html = _content_html("")
    base, _ = decode_html_bytes(html.encode("utf-8"))
    t8, e8 = decode_html_bytes(b"\xef\xbb\xbf" + html.encode("utf-8"))
    assert e8 is None and t8 == base
    t16l, e16l = decode_html_bytes(html.encode("utf-16-le").join(
        [b"\xff\xfe", b""]))
    assert e16l is None and t16l == base
    t16b, e16b = decode_html_bytes(b"\xfe\xff" + html.encode("utf-16-be"))
    assert e16b is None and t16b == base


def test_charset_prescan_limits_and_fallbacks():
    # declaration beyond the 1024-byte prescan window is NOT honored
    far = ("<html><head>" + "<!-- pad -->" * 100
           + '<meta charset="iso-8859-1">').encode("ascii")
    payload = far + " café".encode("cp1252")
    assert decode_html_bytes(payload)[1] == "invalid_utf8"
    # meta inside a comment is skipped
    c = _content_html('<!-- <meta charset="utf-16"> -->')
    assert decode_html_bytes(c.encode("utf-8"))[1] is None
    # unknown label falls through to strict utf-8
    u = _content_html('<meta charset="klingon">')
    assert decode_html_bytes(u.encode("utf-8"))[1] is None
    # declared encoding the bytes do not conform to: its own quarantine
    lie = _content_html('<meta charset="utf-8">').encode("cp1252")
    assert decode_html_bytes(lie)[1] == "charset_mismatch"
    # WHATWG: meta-declared utf-16 means utf-8 bytes in practice
    m16 = _content_html('<meta charset="utf-16">')
    assert decode_html_bytes(m16.encode("utf-8"))[1] is None


def test_charset_undeclared_still_quarantines():
    # no BOM, no meta: non-UTF-8 bytes stay quarantined (no mojibake)
    payload = _content_html("").encode("cp1252")
    assert decode_html_bytes(payload)[1] == "invalid_utf8"


def test_charset_declared_legacy_but_valid_utf8_prefers_utf8():
    """declared-latin1-but-actually-UTF-8 (pervasive real-web
    misconfiguration): strict UTF-8 is tried FIRST, so 'café' survives
    instead of silently mojibaking to 'cafÃ©' through cp1252 (which
    decodes almost any byte sequence without error)."""
    html = _content_html('<meta charset="iso-8859-1">')
    text, err = decode_html_bytes(html.encode("utf-8"))
    assert err is None and "café résumé" in text
    assert "Ã©" not in text


def test_charset_unclosed_comment_hides_meta():
    """WHATWG prescan: an UNCLOSED comment consumes to the end of the
    window, so a meta inside it must not be honored (previously only
    closed comments were skipped and the big5 label leaked through)."""
    html = _content_html('<!-- <meta charset="big5">')
    text, err = decode_html_bytes(html.encode("utf-8"))
    assert err is None and "café résumé" in text
    # a meta AFTER a closed comment is still honored
    html2 = _content_html('<!-- x --><meta charset="iso-8859-1">')
    text2, err2 = decode_html_bytes(html2.encode("cp1252"))
    assert err2 is None and "café" in text2


def test_markdown_mode_same_blocks_different_rendering():
    """extract_main_markdown must keep the IDENTICAL block set as
    extract_main_text (shared classification) on every fixture page —
    per-block the markdown form is the text form plus at most one known
    prefix."""
    from pdf_extract_spark.fixtures.pages import make_payload
    from pdf_extract_spark.kernels.html_extract import (
        _MD_PREFIX, extract_main_markdown, extract_main_text)

    checked = 0
    for i in range(300):
        payload, _ = make_payload(i)
        if payload[:5] == b"%PDF-" or not payload:
            continue
        try:
            html = payload.decode("utf-8")
        except UnicodeDecodeError:
            continue
        txt = extract_main_text(html)
        md = extract_main_markdown(html)
        t_blocks = txt.split("\n\n") if txt else []
        # tight lists join adjacent li blocks with a single newline;
        # splitting every markdown paragraph on newlines recovers the
        # per-block line set the classifier produced
        m_blocks = ([ln for b in md.split("\n\n") for ln in b.split("\n")]
                    if md else [])
        assert len(t_blocks) == len(m_blocks), i
        prefixes = tuple(_MD_PREFIX.values())
        for tb, mb in zip(t_blocks, m_blocks):
            assert (mb == tb or mb == "\\" + tb
                    or any(mb == p + tb for p in prefixes)), i
        checked += 1
    assert checked > 200


def test_markdown_rendering_by_tag():
    from pdf_extract_spark.kernels.html_extract import extract_main_markdown

    body = ("<h3>Tiny Head</h3>"
            "<p>" + "eight solid words of content right here now " * 2
            + "</p>"
            "<ul><li>" + "a bullet with comfortably enough words in it "
            + "</li></ul>")
    md = extract_main_markdown(f"<html><body><article>{body}</article>"
                               "</body></html>")
    blocks = md.split("\n\n")
    assert blocks[0] == "### Tiny Head"        # heading rescue + level
    assert blocks[1].startswith("eight solid")  # plain paragraph
    assert blocks[2].startswith("- a bullet")   # list item


def test_markdown_tight_lists_and_structure_escape():
    """Adjacent <li> blocks render as ONE tight list (single-newline
    joins); a plain paragraph beginning with a structure marker is
    backslash-escaped so crawl content cannot forge structure."""
    from pdf_extract_spark.kernels.html_extract import extract_main_markdown

    filler = "comfortably enough plain words to pass the block gates "
    body = ("<ul>"
            f"<li>first bullet {filler}</li>"
            f"<li>second bullet {filler}</li>"
            "</ul>"
            f"<p>- {filler}{filler}</p>"
            f"<p># {filler}{filler}</p>"
            f"<p>&gt; {filler}{filler}</p>"
            f"<p>-no space so no escape {filler}</p>")
    md = extract_main_markdown(f"<html><body><article>{body}</article>"
                               "</body></html>")
    blocks = md.split("\n\n")
    assert blocks[0] == (f"- first bullet {filler}".strip()
                         + "\n" + f"- second bullet {filler}".strip())
    assert blocks[1].startswith("\\- ")
    assert blocks[2].startswith("\\# ")
    assert blocks[3].startswith("\\> ")
    assert blocks[4].startswith("-no space")


# -------------------------------------------------- PDF 1.5 structure

def _std_pages():
    return [pdf_writer.page_ops_simple(["Hello world", "second line"]),
            pdf_writer.page_ops_table(["a", "b"],
                                      [["1", "2"], ["3", "4"], ["5", "6"]]),
            pdf_writer.page_ops_simple(["third page"])]


def test_pdf15_structural_variants_byte_identical():
    """xref streams (raw + PNG-Up predictor), object streams, compressed
    contents, and reversed physical storage must all extract the SAME
    text as the classic-xref writer — structure never leaks into text."""
    base, err = extract_pdf_text(pdf_writer.build_pdf(_std_pages()))
    assert err is None
    for kw in [dict(), dict(compress=True), dict(xref_stream=True),
               dict(xref_stream=True, predictor=12), dict(objstm=True),
               dict(objstm=True, predictor=12, compress=True),
               dict(xref_stream=True, reverse_storage=True),
               dict(objstm=True, reverse_storage=True)]:
        t, e = extract_pdf_text(pdf_writer.build_pdf2(_std_pages(), **kw))
        assert e is None and t == base, (kw, e)


def test_pdf15_page_tree_order_beats_file_order():
    """With reversed physical storage the legacy scan path concatenates
    pages backwards — only the page-tree walk yields reading order.
    Proves the structured path is doing real work, not vestigial."""
    from pdf_extract_spark.kernels.pdf_extract import _extract_scan

    base, _ = extract_pdf_text(pdf_writer.build_pdf(_std_pages()))
    p = pdf_writer.build_pdf2(_std_pages(), xref_stream=True,
                              reverse_storage=True)
    assert extract_pdf_text(p)[0] == base
    scan_t, scan_e = _extract_scan(p)
    assert scan_e is None and scan_t != base


def test_pdf_tounicode_cmap_decodes_cid_text():
    """Type0 font with a ToUnicode CMap: 2-byte-code hex strings decode
    through bfchar, scalar bfrange (ASCII identity), and array bfrange
    (Greek capitals); an unmapped code becomes U+FFFD, never a crash."""
    pages_ops = [pdf_writer.page_ops_cid(["Hello Ω and δ", "ΑΒΓ end"])]
    t, e = extract_pdf_text(pdf_writer.build_pdf2(pages_ops, cid_font=True))
    assert e is None and t == "Hello Ω and δ\nΑΒΓ end"
    # unmapped code (0x3000 is outside every bf section)
    bad = [["BT", "/F2 12 Tf", "72 720 Td", "<30000041> Tj", "ET"]]
    t, e = extract_pdf_text(pdf_writer.build_pdf2(bad, cid_font=True))
    assert e is None and t == "�A"


def test_pdf_xref_prev_chain_incremental_update():
    """Incremental update: an appended body + xref section with /Prev
    must win for re-declared objects while older sections still resolve
    everything else (newest-section-wins discipline)."""
    base = pdf_writer.build_pdf([pdf_writer.page_ops_simple(["v1 text"])])
    # append a replacement content stream (object 4) + a new xref section
    new_stream = pdf_writer._content_stream(
        pdf_writer.page_ops_simple(["v2 text"]))
    old_xref_at = int(base.rsplit(b"startxref\n", 1)[1].split(b"\n")[0])
    out = bytearray(base)
    off4 = len(out)
    out += b"4 0 obj\n" + new_stream + b"\nendobj\n"
    xref_at = len(out)
    out += b"xref\n4 1\n" + f"{off4:010d} 00000 n \n".encode()
    out += (f"trailer\n<< /Size 6 /Root 1 0 R /Prev {old_xref_at} >>\n"
            f"startxref\n{xref_at}\n%%EOF\n").encode()
    t, e = extract_pdf_text(bytes(out))
    assert e is None and t == "v2 text"


def test_pdf_unsupported_vs_malformed_taxonomy():
    """Quarantine reasons split cleanly: unsupported_* for features the
    kernel declines (encryption, non-Flate filters), fallback-to-scan
    for malformed structure (bad startxref), bad_flate_stream for a
    corrupt body."""
    base_pages = _std_pages()
    base, _ = extract_pdf_text(pdf_writer.build_pdf(base_pages))

    enc = pdf_writer.build_pdf(base_pages).replace(
        b"/Root 1 0 R", b"/Root 1 0 R /Encrypt 9 0 R")
    assert extract_pdf_text(enc) == (None, "unsupported_encrypted_pdf")

    comp = pdf_writer.build_pdf2(base_pages, compress=True)
    dct = comp.replace(b"/Filter /FlateDecode", b"/Filter /DCTDecode  ")
    assert extract_pdf_text(dct) == (None, "unsupported_stream_filter")

    broken = pdf_writer.build_pdf2(base_pages, xref_stream=True).replace(
        b"startxref\n", b"startxref\n9")
    t, e = extract_pdf_text(broken)  # scan salvage still succeeds
    assert e is None and t == base
