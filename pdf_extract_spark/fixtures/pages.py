"""Deterministic synthesizer of the `pages` input table (FIXTURES.md §1).

Shape per BASELINE.json:15: (url string, warc_ts timestamp, html binary,
text string, lang string). ~85% HTML with boilerplate, ~10% minimal PDFs,
~5% adversarial (empty / truncated PDF / non-UTF8 / oversized long tail).
All choices are pure functions of the row index through FNV hashing —
no wall clock, no global RNG, stable under any generation order.
"""

from __future__ import annotations

import datetime as dt

from ..kernels.embed import fnv1a64
from . import pdf_writer

_LANGS = [("en", 40), ("fr", 16), ("es", 16), ("zh", 14), ("de", 14)]

_WORDS = (
    "data spark engine query table column partition shuffle join filter "
    "aggregate window stream batch vector index search rank score text page "
    "document extract chunk embed entity summary report lineage resume salt "
    "skew broadcast codegen arrow parquet iceberg catalog schema plan "
    "the and of to in for with on that is are was from it this"
).split()

_FR = "le traitement des données distribuées avec une grande précision et des résultats fiables pour chaque document analysé".split()
_ES = "el procesamiento de datos distribuidos con gran precisión y resultados confiables para cada documento analizado".split()
_DE = "die verarbeitung verteilter daten mit großer genauigkeit und zuverlässigen ergebnissen für jedes analysierte dokument".split()
_ZH = list("分布式数据处理引擎提供高精度和可靠的结果用于每个文档分析")


def _h(i: int, salt: str) -> int:
    return fnv1a64(f"{salt}:{i}".encode())


def _hs(salt: str, *parts: int) -> int:
    """Collision-free multi-index hash: ':'-joined encoding, so
    (i, j) and (i', j') can never alias the way arithmetic mixes like
    i*10_000 + j*100 + k did across neighboring documents."""
    return fnv1a64((salt + ":" + ":".join(map(str, parts))).encode())


def _lang_for(i: int) -> str:
    r = _h(i, "lang") % 100
    acc = 0
    for lang, w in _LANGS:
        acc += w
        if r < acc:
            return lang
    return "en"


def _sentence(i: int, j: int, lang: str) -> str:
    pool = {"fr": _FR, "es": _ES, "de": _DE, "zh": _ZH}.get(lang, _WORDS)
    n = 8 + _hs("slen", i, j) % 10
    words = [pool[_hs("w", i, j, k) % len(pool)] for k in range(n)]
    if lang == "zh":
        return "".join(words) + "。"
    return " ".join(words).capitalize() + "."


def _paragraph(i: int, p: int, lang: str, n_sents: int) -> str:
    return " ".join(_sentence(i, p * 1000 + s, lang) for s in range(n_sents))


def make_html(i: int, lang: str, oversized: bool = False) -> bytes:
    """Boilerplate-heavy page: nav/header/footer/sidebar of high link density
    plus one low-link-density <article> of paragraphs (the golden content)."""
    nav = "".join(
        f'<a href="/s{k}">section {k} link</a> ' for k in range(8)
    )
    ads = "".join(
        f'<div class="ad"><a href="/buy{k}">buy now {k}</a></div>' for k in range(5)
    )
    n_paras = (3 + _h(i, "np") % 5) * (12 if oversized else 1)
    paras = "".join(
        f"<p>{_paragraph(i, p, lang, 3 + _hs('ns', i, p) % 4)}</p>"
        for p in range(n_paras)
    )
    sidebar = "".join(f'<li><a href="/rel{k}">related item {k}</a></li>' for k in range(10))
    html = (
        "<!DOCTYPE html><html><head><title>doc</title>"
        "<script>var x=1;</script><style>.a{color:red}</style></head><body>"
        f"<header><h1>Site {i % 20}</h1><nav>{nav}</nav></header>"
        f'<aside><ul>{sidebar}</ul></aside>{ads}'
        f"<article><h2>Document {i:08d}</h2>{paras}</article>"
        f"<footer><a href='/tos'>terms</a> <a href='/priv'>privacy</a> copyright</footer>"
        "</body></html>"
    )
    return html.encode("utf-8")


FIXTURE_VERSION = 4  # bump when payload synthesis changes (bench caches key on it)

_ENC_MODES = ("rc4-40", "rc4-128", "aesv2", "aesv3")
_FILTER_ROTATION = (["/LZWDecode"], ["/ASCII85Decode", "/FlateDecode"],
                    ["/RunLengthDecode", "/FlateDecode"],
                    ["/ASCIIHexDecode"])


def make_pdf(i: int, lang: str) -> bytes:
    """Rotate through page shapes AND wild document features so every
    kernel path is exercised at pipeline level, not just in unit
    goldens: layout kinds 0-4 (classic assembler, as before), then
    5 encrypted (all four standard-security-handler shapes),
    6 simple-font /Encoding with accented text (+/Differences),
    7 /Form XObjects placed via cm or /Matrix with inherited resources,
    8 modern structure (xref stream + ObjStm + reversed storage) under
    rotating §7.4 filter chains. Every other classic PDF is
    FlateDecode-compressed."""
    kind = _h(i, "pdfkind") % 9
    compress = _h(i, "pdfz") % 2 == 0
    lines1 = [_sentence(i, j, "en") for j in range(6)]
    if kind == 0:
        pages = [pdf_writer.page_ops_simple(lines1),
                 pdf_writer.page_ops_simple([_sentence(i, 10 + j, "en") for j in range(4)])]
    elif kind == 1:
        rows = [[f"alpha{i%7}", "beta", "gamma", f"delta{j}"] for j in range(3)]
        pages = [pdf_writer.page_ops_words(rows)]
    elif kind == 2:
        left = [f"left column line {j} idx{i%9}" for j in range(4)]
        right = [f"right column line {j}" for j in range(4)]
        pages = [pdf_writer.page_ops_two_column(left, right)]
    elif kind == 3:
        header = ["name", "count", "score"]
        rows = [[f"row{j}", str(10 * j + i % 10), f"{(j + 1)}.5"] for j in range(4)]
        pages = [pdf_writer.page_ops_table(header, rows),
                 pdf_writer.page_ops_tj_array([["kerned", -800, "words", -900, "here"]])]
    elif kind == 4:
        pages = [pdf_writer.page_ops_quote_hex(
            [_sentence(i, 20 + j, "en") for j in range(5)])]
    elif kind == 5:
        mode = _ENC_MODES[_h(i, "encmode") % len(_ENC_MODES)]
        return pdf_writer.build_pdf2(
            [pdf_writer.page_ops_simple(lines1)], encrypt=mode,
            compress=compress)
    elif kind == 6:
        base = ("WinAnsiEncoding", "MacRomanEncoding")[_h(i, "encb") % 2]
        diffs = [200, "eacute", "uni2014"] if _h(i, "encd") % 2 else None
        elines = [_sentence(i, 30 + j, ("fr", "de")[_h(i, "encl") % 2])
                  for j in range(5)]
        return pdf_writer.build_pdf2(
            [pdf_writer.page_ops_simple_enc(elines, base, diffs)],
            simple_enc=(base, diffs), compress=compress)
    elif kind == 7:
        fs, lead, left, top = (pdf_writer.FONT_SIZE, pdf_writer.LEADING,
                               pdf_writer.LEFT, pdf_writer.TOP)
        form_ops = ["BT", f"/F1 {fs} Tf", "0 0 Td",
                    f"({_sentence(i, 40, 'en')}) Tj", "ET"]
        body = ["BT", f"/F1 {fs} Tf", f"{left} {top} Td",
                f"({_sentence(i, 41, 'en')}) Tj", "ET"]
        y = top - lead
        if _h(i, "formp") % 2:
            body += ["q", f"1 0 0 1 {left} {y} cm", "/Fm1 Do", "Q"]
            forms = {"Fm1": (form_ops, None, True)}
        else:
            body += ["/Fm1 Do"]
            forms = {"Fm1": (form_ops, (1, 0, 0, 1, left, y), False)}
        return pdf_writer.build_pdf2([body], forms=forms,
                                     inherit_resources=True)
    else:
        filters = _FILTER_ROTATION[_h(i, "filt") % len(_FILTER_ROTATION)]
        return pdf_writer.build_pdf2(
            [pdf_writer.page_ops_simple(lines1)], filters=filters,
            xref_stream=True, objstm=True,
            reverse_storage=_h(i, "rev") % 2 == 0)
    return pdf_writer.build_pdf(pages, compress=compress)


def make_payload(i: int) -> tuple[bytes, str]:
    """(payload, lang) for row i per the FIXTURES.md mix."""
    lang = _lang_for(i)
    r = _h(i, "mix") % 100
    if r < 85:
        oversized = _h(i, "big") % 1000 == 0  # long-tail 0.1% oversized
        return make_html(i, lang, oversized=oversized), lang
    if r < 95:
        return make_pdf(i, lang), lang
    adv = _h(i, "adv") % 5
    if adv == 0:
        return b"", lang
    if adv == 1:
        return b"%PDF-1.4\nbroken", lang           # truncated: no %%EOF
    if adv == 2:
        return b"<html><body>\xff\xfe bad bytes</body></html>", lang
    if adv == 3:
        # genuinely password-protected: quarantines typed, never decodes
        return pdf_writer.build_pdf2(
            [pdf_writer.page_ops_simple(["locked content"])],
            encrypt="rc4-128", encrypt_user_pw=b"not-empty"), lang
    return make_html(i, lang, oversized=True), lang  # oversized tail


_EPOCH = dt.datetime(2024, 1, 1, tzinfo=dt.timezone.utc)


def make_rows_at(ids) -> list[tuple]:
    """Rows (url, warc_ts, html, text, lang) for an arbitrary iterable of
    row indices (the synthpages connector's filter pushdown generates
    non-contiguous index sets)."""
    rows = []
    for i in ids:
        payload, lang = make_payload(i)
        rows.append((
            f"https://src{i % 20}.example.com/doc/{i:08d}",
            _EPOCH + dt.timedelta(seconds=37 * i),
            payload,
            None,
            lang,
        ))
    return rows


def make_rows(n: int, start: int = 0) -> list[tuple]:
    """Rows for the contiguous index range [start, start+n)."""
    return make_rows_at(range(start, start + n))


PAGES_SCHEMA = "url string, warc_ts timestamp, html binary, text string, lang string"
