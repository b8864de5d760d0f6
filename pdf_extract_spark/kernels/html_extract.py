"""Main-content extraction from HTML via DOM-block heuristics.

Brand-new implementation of the *capability* of the reference's text
extraction stage (reference: /root/reference/modules/tools.py:27-50 extracts
text from PDFs; the north rule generalizes this to Common-Crawl-style HTML
pages with boilerplate stripping).  Strategy is the classical
text-density / link-density block classification (public knowledge:
Kohlschuetter et al., "Boilerplate Detection Using Shallow Text Features",
WSDM 2010), implemented from scratch as a regex tokenizer that follows
stdlib ``html.parser``'s grammar (checked against an HTMLParser-based
collector in the tests).

Pure function of the input bytes — no wall clock, no randomness, no
environment reads — so the single-node run of this module IS the golden
oracle for the distributed pipeline (byte-identical text per url).
"""

from __future__ import annotations

import re
from html import unescape as _unescape

# Tags whose entire subtree is boilerplate by construction.
_DROP_SUBTREE = frozenset(
    {"script", "style", "noscript", "nav", "header", "footer", "aside",
     "form", "iframe", "svg", "template", "button", "select", "option"}
)

# Tags that open a new text block (block-level elements).
_BLOCK_TAGS = frozenset(
    {"p", "div", "article", "section", "main", "li", "td", "th", "tr",
     "h1", "h2", "h3", "h4", "h5", "h6", "blockquote", "pre", "table",
     "ul", "ol", "dl", "dd", "dt", "figure", "figcaption", "body"}
)

# Heuristic thresholds (fixed constants of the kernel's spec).
MAX_LINK_DENSITY = 0.35   # blocks with >35% of chars inside <a> are boilerplate
MIN_BLOCK_CHARS = 25      # shorter blocks are dropped unless headline-like
MIN_WORDS = 4


_HEADINGS = frozenset({"h1", "h2", "h3", "h4", "h5", "h6"})

# --- fast tokenizer -------------------------------------------------------
# stdlib html.parser spends ~90% of kernel time in its char-by-char
# goahead/parse_starttag loop (profiled: 4.4s of 4.9s per 3k docs). This
# regex tokenizer implements the same block semantics; the HTMLParser-based
# collector in tests/html_reference.py is its semantics cross-check,
# asserted equal over the fixture corpus and seeded tag soup in pytest.
# The scanning happens in the regex engine: one token regex anchored on
# '<', and one match over everything a dropped subtree ignores, so the
# Python loop below sees no token inside a dropped subtree.
# Spec notes (documented divergences from html.parser, acceptable for this
# kernel's spec): (1) a literal '>' inside a quoted attribute value
# terminates the tag early; (2) a NUL byte inside a tag is out of domain —
# html.parser splits the tag into irregular data pieces at the NUL, while
# WHATWG treats NULs as parse errors to replace; decode_html_bytes strips
# them BEFORE tokenizing, so both collectors see NUL-free input and the
# divergence is unreachable through the pipeline; (3) an unterminated
# '<![' marked section ends at its first '>' like any '<!' declaration,
# while html.parser keeps it as text: '<p>aa</p><![CDATA[x > y <b>z</b>'
# ends in the block 'y z' here and '<![CDATA[x > y z' there, and
# '<![if x> tail words' diverges the same way.

# A tag opens only when '<' (or '</') is immediately followed by a letter —
# matching html.parser, which leaves '3 < y' prose as text. An unterminated
# '<!--' (no '-->') matches to end-of-input and is re-emitted as text data,
# again matching html.parser's end-of-feed behavior.
# Tag-name grammars copied from html.parser exactly: START names are
# tagfind_tolerant's ([a-zA-Z][^\t\n\r\f />\x00]*) — '<p.x>' is ONE tag
# named 'p.x', not 'p' with junk; END names are endtagfind's narrower
# ([a-zA-Z][-.a-zA-Z0-9:_]*) with optional whitespace on either side, OR
# (when followed by junk before '>') the tolerant start-name grammar with
# the junk consumed and ignored ('</p attr>' closes p). Any other
# '</...>' is parse_bogus_comment: consumed, emits nothing ('</>',
# '</ >', '</3>', '</ x junk>').
# Every alternative starts with '<', factored out so the regex engine can
# jump between '<'s instead of trying each alternative at every character.
# Groups: 1 unterminated comment; 2/3 start-tag name/attrs; 4 end-tag
# name; 5 tolerant end-tag name. A comment, declaration, PI or bogus end
# tag matches no group.
_TOKEN_RE = re.compile(
    r"<(?:!--.*?-->"
    r"|(!--.*)"
    r"|!\[CDATA\[.*?\]\]>"
    r"|![^>]*>"
    r"|\?[^>]*>"
    r"|([a-zA-Z][^\t\n\r\f />\x00]*)([^>]*)>"
    r"|/(?:\s*([a-zA-Z][-.a-zA-Z0-9:_]*)\s*>"
    r"|([a-zA-Z][^\t\n\r\f />\x00]*)[^>]*>"
    r"|[^>]*>))",
    re.DOTALL,
)

# Inside a dropped subtree only drop-tag opens and closes change state, so
# one match consumes every token the drop state ignores, each with exactly
# _TOKEN_RE's extent: text, '<' that starts no token, comments,
# declarations, PIs and start/end tags whose name does not begin with a
# drop-tag name (case-insensitively, so '<NAV>', '</ nav>' and '<navx>'
# stop it). It also stops before an unterminated '<!--'. Stopping early
# only costs the caller one token of its loop.
# The lookahead on the first letter lets most tokens fail the name test
# without trying each name.
_DROP_NAME = "(?ai:(?=[%s])(?:%s))" % (
    "".join(sorted({t[0] for t in _DROP_SUBTREE})),
    "|".join(sorted(_DROP_SUBTREE)))
_DROP_SKIP = re.compile(
    r"(?:[^<]*+<(?:(?!/?\s*" + _DROP_NAME + r")[a-zA-Z/][^>]*>"
    r"|!--.*?-->"
    r"|!\[CDATA\[.*?\]\]>"
    r"|!(?!--)[^>]*>"
    r"|\?[^>]*>"
    r"|(?!!--|[!?a-zA-Z/][^>]*>)"
    r"))*+[^<]*+",
    re.DOTALL,
)


# html.parser's start-tag grammar after the name: whitespace and '/'s not
# before '>' (the tail of tagfind_tolerant), then one attrfind_tolerant
# match per attribute.
_ATTRS_LEAD = re.compile(r"(?:\s|/(?!>))*")
_ATTR = re.compile(
    r"""(?<=['"\s/])[^\s/>][^\s/=>]*"""
    r"""(?:\s*=+\s*(?:'[^']*'|"[^"]*"|(?!['"])[^>\s]*))?(?:\s|/(?!>))*""")


def _is_selfclose(attrs: str) -> bool:
    """Whether a start tag with this attribute region self-closes, decided
    as html.parser decides it: its attribute grammar must leave exactly
    '/>'. An unquoted value takes a trailing '/' (<a href=http://x/> opens
    a link); a quoted value or a valueless name stops before it (<iframe
    allowfullscreen/> and <svg class=i aria-hidden/> close themselves)."""
    if not attrs.rstrip().endswith("/"):
        return False
    s = attrs + ">"
    k = _ATTRS_LEAD.match(s).end()
    while k < len(attrs):
        m = _ATTR.match(s, k)
        if m is None:
            break
        k = m.end()
    return s[k:].strip() == "/>"


_RAWTEXT = frozenset({"script", "style"})
# Exact CDATA-exit pattern html.parser uses (set_cdata_mode): the close
# tag may carry whitespace but nothing else, and name match is exact.
_RAWTEXT_END = {t: re.compile(r"</\s*%s\s*>" % t, re.IGNORECASE)
                for t in _RAWTEXT}

# What a lowercased tag name does to the collector's state.
_BLOCK, _DROP, _RAW, _A, _BR = 1, 2, 3, 4, 5
_KIND = {**dict.fromkeys(_BLOCK_TAGS, _BLOCK),
         **dict.fromkeys(_DROP_SUBTREE, _DROP),
         **dict.fromkeys(_RAWTEXT, _RAW), "a": _A, "br": _BR}


def _collect_blocks(html: str) -> list[tuple[str, int, int, str]]:
    """(text, total_chars, linked_chars, tag) blocks — fast tokenizer."""
    blocks: list[tuple[str, int, int, str]] = []
    parts: list[str] = []
    linked = 0  # 0 whenever parts is empty
    drop_depth = 0
    a_depth = 0
    block_tag = "body"

    def flush() -> None:
        nonlocal parts, linked
        text = " ".join("".join(parts).split())
        if text:
            blocks.append((text, len(text), linked, block_tag))
        parts = []
        linked = 0

    finditer = _TOKEN_RE.finditer
    skip = _DROP_SKIP.match
    kinds = _KIND.get
    n = len(html)
    # Every token but an unterminated comment ends in '>', and an
    # unterminated comment after the last '>' is text like the rest of the
    # tail. So scanning stops at the last '>': a run of '<x' openings with
    # no '>' after them costs one pass instead of one pass each.
    stop = html.rfind(">") + 1
    pos = 0
    # The token loop restarts (break) after every jump it makes: past raw
    # text, past an unterminated comment, and — after every token that
    # leaves drop_depth non-zero — past all the drop state ignores.
    while True:
        if drop_depth and pos < stop:
            pos = skip(html, pos, stop).end()
        for m in finditer(html, pos, stop):
            start, end = m.span()
            if start > pos and not drop_depth:
                data = html[pos:start]
                if "&" in data:
                    data = _unescape(data)
                parts.append(data)
                if a_depth:
                    linked += len("".join(data.split()))
            pos = end
            k = m.lastindex
            if k is None:  # comment, declaration, PI, bogus end tag
                if drop_depth:
                    break
                continue
            if k == 1:
                # unterminated comment: html.parser (goahead, end=1) emits
                # data up to AND INCLUDING the next '>' (else next '<', else
                # one char), then resumes normal parsing — mirror that
                pos = html.find(">", start + 1) + 1
                if not pos:
                    pos = html.find("<", start + 1)
                    if pos < 0:
                        pos = start + 1
                if not drop_depth:
                    data = html[start:pos]
                    if "&" in data:
                        data = _unescape(data)
                    parts.append(data)
                    if a_depth:
                        linked += len("".join(data.split()))
                break
            if k == 3:  # start tag
                tag = m[2].lower()
                kind = kinds(tag)
                attrs = m[3]
                if attrs and _is_selfclose(attrs):
                    # XHTML self-closing: the reference collector's
                    # handle_startendtag only reacts to <br/>
                    if drop_depth:
                        break
                    if kind == _BR:
                        parts.append(" ")
                    continue
                if kind == _RAW:
                    # Skip raw content up to the matching close tag.
                    # html.parser's CDATA mode only exits at
                    # r'</\s*<tag>\s*>' (set_cdata_mode): a longer tag name
                    # sharing the prefix (</scripty>) is DATA. At EOF with
                    # no close tag the rest of the doc is CDATA (dropped).
                    m2 = _RAWTEXT_END[tag].search(html, pos)
                    pos = n if m2 is None else m2.end()
                    if parts:
                        flush()
                    break
                if kind == _DROP:
                    if parts:
                        flush()
                    drop_depth += 1
                    break
                if drop_depth:
                    break
                if kind == _BLOCK:
                    if parts:
                        flush()
                    block_tag = tag
                elif kind == _A:
                    a_depth += 1
                elif kind == _BR:
                    parts.append(" ")
                continue
            kind = kinds(m[k].lower())  # end tag
            if kind == _DROP or kind == _RAW:
                if drop_depth:
                    drop_depth -= 1
                    if drop_depth:
                        break
                continue
            if drop_depth:
                break
            if kind == _BLOCK:
                if parts:
                    flush()
                block_tag = "body"
            elif kind == _A and a_depth:
                a_depth -= 1
        else:
            if pos < n and not drop_depth:
                data = html[pos:]
                if "&" in data:
                    data = _unescape(data)
                parts.append(data)
                if a_depth:
                    linked += len("".join(data.split()))
            break
    if parts:
        flush()
    return blocks


def _kept_blocks(html: str) -> list[tuple[str, str]]:
    """The shared classification behind BOTH output renderers: [(text,
    tag)] of content blocks in document order. Drop if link density >
    MAX_LINK_DENSITY or the block is too short to be content — unless it
    is a heading adjacent to a kept content block, kept for structure.
    extract_main_text and extract_main_markdown render the IDENTICAL
    block set (invariant test-gated), so switching output formats can
    never change what content survives."""
    blocks = _collect_blocks(html)
    kept_flags = []
    for text, total, linked, tag in blocks:
        # block text is single-space-normalized and non-empty by flush()
        # construction, so word count and whitespace-stripped length fall
        # out of one count() instead of two split() allocations per block
        n_spaces = text.count(" ")
        stripped_len = len(text) - n_spaces
        density = (linked / stripped_len) if stripped_len else 1.0
        is_content = (
            density <= MAX_LINK_DENSITY
            and total >= MIN_BLOCK_CHARS
            and n_spaces + 1 >= MIN_WORDS
        )
        kept_flags.append(is_content)

    # second pass: keep short headings that introduce kept content
    out: list[tuple[str, str]] = []
    for i, (text, total, linked, tag) in enumerate(blocks):
        if kept_flags[i]:
            out.append((text, tag))
        elif tag in _HEADINGS and linked == 0:
            # keep a heading that introduces kept content (blocks are never
            # empty — flush() drops blanks — so "next" is simply i+1)
            if i + 1 < len(blocks) and kept_flags[i + 1]:
                out.append((text, tag))
    return out


def extract_main_text(html: str) -> str:
    """Strip boilerplate, return main content joined by blank lines (the
    byte-identical north-rule surface; see _kept_blocks)."""
    return "\n\n".join(t for t, _ in _kept_blocks(html)).strip()


_MD_PREFIX = {"h1": "# ", "h2": "## ", "h3": "### ", "h4": "#### ",
              "h5": "##### ", "h6": "###### ", "li": "- ",
              "blockquote": "> "}

# a PLAIN paragraph starting with one of the renderer's own structure
# markers would be indistinguishable from generated structure — escape it
_MD_INJECT_RE = re.compile(r"^(#{1,6} |- |> )")


def extract_main_markdown(html: str) -> str:
    """Structure-preserving variant of extract_main_text: the SAME kept
    blocks (shared classification — format choice can never change the
    surviving content), rendered as markdown — headings to #-prefixes by
    level, list items to '- ', blockquotes to '> '; everything else is a
    plain paragraph. Inline whitespace is already single-space-normalized
    by the collector, so each block is exactly one markdown line.

    Two injection/rendering rules keep the surface faithful markdown:
    a plain paragraph whose crawl content BEGINS with one of the
    renderer's own markers ('# '..'###### ', '- ', '> ') gets a leading
    backslash (CommonMark escape) so content can never forge structure;
    and CONSECUTIVE <li> blocks are joined by a single newline (one tight
    list), not the blank line that would render them as separate loose
    lists. Classification is untouched by both — splitting markdown on
    newlines recovers the exact extract_main_text block set."""
    out: list[tuple[str, str]] = []
    for t, tag in _kept_blocks(html):
        if tag in _MD_PREFIX:
            line = _MD_PREFIX[tag] + t
        else:
            line = _MD_INJECT_RE.sub(lambda m: "\\" + m.group(0), t)
        if tag == "li" and out and out[-1][1] == "li":
            out[-1] = (out[-1][0] + "\n" + line, "li")
        else:
            out.append((line, tag))
    return "\n\n".join(s for s, _ in out).strip()


# --- charset sniffing (WHATWG encoding-sniffing, simplified) ---------------
# Real Common-Crawl HTML is ~5-10% non-UTF-8. We honor DECLARED encodings:
# a byte-order mark, or a <meta charset=...> / <meta http-equiv=content-type>
# inside the first 1024 bytes (the WHATWG prescan window). Undeclared
# non-UTF-8 still quarantines as invalid_utf8 — a deliberate divergence from
# WHATWG's default-to-windows-1252: for training data, silently mojibaked
# text is worse than a quarantined row, and the quarantine table keeps the
# payload recoverable. Deterministic: pure function of the bytes.
#
# Label table per the WHATWG Encoding standard's label->encoding mapping for
# the cases that dominate crawls; notably latin1/iso-8859-1/ascii are all
# LABELS FOR windows-1252 (cp1252), and a meta-declared utf-16 is decoded as
# utf-8 (spec: a document with an in-band ASCII meta tag cannot really be
# utf-16; the spec maps it to utf-8).
_CHARSET_LABELS = {
    "utf-8": "utf-8", "utf8": "utf-8", "unicode-1-1-utf-8": "utf-8",
    "windows-1252": "cp1252", "cp1252": "cp1252", "x-cp1252": "cp1252",
    "iso-8859-1": "cp1252", "iso8859-1": "cp1252", "latin1": "cp1252",
    "latin-1": "cp1252", "l1": "cp1252", "ascii": "cp1252",
    "us-ascii": "cp1252", "iso-8859-15": "iso-8859-15",
    "windows-1251": "cp1251", "koi8-r": "koi8-r",
    "shift_jis": "shift_jis", "shift-jis": "shift_jis", "sjis": "shift_jis",
    "euc-jp": "euc_jp", "gbk": "gbk", "gb2312": "gbk", "gb18030": "gb18030",
    "big5": "big5", "euc-kr": "euc_kr",
    "utf-16": "utf-8", "utf-16le": "utf-8", "utf-16be": "utf-8",
}

# prescan regexes run on a latin-1 "lens" of the first 1024 bytes (every
# byte maps to one char, so byte offsets == char offsets and ASCII tag
# syntax is visible regardless of the document's actual encoding)
_META_RE = re.compile(r"<meta\s[^>]*>", re.IGNORECASE | re.DOTALL)
# WHATWG prescan comment handling: an OPENED comment consumes to its
# "-->" or, if unclosed, to the END of the window (the spec skips to EOF)
# — a '<meta charset=..>' inside either span must be invisible. The
# previous single-regex alternation only matched CLOSED comments, so an
# unclosed '<!-- <meta charset=big5>' leaked its meta into the scan.
_COMMENT_RE = re.compile(r"<!--.*?(?:-->|$)", re.DOTALL)
_CHARSET_ATTR_RE = re.compile(
    r"""charset\s*=\s*["']?\s*([a-zA-Z0-9._:-]+)""", re.IGNORECASE)


def sniff_encoding(payload: bytes) -> tuple[str | None, bool]:
    """(python_codec | None, bom_found). BOM wins over meta; meta charset
    is taken from the first <meta> in the first 1024 bytes that carries a
    recognized label (comments skipped). None = no declaration found."""
    if payload[:3] == b"\xef\xbb\xbf":
        return "utf-8-sig", True
    if payload[:2] == b"\xff\xfe":
        return "utf-16-le", True
    if payload[:2] == b"\xfe\xff":
        return "utf-16-be", True
    # replace each comment with ONE SPACE, never the empty string: an
    # empty-string splice concatenates the surrounding bytes and can
    # FABRICATE a tag no sequential WHATWG prescan would ever see
    # ('<met<!-- -->a charset=big5>' -> '<meta charset=big5>', honoring
    # a bogus legacy label). A space keeps the flanks apart.
    head = _COMMENT_RE.sub(" ", payload[:1024].decode("latin-1"))
    for m in _META_RE.finditer(head):
        tok = m.group(0)
        c = _CHARSET_ATTR_RE.search(tok)
        if c:
            codec = _CHARSET_LABELS.get(c.group(1).lower())
            if codec:
                return codec, False
    return None, False


def decode_html_bytes(payload: bytes) -> tuple[str | None, str | None]:
    """(text, error) from raw HTML bytes. BOMs are byte-level evidence and
    win outright. A meta-declared LEGACY charset is honored only after
    strict UTF-8 fails: declared-latin1-but-actually-UTF-8 is a pervasive
    real-web misconfiguration, and legacy single-byte codecs almost never
    reject bytes, so decoding them first would turn those pages into
    silent mojibake — the exact failure the module's priority statement
    forbids (quarantine beats corrupt text). Undeclared non-UTF-8 and
    declared-but-unfaithful payloads quarantine."""
    if not payload:
        return None, "empty_payload"
    codec, bom = sniff_encoding(payload)
    if bom:
        if codec.startswith("utf-16"):
            payload = payload[2:]  # strip the BOM the codec would echo
        try:
            html = payload.decode(codec)
        except (UnicodeDecodeError, LookupError):
            return None, "charset_mismatch"
    elif codec is not None:
        try:
            html = payload.decode("utf-8")
        except UnicodeDecodeError:
            try:
                html = payload.decode(codec)
            except (UnicodeDecodeError, LookupError):
                # declaration present but neither UTF-8 nor the declared
                # codec fits: quarantine under its own error so
                # crawl-side lies are auditable
                return None, "charset_mismatch"
    else:
        try:
            html = payload.decode("utf-8")
        except UnicodeDecodeError:
            return None, "invalid_utf8"
    if "\x00" in html:
        # WHATWG: NULs in markup are parse errors (replaced); html.parser
        # handles them irregularly mid-tag — normalize them away so both
        # the fast tokenizer and the reference collector see the same doc
        html = html.replace("\x00", "")
    text = extract_main_text(html)
    if not text:
        return None, "no_main_content"
    return text, None
