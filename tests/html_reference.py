"""HTMLParser-based block collector: the semantics cross-check for the
regex tokenizer in `pdf_extract_spark.kernels.html_extract`.

`collect_blocks_reference` returns the same (text, total_chars,
linked_chars, tag) blocks `_collect_blocks` returns, built on stdlib
`html.parser` events instead of a token regex. The tests assert the two
agree on the fixture corpus and on seeded tag soup, outside the
divergences documented in `html_extract`.
"""

from __future__ import annotations

from html.parser import HTMLParser

from pdf_extract_spark.kernels.html_extract import _BLOCK_TAGS, _DROP_SUBTREE


class BlockCollector(HTMLParser):
    """Tokenize HTML into text blocks with per-block link-char counts."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[tuple[str, int, int, str]] = []  # (text, total, linked, tag)
        self._drop_depth = 0
        self._a_depth = 0
        self._parts: list[str] = []
        self._linked = 0
        self._block_tag = "body"

    def _flush(self) -> None:
        raw = "".join(self._parts)
        text = " ".join(raw.split())
        if text:
            self.blocks.append((text, len(text), self._linked, self._block_tag))
        self._parts = []
        self._linked = 0

    def handle_starttag(self, tag: str, attrs) -> None:
        if tag in _DROP_SUBTREE:
            self._flush()
            self._drop_depth += 1
            return
        if self._drop_depth:
            return
        if tag == "a":
            self._a_depth += 1
        if tag in _BLOCK_TAGS:
            self._flush()
            self._block_tag = tag
        elif tag == "br":
            self._parts.append(" ")

    def handle_startendtag(self, tag: str, attrs) -> None:
        if tag == "br" and not self._drop_depth:
            self._parts.append(" ")

    def handle_endtag(self, tag: str) -> None:
        if tag in _DROP_SUBTREE:
            if self._drop_depth:
                self._drop_depth -= 1
            return
        if self._drop_depth:
            return
        if tag == "a" and self._a_depth:
            self._a_depth -= 1
        if tag in _BLOCK_TAGS:
            self._flush()
            self._block_tag = "body"

    def handle_data(self, data: str) -> None:
        if self._drop_depth or not data:
            return
        self._parts.append(data)
        if self._a_depth:
            self._linked += len("".join(data.split()))

    def close(self) -> None:  # flush trailing text
        super().close()
        self._flush()


def collect_blocks_reference(html: str) -> list[tuple[str, int, int, str]]:
    """The blocks of `html` as the HTMLParser-based collector sees them."""
    parser = BlockCollector()
    try:
        parser.feed(html)
        parser.close()
    except Exception:
        parser._flush()
    return parser.blocks
