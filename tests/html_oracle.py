"""The differential oracle for the production HTML lexer.

``BlockParser`` drives the block model with the stdlib ``html.parser``
tokenizer and the plainest form of every rule: one handler per token
kind, frozenset membership tests, a fresh ``Block`` per flush and the
NFC + regex whitespace collapse (``collapse``).  It is deliberately slow
and obvious.  ``ocr_spark.extractor.core._FastBlockParser`` must produce
the same block stream on every input the stdlib tokenizer accepts
(tests/test_core_html.py::test_fast_parser_matches_stdlib*).
"""

from __future__ import annotations

import re
import unicodedata
from dataclasses import dataclass, field
from html.parser import HTMLParser

from ocr_spark.extractor.core import (
    _BLOCK_TAGS,
    _BOILERPLATE_ANCESTORS,
    _CONTENT_ANCESTORS,
    _IGNORE_SUBTREE,
    _VOID_TAGS,
)

_WS_RE = re.compile("[\\s\u200b\u200c\ufeff]+")  # \\s (Unicode) + zero-width chars


def collapse(s: str) -> str:
    """The normalization policy: NFC-normalize, collapse all whitespace
    runs (incl. NBSP/ZWSP) to a single ASCII space, strip ends."""
    return _WS_RE.sub(" ", unicodedata.normalize("NFC", s)).strip()


@dataclass
class Block:
    kind: str = "p"
    chunks: list = field(default_factory=list)       # text chunks
    anchor_chars: int = 0                            # non-ws chars inside <a>
    total_chars: int = 0                             # non-ws chars total
    start: int = -1                                  # char offset of first chunk
    end: int = -1                                    # char offset past last chunk
    in_content_ancestor: bool = False
    in_boiler_ancestor: bool = False
    _text: str | None = None

    def text(self) -> str:
        # memoized: called from both the flush check and the caller
        if self._text is None:
            self._text = collapse("".join(self.chunks))
        return self._text


class BlockParser(HTMLParser):
    """Streams the DOM into a flat sequence of text blocks with link /
    char statistics and char-offset spans into the decoded document."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[Block] = []
        self._cur = Block()
        self._stack: list[str] = []
        self._ignore_depth = 0
        self._anchor_depth = 0
        self._content_depth = 0
        self._boiler_depth = 0
        self._line_starts: list[int] = [0]

    # -- offset bookkeeping ------------------------------------------------
    def feed(self, data: str) -> None:  # type: ignore[override]
        # Precompute char offset of each line start so getpos() -> offset.
        starts = [0]
        for m in re.finditer("\n", data):
            starts.append(m.end())
        self._line_starts = starts
        super().feed(data)
        self.close()

    def _offset(self) -> int:
        line, col = self.getpos()
        if line - 1 < len(self._line_starts):
            return self._line_starts[line - 1] + col
        return self._line_starts[-1] + col

    # -- block lifecycle ----------------------------------------------------
    def _flush(self, next_kind: str = "p") -> None:
        b = self._cur
        if b.chunks and b.text():
            self.blocks.append(b)
        self._cur = Block(
            kind=next_kind,
            in_content_ancestor=self._content_depth > 0,
            in_boiler_ancestor=self._boiler_depth > 0,
        )

    # -- HTMLParser hooks ----------------------------------------------------
    def handle_starttag(self, tag, attrs):
        tag = tag.lower()
        if tag in _IGNORE_SUBTREE:
            if tag not in _VOID_TAGS:
                self._ignore_depth += 1
            return
        if self._ignore_depth:
            return
        if tag == "a":
            self._anchor_depth += 1
            return
        if tag in _BLOCK_TAGS:
            if tag in _CONTENT_ANCESTORS:
                self._content_depth += 1
            if tag in _BOILERPLATE_ANCESTORS:
                self._boiler_depth += 1
            self._flush(next_kind=tag)
            if tag in _VOID_TAGS:  # br, hr: flush only
                if tag in _CONTENT_ANCESTORS:
                    self._content_depth -= 1
                if tag in _BOILERPLATE_ANCESTORS:
                    self._boiler_depth -= 1
            else:
                self._stack.append(tag)

    def handle_startendtag(self, tag, attrs):
        tag = tag.lower()
        if self._ignore_depth:
            return
        if tag in _BLOCK_TAGS:
            self._flush(next_kind=tag)

    def handle_endtag(self, tag):
        tag = tag.lower()
        if tag in _IGNORE_SUBTREE:
            if self._ignore_depth:
                self._ignore_depth -= 1
            return
        if self._ignore_depth:
            return
        if tag == "a":
            if self._anchor_depth:
                self._anchor_depth -= 1
            return
        if tag in _BLOCK_TAGS:
            # Unwind the open-tag stack (tolerates unclosed markup).
            if tag in self._stack:
                while self._stack:
                    popped = self._stack.pop()
                    if popped in _CONTENT_ANCESTORS:
                        self._content_depth -= 1
                    if popped in _BOILERPLATE_ANCESTORS:
                        self._boiler_depth -= 1
                    if popped == tag:
                        break
            self._flush()

    def handle_data(self, data):
        if self._ignore_depth or not data:
            return
        off = self._offset()
        b = self._cur
        if b.start < 0:
            b.start = off
        b.end = off + len(data)
        b.chunks.append(data)
        b._text = None
        # non-whitespace char count: str.split() splits exactly on
        # str.isspace() whitespace, so the token-length sum equals the
        # per-char isspace scan at C speed
        nws = sum(map(len, data.split()))
        b.total_chars += nws
        if self._anchor_depth:
            b.anchor_chars += nws

    def close(self) -> None:  # final flush
        super().close()
        b = self._cur
        if b.chunks and b.text():
            self.blocks.append(b)
            self._cur = Block()
