"""The oracle: pure-Python, zero-Spark-deps document extractor.

This module is the byte-equality contract for the whole engine
(SURVEY.md §5.1).  The Spark job must produce, for every url,
``text`` bytes identical to ``extract_bytes(html)["text"]`` applied
row-by-row.  Everything here is a pure function of the single input
document: no cross-document state, no environment, locale or hash-seed
dependence.

Semantics re-expressed from the reference (gml9812/OCR), cited per
function:
  * doc-kind dispatch      <- services/file_processor.py:11-47 (O3)
  * PDF page-0 default     <- services/file_processor.py:77     (O5)
  * empty-PDF error row    <- services/file_processor.py:70-74  (O5)
  * unsupported -> validation_error (400 analogue)
                           <- services/file_processor.py:38-41  (O3/O16)
  * error taxonomy         <- utils/error_handlers.py:8-30      (O16)

The core extraction replaces the reference's Gemini call
(services/gemini_service.py:61-146, O9) with a deterministic
Boilerpipe-style block classifier (Kohlschuetter et al., WSDM 2010 —
public algorithm) plus a restricted-subset PDF text parser.
"""

from __future__ import annotations

import bisect
import json
import re
import unicodedata
import zlib
from dataclasses import dataclass
from html import unescape
from html.parser import HTMLParser

__all__ = [
    "sniff_doc_kind",
    "sniff_charset",
    "decode_html",
    "extract_html",
    "extract_links",
    "extract_links_texts",
    "extract_meta",
    "extract_pdf",
    "extract_bytes",
    "parse_image_header",
    "STATUS_OK",
    "STATUS_VALIDATION_ERROR",
    "STATUS_PROCESSING_ERROR",
]

# Error taxonomy mirrors the reference's APIError hierarchy
# (utils/error_handlers.py:8-30): ValidationError (400-class) vs
# ProcessingError (500-class).  Errors are rows, not exceptions.
STATUS_OK = "ok"
STATUS_VALIDATION_ERROR = "validation_error"
STATUS_PROCESSING_ERROR = "processing_error"


# --------------------------------------------------------------------------
# doc-kind sniffing (batch analogue of extension dispatch, O3)
# --------------------------------------------------------------------------

_BOMS = (
    (b"\xef\xbb\xbf", "utf-8-sig"),
    (b"\xff\xfe\x00\x00", "utf-32-le"),
    (b"\x00\x00\xfe\xff", "utf-32-be"),
    (b"\xff\xfe", "utf-16-le"),
    (b"\xfe\xff", "utf-16-be"),
)


# Image magic bytes (O4: the reference's supported image set is
# png/jpg/jpeg/tiff/tif, services/file_processor.py:11-12; gif added as
# it costs one line and is ubiquitous on the web).
_IMAGE_MAGICS = (
    b"\x89PNG\r\n\x1a\n", b"\xff\xd8", b"GIF87a", b"GIF89a",
    b"II*\x00", b"MM\x00*",
)


def sniff_doc_kind(payload: bytes) -> str:
    """Classify raw payload bytes as ``html | pdf | image | unsupported``.

    Deterministic precedence:
      1. ``%PDF-`` magic at offset 0 -> ``pdf``
      2. PNG/JPEG/GIF/TIFF magic at offset 0 -> ``image``
      3. first non-whitespace byte (after any Unicode BOM) is ``<`` -> ``html``
      4. ``<html`` appears (case-insensitive) in the first 1024 bytes -> ``html``
      5. otherwise ``unsupported``

    Replaces filename-extension dispatch (services/file_processor.py:28-41).
    """
    if not payload:
        return "unsupported"
    if payload.startswith(b"%PDF-"):
        return "pdf"
    if payload.startswith(_IMAGE_MAGICS):
        return "image"
    body = payload
    for bom, _ in _BOMS:
        if body.startswith(bom):
            body = body[len(bom):]
            break
    stripped = body.lstrip(b" \t\r\n\f")
    if stripped[:1] == b"<":
        return "html"
    if b"<html" in payload[:1024].lower():
        return "html"
    return "unsupported"


# --------------------------------------------------------------------------
# charset sniffing (deterministic precedence; SURVEY.md §7.3.2)
# --------------------------------------------------------------------------

_META_CHARSET_RE = re.compile(
    rb"""<meta[^>]{0,512}?charset\s*=\s*["']?([a-zA-Z0-9_\-]{2,32})""",
    re.IGNORECASE,
)

# Codec aliases we accept from <meta charset=...>; anything else falls
# through to the utf-8 -> latin-1 ladder.  Keep this table closed so
# behaviour never depends on the Python build's codec registry.
_KNOWN_CODECS = {
    "utf-8": "utf-8",
    "utf8": "utf-8",
    "euc-kr": "cp949",
    "euckr": "cp949",
    "cp949": "cp949",
    "ks_c_5601-1987": "cp949",
    "iso-8859-1": "latin-1",
    "latin-1": "latin-1",
    "latin1": "latin-1",
    "windows-1252": "cp1252",
    "cp1252": "cp1252",
    "ascii": "ascii",
    "us-ascii": "ascii",
    "utf-16": "utf-16",
    "utf-16-le": "utf-16-le",
    "utf-16-be": "utf-16-be",
}


def sniff_charset(payload: bytes) -> str:
    """Pick the decode codec: BOM > <meta charset> (first 4096 bytes) >
    strict utf-8 probe > latin-1 fallback (never fails)."""
    for bom, codec in _BOMS:
        if payload.startswith(bom):
            return codec
    m = _META_CHARSET_RE.search(payload[:4096])
    if m:
        name = m.group(1).decode("ascii", "replace").strip().lower()
        codec = _KNOWN_CODECS.get(name)
        if codec:
            return codec
    try:
        payload.decode("utf-8", "strict")
        return "utf-8"
    except UnicodeDecodeError:
        return "latin-1"


def decode_html(payload: bytes) -> tuple[str, str]:
    """Decode raw html bytes -> (text, codec_used). Deterministic."""
    codec = sniff_charset(payload)
    try:
        return payload.decode(codec, "replace"), codec
    except Exception:  # pragma: no cover - unreachable with _KNOWN_CODECS
        return payload.decode("latin-1", "replace"), "latin-1"


# --------------------------------------------------------------------------
# HTML block model + Boilerpipe-style classification
# --------------------------------------------------------------------------

# Elements whose subtree content is never text (dropped wholesale).
_IGNORE_SUBTREE = frozenset(
    {"script", "style", "noscript", "template", "svg", "iframe", "head",
     "object", "embed", "canvas", "audio", "video", "map", "title"}
)

# Structural ancestors that force boilerplate regardless of density.
_BOILERPLATE_ANCESTORS = frozenset({"nav", "header", "footer", "aside"})

# Semantic content ancestors: low-link blocks inside these are content
# even when short (HTML5 semantic prior).
_CONTENT_ANCESTORS = frozenset({"article", "main"})

# Tags that terminate the current text block.
_BLOCK_TAGS = frozenset(
    {"p", "div", "h1", "h2", "h3", "h4", "h5", "h6", "li", "ul", "ol",
     "table", "tr", "td", "th", "thead", "tbody", "tfoot", "blockquote",
     "pre", "section", "article", "main", "header", "footer", "nav",
     "aside", "form", "fieldset", "figure", "figcaption", "hr", "br",
     "dl", "dt", "dd", "caption", "body", "html", "center", "option",
     "select", "button", "textarea", "address", "summary", "details"}
)

_VOID_TAGS = frozenset(
    {"br", "hr", "img", "input", "meta", "link", "area", "base", "col",
     "embed", "source", "track", "wbr", "param"}
)

_WS_RE = re.compile("[\\s\u200b\u200c\ufeff]+")  # \\s (Unicode) + zero-width chars


def _collapse(s: str) -> str:
    """The normalization policy (the byte-equality contract):
    NFC-normalize, collapse all whitespace runs (incl. NBSP/ZWSP) to a
    single ASCII space, strip ends.  On ASCII this is
    ``" ".join(s.split())``: NFC is the identity there, and ``re``'s
    ``\\s`` and ``str.split()`` both split on ``Py_UNICODE_ISSPACE``."""
    if s.isascii():
        return " ".join(s.split())
    return _WS_RE.sub(" ", unicodedata.normalize("NFC", s)).strip()


@dataclass(slots=True)
class _Block:
    kind: str
    _text: str                  # normalized per _collapse
    words: int                  # len(_text.split())
    start: int                  # char offset of first chunk
    end: int                    # char offset past last chunk
    anchor_chars: int           # non-ws chars inside <a>
    total_chars: int            # non-ws chars total
    in_content_ancestor: bool
    in_boiler_ancestor: bool

    def text(self) -> str:
        return self._text


def _finish_block(blocks, chunks, kind, start, end, anchor_chars,
                  in_content, in_boiler) -> None:
    """Append the block made of the text ``chunks`` unless they collapse
    to nothing.  A whitespace-only block never reaches ``_collapse``
    (NFC maps whitespace to whitespace), and one ``split()`` gives the
    ASCII text, its word count and its non-whitespace char count."""
    raw = "".join(chunks)
    parts = raw.split()
    if not parts:
        return
    if raw.isascii():
        text, words = " ".join(parts), len(parts)
    else:
        text = _collapse(raw)
        if not text:  # zero-width characters only
            return
        words = len(text.split())
    blocks.append(_Block(kind, text, words, start, end, anchor_chars,
                         sum(map(len, parts)), in_content, in_boiler))


# What a token does to the block builder, one code per (token kind, tag);
# a tag absent from a table does nothing.  Codes below _A_OPEN act even
# inside an ignored subtree.  </embed> leaves one though <embed> never
# enters one, as in the oracle.
_TEXT = 1          # (_step only) literal text at the '<'
_IGN_CLOSE, _IGN_OPEN = 2, 3
_IGN_RAW = 4       # script/style: skip the rawtext and its close tag
_A_OPEN, _A_CLOSE = 5, 6
_FLUSH = 7         # end the block; the next one takes the tag as kind
_OPEN, _OPEN_CONTENT, _OPEN_BOILER = 8, 9, 10  # _FLUSH + push the tag
_CLOSE = 11        # unwind the stack to the tag if open; end the block

# html.parser's CDATA_CONTENT_ELEMENTS: rawtext until a full close tag.
# set_cdata_mode's "interesting" pattern is '</\s*elem\s*>' — a lone
# '</script foo>' does NOT end the section.
_CDATA_CLOSE = {
    "script": re.compile(r"</\s*script\s*>", re.IGNORECASE),
    "style": re.compile(r"</\s*style\s*>", re.IGNORECASE),
}

_START_ACT: dict[str, int] = {"a": _A_OPEN}
for _t in _BLOCK_TAGS:
    _START_ACT[_t] = (_FLUSH if _t in _VOID_TAGS  # br, hr
                      else _OPEN_CONTENT if _t in _CONTENT_ANCESTORS
                      else _OPEN_BOILER if _t in _BOILERPLATE_ANCESTORS
                      else _OPEN)
for _t in _IGNORE_SUBTREE - _VOID_TAGS:  # <embed> has no subtree
    _START_ACT[_t] = _IGN_RAW if _t in _CDATA_CLOSE else _IGN_OPEN
_END_ACT = {**dict.fromkeys(_BLOCK_TAGS, _CLOSE), "a": _A_CLOSE,
            **dict.fromkeys(_IGNORE_SUBTREE, _IGN_CLOSE)}
del _t

# One regex per '<'.  Group 1 is the name of a start tag whose attribute
# region provably ends where html.parser's does, at a '>' with no '/'
# before it: a quote-free region not starting with NUL (_ATTR_RE's loop
# runs through it to the '>'), or whitespace-separated name[=value]
# pairs whose quoted or bare values hold no '>', quote or '/'.  Group 2
# is the name of a well-formed end tag (endtagfind).  Neither crosses a
# '>', so a failed try costs at most the distance to the next '>', which
# _step then consumes.  Any other '<' matches empty and takes _step.
_TOKEN_RE = re.compile(
    r"""
  <(?:
    ([a-zA-Z][^\t\n\r\f />\x00]*+)            # start tag name (tagfind_tolerant)
    (?:(?:[^>"'\x00][^>"']*+)?+(?<!/)          # quote-free region
      |(?:\s++[^\s/>"'=]++                     # or: name
          (?:\s*+=\s*+(?:"[^">]*+"|'[^'>]*+'|[^\s>"'/]*+))?+  # [= value]
        )*+\s*+
    )>
   |/\s*+([a-zA-Z][-.a-zA-Z0-9:_]*+)\s*+>     # end tag
  )?
""",
    re.VERBOSE,
)
# chars that end a tag name (tagfind_tolerant)
_NAME_END_RE = re.compile(r"[\t\n\r\f />\x00]")
# One attribute of the region after the tag name, transcribed from
# html.parser's locatestarttagend_tolerant (CPython 3.11): that region
# is _ATTRS_LEAD_RE, then _ATTR_RE as often as it matches (its trailing
# '\s*' never matches anything more).  Quotes are special ONLY as
# attribute-value delimiters right after '='; a stray quote inside an
# unquoted value (crawl HTML: <div class=a"b>) is a bare-value char and
# the tag still closes at the next '>' (ADVICE.md round 2).  Its '\s*'
# after the value moves no end, so it also stands for attrfind_tolerant.
_ATTRS_LEAD_RE = re.compile(r"[\s/]*")  # whitespace before the first name
_ATTR_RE = re.compile(
    r"""
  (?<=['"\s/])[^\s/>][^\s/=>]*       # attribute name
  (?:\s*=+\s*                        # value indicator
    (?:'[^']*'                       # LITA-enclosed value
      |"[^"]*"                       # LIT-enclosed value
      |(?!['"])[^>\s]*               # bare value
     )
    \s*                              # possibly followed by a space
   )?(?:\s|/(?!>))*
""",
    re.VERBOSE,
)
# tagfind_tolerant's trailing whitespace/slash run, used to re-derive
# stdlib's end-token (">" vs "/>" vs bogus) in the rare ambiguous case
# where the char before '>' is '/'
_TAGTRAIL_RE = re.compile(r"(?:\s|/(?!>))*")
# chars after the attr region that stdlib treats as "incomplete input"
# (check_for_whole_start_tag -> -1 -> goahead's find('>') data fallback)
_INCOMPLETE_NEXT = frozenset(
    "abcdefghijklmnopqrstuvwxyz=/ABCDEFGHIJKLMNOPQRSTUVWXYZ"
)
# bogus-comment / declaration closers, per html.parser + _markupbase
# (CPython 3.11)
_GT_RE = re.compile(">")
_COMMENTCLOSE_RE = re.compile(r"--\s*>")
_MARKEDCLOSE_RE = re.compile(r"]\s*]\s*>")
_MSMARKEDCLOSE_RE = re.compile(r"]\s*>")
_DECLNAME_RE = re.compile(r"[a-zA-Z][-_.a-zA-Z0-9]*\s*")


class _FastBlockParser:
    """The HTML lexer and block builder: streams a decoded document into
    a flat sequence of text blocks (``self.blocks``) with link / char
    statistics and char-offset spans.  It must match, block for block,
    the stdlib ``html.parser``-driven oracle in tests/html_oracle.py
    (tests/test_core_html.py::test_fast_parser_matches_stdlib*).

    Most tags are one ``_TOKEN_RE`` match and one table lookup
    (``_START_ACT`` / ``_END_ACT``).  Every other '<' takes ``_step``, a
    transcription of html.parser's tolerant rules: comments,
    declarations, odd quoting, bogus attribute regions (emitted as raw
    data), the bare-value '/' of XHTML-style self-closing tags, and
    constructs left open at EOF (emitted through the next '>' as data).
    Attributes are never tokenized: the builder only uses tag names.
    Each inter-tag data segment is html.unescape()d (convert_charrefs);
    offsets refer to the source, segment end = start + len(decoded).

    Lexing is linear in the input: ``_step`` reuses its last search for
    each closer (``_next``) and memoizes attribute-region walks
    (``_region_end``), and end tags find their open element through a
    per-tag count beside the stack."""

    def __init__(self) -> None:
        self.blocks: list[_Block] = []
        self._data = ""
        self._found: dict = {}               # pattern -> (from, match)
        self._attrs_end: dict[int, int] = {}  # region boundary -> region end

    def feed(self, data: str) -> None:
        """Lex the whole document into ``self.blocks``."""
        self._data = data
        blocks = self.blocks
        search = _TOKEN_RE.search
        find = data.find
        start_act, end_act = _START_ACT, _END_ACT
        n = len(data)
        last = data.rfind(">") + 1  # no '<' past the last '>' is a token
        stack: list[str] = []              # open block elements
        n_open: dict[str, int] = {}        # tag -> its count in stack
        ignore = anchor = content = boiler = 0
        # the block being built
        kind, in_content, in_boiler = "p", False, False
        chunks: list[str] = []
        start = end = anchor_chars = 0
        i = 0
        while i < n:
            m = search(data, i, last)
            lt = m.start() if m else find("<", i)
            if lt < 0:
                lt = n
            if lt > i and not ignore:
                seg = data[i:lt]
                if "&" in seg:
                    seg = unescape(seg)
                if seg:
                    if not chunks:
                        start = i
                    chunks.append(seg)
                    end = i + len(seg)
                    if anchor:
                        # str.split() splits exactly on str.isspace()
                        anchor_chars += sum(map(len, seg.split()))
            li = m.lastindex if m else None
            if li == 1:
                val = m[1].lower()
                code = start_act.get(val, 0)
                i = m.end()
            elif li == 2:
                val = m[2].lower()
                code = end_act.get(val, 0)
                i = m.end()
            elif lt < n:
                code, val, i = self._step(data, lt)
            else:
                break
            if not code:
                continue
            if code >= _FLUSH:
                if ignore:
                    continue
                if code == _CLOSE:
                    if n_open.get(val):  # unwind (tolerates unclosed markup)
                        while True:
                            top = stack.pop()
                            n_open[top] -= 1
                            top_act = start_act[top]
                            if top_act == _OPEN_CONTENT:
                                content -= 1
                            elif top_act == _OPEN_BOILER:
                                boiler -= 1
                            if top == val:
                                break
                    val = "p"
                elif code != _FLUSH:
                    stack.append(val)
                    n_open[val] = n_open.get(val, 0) + 1
                    if code == _OPEN_CONTENT:
                        content += 1
                    elif code == _OPEN_BOILER:
                        boiler += 1
                if chunks:
                    _finish_block(blocks, chunks, kind, start, end,
                                  anchor_chars, in_content, in_boiler)
                    chunks = []
                    anchor_chars = 0
                kind, in_content, in_boiler = val, content > 0, boiler > 0
            elif code >= _A_OPEN:
                if not ignore:
                    if code == _A_OPEN:
                        anchor += 1
                    elif anchor:
                        anchor -= 1
            elif code == _TEXT:
                if val and not ignore:
                    if not chunks:
                        start = lt
                    chunks.append(val)
                    end = lt + len(val)
                    if anchor:
                        anchor_chars += sum(map(len, val.split()))
            elif code == _IGN_RAW:
                # the section's text is dropped and its close tag leaves
                # the subtree, so the ignore depth is unchanged (an
                # unclosed section runs to EOF)
                mm = _CDATA_CLOSE[val].search(data, i)
                i = mm.end() if mm else n
            elif code == _IGN_OPEN:
                ignore += 1
            elif ignore:  # _IGN_CLOSE
                ignore -= 1
        if chunks:
            _finish_block(blocks, chunks, kind, start, end, anchor_chars,
                          in_content, in_boiler)

    def _step(self, data: str, lt: int) -> tuple[int, str | None, int]:
        """The exact path for the '<' at ``lt``: ``(code, value, resume)``
        where ``value`` is the tag name, or the text for ``_TEXT``."""
        c = data[lt + 1:lt + 2]
        if c.isascii() and c.isalpha():
            ne = self._name_end(lt + 2)
            j = self._region_end(ne)
            nxt = data[j:j + 1]
            if nxt == ">":
                endpos = j + 1
            elif nxt == "/" and data.startswith("/>", j):
                endpos = j + 2
            elif nxt == "" or nxt in _INCOMPLETE_NEXT:
                # incomplete: stdlib check_for_whole_start_tag -> -1
                return self._incomplete(data, lt)
            else:
                # bogus char where an attribute was expected: stdlib
                # emits the partial tag as data (with NO charref decode —
                # parse_starttag's fallback calls handle_data on the raw
                # slice) and resumes at the offending char
                return _TEXT, data[lt:j], j
            # the name is sliced only for a tag that consumes it: an
            # unclosed one can run to EOF
            name = data[lt + 1:ne].lower()
            # starttag vs XHTML startendtag, per stdlib parse_starttag's
            # end-token check.  The attr regions diverge only when the
            # char before '>' is '/': replay attrfind there to learn
            # whether that '/' was absorbed into a bare attribute value
            # (<div a=1/> is a normal start tag; <br/> is not).
            if data[endpos - 2] == "/" and endpos - 2 >= ne:
                k = _TAGTRAIL_RE.match(data, ne).end()
                while k < endpos:
                    am = _ATTR_RE.match(data, k)
                    if am is None:
                        break
                    k = am.end()
                end_tok = data[k:endpos].strip()
                if end_tok == "/>":  # XHTML <br/>, <div/>
                    return _FLUSH if name in _BLOCK_TAGS else 0, name, endpos
                if end_tok != ">":
                    return _TEXT, data[lt:endpos], endpos
            return _START_ACT.get(name, 0), name, endpos
        if c == "/":
            if self._next(_GT_RE, lt + 1) is None:
                # parse_endtag -> -1: EOF data fallback
                return self._incomplete(data, lt)
            # a well-formed end tag was _TOKEN_RE's; html.parser takes
            # the name and skips to the next '>'
            d = data[lt + 2:lt + 3]
            if d.isascii() and d.isalpha():
                ne = self._name_end(lt + 3)
                name = data[lt + 2:ne].lower()
                return _END_ACT.get(name, 0), name, self._next(_GT_RE, ne).end()
            if data.startswith("</>", lt):
                return 0, None, lt + 3
            # '</' + non-name: bogus comment, skipped to '>'
            return 0, None, self._next(_GT_RE, lt + 2).end()
        if c == "!":
            if data.startswith("!--", lt + 1):
                mm = self._next(_COMMENTCLOSE_RE, lt + 4)
            elif data.startswith("![", lt + 1):
                # marked section (<![CDATA[ / <![if ...): stdlib closes
                # CDATA-family at ']\s*]\s*>', MS-office if/else/endif at
                # ']\s*>'; unknown names raise in stdlib — treated as a
                # bogus comment here (the production parser must never
                # raise per-document)
                dm = _DECLNAME_RE.match(data, lt + 3)
                sect = dm.group(0).lower().strip() if dm else ""
                if sect in ("temp", "cdata", "ignore", "include", "rcdata"):
                    mm = self._next(_MARKEDCLOSE_RE, lt + 3)
                elif sect in ("if", "else", "endif"):
                    mm = self._next(_MSMARKEDCLOSE_RE, lt + 3)
                else:
                    mm = self._next(_GT_RE, lt + 3)
            elif data[lt:lt + 9].lower() == "<!doctype":
                mm = self._next(_GT_RE, lt + 9)
            else:  # bogus comment
                mm = self._next(_GT_RE, lt + 2)
        elif c == "?":  # processing instruction
            mm = self._next(_GT_RE, lt + 2)
        else:  # lone '<' not opening a construct: literal text
            return _TEXT, "<", lt + 1
        return (0, None, mm.end()) if mm else self._incomplete(data, lt)

    def _incomplete(self, data: str, lt: int) -> tuple[int, str, int]:
        """goahead(end=1)'s recovery for a construct whose parser
        returned -1 at EOF: emit through the next '>' inclusive (else
        up to the next '<', else one char) as charref-decoded data,
        then resume parsing."""
        gt = self._next(_GT_RE, lt + 1)
        if gt is not None:
            k = gt.end()
        else:
            k = data.find("<", lt + 1)
            if k < 0:
                k = lt + 1
        seg = data[lt:k]
        return _TEXT, unescape(seg) if "&" in seg else seg, k

    def _next(self, pat: re.Pattern, pos: int) -> re.Match | None:
        """``pat.search(data, pos)``.  A search from p that found nothing,
        or found a match at m, answers every later search from a position
        in [p, m], so runs of '<' that share one closer (or its absence)
        scan for it once."""
        hit = self._found.get(pat)
        if hit is not None:
            p, m = hit
            if p <= pos and (m is None or pos <= m.start()):
                return m
        m = pat.search(self._data, pos)
        self._found[pat] = (pos, m)
        return m

    def _name_end(self, pos: int) -> int:
        """End of the tag name that continues at ``pos``."""
        m = self._next(_NAME_END_RE, pos)
        return m.start() if m else len(self._data)

    def _region_end(self, pos: int) -> int:
        """End of the attribute region after a tag name ending at
        ``pos``: ``_ATTRS_LEAD_RE``, then ``_ATTR_RE`` while it matches.
        Where the walk reaches a boundary an earlier walk visited, it
        takes that walk's end: ``_ATTR_RE`` cannot match empty and its
        lookbehind reads only the data, so the rest of the walk depends
        only on the position."""
        data, memo = self._data, self._attrs_end
        k = _ATTRS_LEAD_RE.match(data, pos).end()
        path = []
        while k not in memo:
            path.append(k)
            m = _ATTR_RE.match(data, k)
            if m is None:
                memo[k] = k
            else:
                k = m.end()
        for b in path:
            memo[b] = memo[k]
        return memo[k]

def _link_density(b: _Block) -> float:
    return b.anchor_chars / b.total_chars if b.total_chars else 0.0


# Default classifier thresholds — also carried by
# profiles.DEFAULT_PROFILES['default'] (the O7/O8 schema analogue).
DEFAULT_MAX_LINK_DENSITY = 1.0 / 3.0
DEFAULT_MIN_WORDS = 16


def _classify(blocks: list[_Block],
              max_link_density: float = DEFAULT_MAX_LINK_DENSITY,
              min_words: int = DEFAULT_MIN_WORDS) -> list[bool]:
    """Boilerpipe NumWordsRulesClassifier (Kohlschuetter et al., WSDM
    2010; rules as published in the boilerpipe source — public), with
    two structural priors: nav/header/footer/aside ancestry forces
    boilerplate, article/main ancestry admits short low-link blocks.

    ``max_link_density`` / ``min_words`` come from the extraction
    profile (the reference's per-country config analogue,
    services/business_license_processor.py:24-54 -> profiles.py); the
    remaining constants are the published Boilerpipe rule set."""
    n = len(blocks)
    words = [b.words for b in blocks]
    link = [_link_density(b) for b in blocks]
    keep = [False] * n
    for i in range(n):
        b = blocks[i]
        if b.in_boiler_ancestor:
            continue
        if link[i] > max_link_density:
            continue
        if b.in_content_ancestor and words[i] >= 2:
            keep[i] = True
            continue
        prev_words = words[i - 1] if i > 0 else 0
        prev_link = link[i - 1] if i > 0 else 0.0
        next_words = words[i + 1] if i + 1 < n else 0
        if prev_link <= 0.555555:
            keep[i] = words[i] > min_words or next_words > 15 or prev_words > 4
        else:
            keep[i] = words[i] > 40 or next_words > 17
    return keep


def extract_html(payload: bytes, profile: dict | None = None) -> dict:
    """HTML bytes -> {text, spans, n_blocks, status, error_msg}.

    ``text``: content blocks (normalized per ``_collapse``) joined by a
    single ``\\n``, no trailing newline; empty string when no block
    survives.  ``spans``: one ``(start, end, kind)`` per kept block —
    **byte** offsets into the source payload.  ``profile`` optionally
    overrides the classifier thresholds (keys ``max_link_density``,
    ``min_words``; missing keys keep defaults).

    Time and peak memory are linear in the payload on any markup, hostile
    included (tests/test_core_html.py::test_hostile_markup_is_linear and
    ::test_hostile_markup_memory_is_bounded).
    """
    try:
        decoded, codec = decode_html(payload)
        parser = _FastBlockParser()
        parser.feed(decoded)
        blocks = parser.blocks
        prof = profile or {}
        keep = _classify(
            blocks,
            max_link_density=prof.get("max_link_density",
                                      DEFAULT_MAX_LINK_DENSITY),
            min_words=prof.get("min_words", DEFAULT_MIN_WORDS),
        )
        kept = [b for b, k in zip(blocks, keep) if k]
        text = "\n".join(b.text() for b in kept)
        spans = _char_spans_to_bytes(
            decoded, codec, [(b.start, b.end, b.kind) for b in kept]
        )
        return {
            "text": text,
            "spans": spans,
            "n_blocks": len(kept),
            "status": STATUS_OK,
            "error_msg": None,
        }
    except Exception as exc:  # never raise per-document (O16)
        return {
            "text": "",
            "spans": [],
            "n_blocks": 0,
            "status": STATUS_PROCESSING_ERROR,
            "error_msg": f"{type(exc).__name__}: {exc}",
        }


def _char_spans_to_bytes(decoded, codec, spans):
    """Map char-offset spans to byte offsets via one incremental encode
    pass (O(n) total, not O(n * spans))."""
    if not spans:
        return []
    # BOM-stripping codecs: account for the BOM bytes at offset 0.
    bom_len = 0
    enc_codec = codec
    if codec == "utf-8-sig":
        bom_len, enc_codec = 3, "utf-8"
    elif codec in ("utf-16", "utf-32"):
        bom_len = 2 if codec == "utf-16" else 4
        enc_codec = codec + "-le"  # offsets only; synth never emits these
    elif codec in ("utf-16-le", "utf-16-be"):
        bom_len = 2
    elif codec in ("utf-32-le", "utf-32-be"):
        bom_len = 4
    marks = sorted({off for s, e, _ in spans for off in (s, e) if off >= 0})
    byte_at: dict[int, int] = {}
    pos_c, pos_b = 0, bom_len
    for m in marks:
        pos_b += len(decoded[pos_c:m].encode(enc_codec, "replace"))
        byte_at[m] = pos_b
        pos_c = m
    out = []
    for s, e, kind in spans:
        if s < 0:
            continue
        out.append((byte_at[s], byte_at.get(e, byte_at[s]), kind))
    return out


# --------------------------------------------------------------------------
# Outlink extraction (web-graph construction)
# --------------------------------------------------------------------------
# The reference has no link stage (it processes single uploaded files,
# services/file_processor.py); a Common-Crawl-scale corpus needs the
# page -> outlinks map for graph dedup priors, spam scoring, and
# PageRank-family quality signals.  Same parser stack as extract_html
# (stdlib HTMLParser over decode_html), resolution via stdlib urljoin.

_SKIP_SCHEMES = ("javascript:", "mailto:", "tel:", "data:", "about:")


class _LinkParser(HTMLParser):
    """Collect <a href> values (with their anchor text) in document
    order; honor <base href>.  Anchor text is the flattened text
    content up to the matching </a> (the <a> element does not nest)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.hrefs: list[tuple[str, list[str]]] = []  # (href, text parts)
        self.base: str | None = None
        self._in_a = False

    def handle_starttag(self, tag, attrs):
        if tag == "a":
            self._in_a = False
            for k, v in attrs:
                if k == "href" and v:
                    self.hrefs.append((v, []))
                    self._in_a = True
                    break
        elif tag == "base" and self.base is None:
            for k, v in attrs:
                if k == "href" and v:
                    self.base = v
                    break

    def handle_endtag(self, tag):
        if tag == "a":
            self._in_a = False

    def handle_data(self, data):
        if self._in_a and self.hrefs:
            self.hrefs[-1][1].append(data)


def extract_links(payload: bytes, base_url: str) -> list[str]:
    """HTML bytes -> absolute outlink urls, document order, deduped
    (first occurrence wins).  Relative hrefs resolve against <base href>
    if present, else ``base_url``.  Fragment-only links and
    non-navigational schemes (javascript/mailto/tel/data/about) are
    dropped; fragments are stripped from kept links.  Returns [] for
    undecodable or unparsable payloads (errors are rows upstream)."""
    return [u for u, _t in extract_links_texts(payload, base_url)]


def extract_links_texts(payload: bytes,
                        base_url: str) -> list[tuple[str, str]]:
    """Like :func:`extract_links` but each link carries its anchor text
    (flattened element text, whitespace-collapsed; the FIRST anchor's
    text wins for duplicate targets) — the web-scale anchor-text corpus
    shape (anchor text is a standard relevance/label signal for the
    linked page)."""
    from urllib.parse import urljoin

    try:
        decoded, _codec = decode_html(payload)
        p = _LinkParser()
        p.feed(decoded)
        base = urljoin(base_url, p.base) if p.base else base_url
        out: list[tuple[str, str]] = []
        seen: set[str] = set()
        for href, text_parts in p.hrefs:
            h = href.strip()
            if not h or h.startswith("#"):
                continue
            if h.lower().startswith(_SKIP_SCHEMES):
                continue
            absu = urljoin(base, h).split("#", 1)[0]
            if not absu or absu in seen:
                continue
            seen.add(absu)
            out.append((absu, _collapse("".join(text_parts))))
        return out
    except Exception:
        return []


# --------------------------------------------------------------------------
# Page-metadata extraction (structured head/landmark fields)
# --------------------------------------------------------------------------
# The reference's whole purpose is document -> structured fields
# (services/business_license_processor.py:233-239 projects a fixed
# field schema; services/response_parser.py pulls typed values).  For
# html pages the equivalent head/landmark fields are extractable
# deterministically without a model: title, meta description, canonical
# link, og:title, and the first h1.


class _MetaParser(HTMLParser):
    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.title: list[str] = []
        self.h1: list[str] = []
        self.description: str | None = None
        self.canonical: str | None = None
        self.og_title: str | None = None
        self._in: str | None = None
        self._done_h1 = False

    def handle_starttag(self, tag, attrs):
        if tag == "title":
            self._in = "title"
        elif tag == "h1" and not self._done_h1:
            self._in = "h1"
        elif tag == "meta":
            d = dict(attrs)
            name = (d.get("name") or "").lower()
            prop = (d.get("property") or "").lower()
            content = d.get("content")
            if name == "description" and self.description is None:
                self.description = content
            elif prop == "og:title" and self.og_title is None:
                self.og_title = content
        elif tag == "link":
            d = dict(attrs)
            if ((d.get("rel") or "").lower() == "canonical"
                    and self.canonical is None):
                self.canonical = d.get("href")

    def handle_endtag(self, tag):
        if tag == "title" and self._in == "title":
            self._in = None
        elif tag == "h1" and self._in == "h1":
            self._in = None
            self._done_h1 = True

    def handle_data(self, data):
        if self._in == "title":
            self.title.append(data)
        elif self._in == "h1":
            self.h1.append(data)


def extract_meta(payload: bytes) -> dict:
    """HTML bytes -> structured head/landmark fields: ``title``, first
    ``meta[name=description]`` content, first ``link[rel=canonical]``
    href, first ``meta[property=og:title]`` content, first ``h1`` text.
    Text fields are whitespace-collapsed; absent fields are None.
    Undecodable payloads return all-None (errors are rows upstream)."""
    none = {"title": None, "description": None, "canonical": None,
            "og_title": None, "h1": None}
    try:
        decoded, _codec = decode_html(payload)
        p = _MetaParser()
        p.feed(decoded)
        out = dict(none)
        if p.title:
            out["title"] = _collapse("".join(p.title))
        if p.h1:
            out["h1"] = _collapse("".join(p.h1))
        if p.description is not None:
            out["description"] = _collapse(p.description)
        if p.og_title is not None:
            out["og_title"] = _collapse(p.og_title)
        if p.canonical is not None:
            out["canonical"] = p.canonical.strip()
        return out
    except Exception:
        return dict(none)


class _JsonLdParser(HTMLParser):
    """Collects the raw text of every ``<script
    type="application/ld+json">`` block, in document order.  Script
    content is CDATA to HTMLParser (no entity conversion), matching how
    browsers hand JSON-LD to consumers verbatim."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[str] = []
        self._buf: list[str] | None = None

    def handle_starttag(self, tag, attrs):
        if tag == "script":
            d = dict(attrs)
            t = (d.get("type") or "").strip().lower()
            if t == "application/ld+json":
                self._buf = []

    def handle_endtag(self, tag):
        if tag == "script" and self._buf is not None:
            self.blocks.append("".join(self._buf))
            self._buf = None

    def handle_data(self, data):
        if self._buf is not None:
            self._buf.append(data)


def extract_jsonld(payload: bytes) -> list[dict]:
    """HTML bytes -> the page's schema.org JSON-LD entities, one dict
    per entity: ``script_idx`` (position of the ld+json block in the
    page), ``entity_idx`` (position within the block: the top-level
    object is entity 0; a top-level array or an ``@graph`` array yields
    one entity per element), ``etype`` (``@type``; first element if a
    list), ``name`` (``name``, falling back to ``headline``),
    ``word_count`` (``wordCount`` when integral), ``status``.  A block
    that is not valid JSON emits one ``parse_error`` row (errors are
    rows, the engine-wide taxonomy); dict-less elements are skipped.
    Undecodable payloads -> no rows.

    Reference parity: the reference pulls typed values out of model
    JSON output via dot-path extraction
    (/root/reference/utils/response_parser.py:91-117); this is the
    page-embedded analogue — typed entities out of the document's own
    schema.org JSON."""
    try:
        decoded, _codec = decode_html(payload)
        p = _JsonLdParser()
        p.feed(decoded)
    except Exception:
        return []
    out: list[dict] = []
    for si, raw in enumerate(p.blocks):
        try:
            doc = json.loads(raw)
        except Exception:
            out.append({"script_idx": si, "entity_idx": 0, "etype": None,
                        "name": None, "word_count": None,
                        "status": "parse_error"})
            continue
        if isinstance(doc, dict) and isinstance(doc.get("@graph"), list):
            entities = doc["@graph"]
        elif isinstance(doc, list):
            entities = doc
        else:
            entities = [doc]
        ei = 0
        for e in entities:
            if not isinstance(e, dict):
                continue
            t = e.get("@type")
            if isinstance(t, list):
                t = t[0] if t else None
            name = e.get("name", e.get("headline"))
            wc = e.get("wordCount")
            out.append({
                "script_idx": si,
                "entity_idx": ei,
                "etype": str(t) if t is not None else None,
                "name": str(name) if name is not None else None,
                "word_count": int(wc)
                if isinstance(wc, int) and not isinstance(wc, bool) else None,
                "status": "ok",
            })
            ei += 1
    return out


# "N" or "N; url=..." with optional quotes/spaces, case-insensitive —
# the forms browsers actually honor for meta refresh
_REFRESH_RE = re.compile(
    r"\s*(\d+)\s*(?:;\s*url\s*=\s*['\"]?([^'\"]+?)['\"]?\s*)?$", re.I)


class _HttpEquivParser(HTMLParser):
    """First-wins head directives: ``<html lang>``, ``<meta http-equiv=
    content-language>`` (first comma-separated tag, lowercased) and
    ``<meta http-equiv=refresh>`` (delay + target url)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.html_lang: str | None = None
        self.content_language: str | None = None
        self.refresh_delay: int | None = None
        self.refresh_url: str | None = None

    def handle_starttag(self, tag, attrs):
        d = dict(attrs)
        if tag == "html" and self.html_lang is None and d.get("lang"):
            self.html_lang = d["lang"].strip().lower()
        elif tag == "meta":
            he = (d.get("http-equiv") or "").lower()
            content = d.get("content")
            if (he == "content-language" and content
                    and self.content_language is None):
                self.content_language = content.split(",")[0].strip().lower()
            elif he == "refresh" and content and self.refresh_delay is None:
                m = _REFRESH_RE.match(content)
                if m:
                    self.refresh_delay = int(m.group(1))
                    self.refresh_url = m.group(2)


def extract_http_equiv(payload: bytes) -> dict:
    """HTML bytes -> head DIRECTIVES (vs extract_meta's head CONTENT):
    ``html_lang`` (the root element's declared language), ``content_
    language`` (http-equiv fallback), ``refresh_delay``/``refresh_url``
    (the client-side redirect).  Declared language feeds the
    declared-vs-detected quality check (a page whose markup claims one
    language while its text reads as another is a strong spam/mojibake
    signal); refresh targets are redirect-graph edges next to HTTP
    Location and rel=canonical.  Absent directives are None;
    undecodable payloads return all-None."""
    none = {"html_lang": None, "content_language": None,
            "refresh_delay": None, "refresh_url": None}
    try:
        decoded, _codec = decode_html(payload)
        p = _HttpEquivParser()
        p.feed(decoded)
    except Exception:
        return dict(none)
    return {"html_lang": p.html_lang,
            "content_language": p.content_language,
            "refresh_delay": p.refresh_delay,
            "refresh_url": p.refresh_url}


class _RelLinkParser(HTMLParser):
    """Collects every ``<link>``/``<a>``/``<area>`` carrying BOTH a
    ``rel`` and an ``href``, in document order.  A space-separated
    ``rel`` (per spec a set of tokens) yields one pair per token,
    lowercased; the href is kept verbatim (resolution against <base>
    is the outlink extractor's job — rel semantics like next/prev/
    canonical are usually same-site relative urls that the caller
    resolves against the page url)."""

    _TAGS = frozenset({"link", "a", "area"})

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.pairs: list[tuple[str, str]] = []

    def handle_starttag(self, tag, attrs):
        if tag not in self._TAGS:
            return
        d = dict(attrs)
        rel, href = d.get("rel"), d.get("href")
        if rel is None or href is None:
            return
        for token in rel.lower().split():
            self.pairs.append((token, href.strip()))


def extract_rel_links(payload: bytes) -> list[dict]:
    """HTML bytes -> the page's typed link RELATIONS, one dict per
    (rel-token, href) pair with ``link_idx`` in document order:
    rel=next/prev (pagination chains), rel=canonical, rel=alternate
    (feeds/translations), rel=nofollow etc.  These drive crawl
    scheduling (next/prev discovery), series stitching, and
    canonicalization; the kernel is the generic surface under all of
    them.  Undecodable payloads -> no rows."""
    try:
        decoded, _codec = decode_html(payload)
        p = _RelLinkParser()
        p.feed(decoded)
    except Exception:
        return []
    return [{"link_idx": i, "rel": rel, "href": href}
            for i, (rel, href) in enumerate(p.pairs)]


class _HreflangParser(HTMLParser):
    """Collects ``<link rel="alternate" hreflang=... href=...>``
    annotations in document order — the language/region alternate
    declarations (Google's hreflang convention) that tie a page to its
    translations.  Only ``<link>`` elements whose rel token set
    contains ``alternate`` AND that carry both attributes qualify;
    hreflang values are lowercased (BCP-47 matching is
    case-insensitive), hrefs kept verbatim like the rel-link kernel."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.rows: list[tuple[str, str]] = []

    def handle_starttag(self, tag, attrs):
        if tag != "link":
            return
        d = dict(attrs)
        rel = (d.get("rel") or "").lower().split()
        hl, href = d.get("hreflang"), d.get("href")
        if "alternate" not in rel or hl is None or href is None:
            return
        self.rows.append((hl.strip().lower(), href.strip()))


def extract_hreflang(payload: bytes) -> list[dict]:
    """HTML bytes -> the page's hreflang alternate declarations, one
    dict per ``<link rel=alternate hreflang href>`` with ``link_idx``
    in document order.  These drive multilingual page-group alignment
    (each translation cluster declares its full member set, including
    itself, per the hreflang convention) — the upstream kernel under
    :func:`ocr_spark.operators.web.hreflang_groups`.  Undecodable
    payloads -> no rows."""
    try:
        decoded, _codec = decode_html(payload)
        p = _HreflangParser()
        p.feed(decoded)
    except Exception:
        return []
    return [{"link_idx": i, "hreflang": hl, "href": href}
            for i, (hl, href) in enumerate(p.rows)]


class _MetaKVParser(HTMLParser):
    """Collects namespaced ``<meta>`` key/value pairs in document
    order: Open Graph / article tags key on the ``property``
    attribute, Twitter-card tags on ``name`` — the two conventions
    social-card consumers must merge.  Keys lowercased; every
    occurrence emitted (first-wins is the consumer's policy, keyed by
    the emitted index)."""

    def __init__(self, prefixes: tuple[str, ...]) -> None:
        super().__init__(convert_charrefs=True)
        self._prefixes = prefixes
        self.rows: list[tuple[str, str]] = []

    def handle_starttag(self, tag, attrs):
        if tag != "meta":
            return
        d = dict(attrs)
        content = d.get("content")
        if content is None:
            return
        for attr in ("property", "name"):
            key = (d.get(attr) or "").lower().strip()
            if key and any(key.startswith(p) for p in self._prefixes):
                self.rows.append((key, content))
                return


def extract_meta_kv(
    payload: bytes,
    prefixes: tuple[str, ...] = ("og:", "twitter:", "article:"),
) -> list[dict]:
    """HTML bytes -> namespaced meta key/value rows (Open Graph,
    Twitter cards, article:* tags) with ``idx`` in document order —
    the generic kernel under social-card assembly (the consumer
    resolves duplicate keys first-wins via min idx).  Undecodable
    payloads -> no rows."""
    try:
        decoded, _codec = decode_html(payload)
        p = _MetaKVParser(prefixes)
        p.feed(decoded)
    except Exception:
        return []
    return [{"idx": i, "key": k, "content": c}
            for i, (k, c) in enumerate(p.rows)]


def _iso_date(s: str | None):
    """First 10 chars as a VALID ISO date (YYYY-MM-DD) or None — the
    shared validator under publish-date precedence (a syntactically
    present but invalid date falls through to the next source)."""
    import datetime as _dt

    if not s or len(s) < 10:
        return None
    head = s[:10]
    if len(s) > 10 and s[10] not in ("T", " "):
        return None
    try:
        return _dt.date.fromisoformat(head)
    except ValueError:
        return None


class _PublishDateParser(HTMLParser):
    """Collects the three in-markup publish-date signals in one pass:
    JSON-LD ``datePublished`` (script type=application/ld+json, top
    level or inside @graph), ``<meta property="article:published_time"
    content>`` (Open Graph article tags), and the first ``<time
    datetime>``.  Precedence is applied by the caller."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.jsonld_raw: str | None = None
        self.meta_raw: str | None = None
        self.time_raw: str | None = None
        self._in_ldjson = False
        self._buf: list[str] = []

    def handle_starttag(self, tag, attrs):
        d = dict(attrs)
        if (tag == "script"
                and (d.get("type") or "").lower().strip()
                == "application/ld+json"):
            self._in_ldjson = True
            self._buf = []
        elif (tag == "meta"
                and (d.get("property") or "").lower()
                == "article:published_time"
                and self.meta_raw is None and d.get("content")):
            self.meta_raw = d["content"].strip()
        elif (tag == "time" and self.time_raw is None
                and d.get("datetime")):
            self.time_raw = d["datetime"].strip()

    def handle_data(self, data):
        if self._in_ldjson:
            self._buf.append(data)

    def handle_endtag(self, tag):
        if tag == "script" and self._in_ldjson:
            self._in_ldjson = False
            if self.jsonld_raw is not None:
                return
            import json as _json

            try:
                obj = _json.loads("".join(self._buf))
            except Exception:
                return
            nodes = obj if isinstance(obj, list) else [obj]
            expanded: list = []
            for n in nodes:
                if isinstance(n, dict):
                    expanded.append(n)
                    g = n.get("@graph")
                    if isinstance(g, list):
                        expanded.extend(x for x in g if isinstance(x, dict))
            for n in expanded:
                v = n.get("datePublished")
                if isinstance(v, str) and v.strip():
                    self.jsonld_raw = v.strip()
                    return


def extract_publish_date(payload: bytes) -> dict:
    """HTML bytes -> the page's publish date from in-markup signals
    with htmldate-style source precedence: JSON-LD ``datePublished``
    > ``article:published_time`` meta > first ``<time datetime>``.
    A source whose value is not a valid ISO date (YYYY-MM-DD prefix)
    falls through to the next.  Returns ``{"source", "published_raw",
    "published"}`` (all None when no source yields a valid date, or on
    undecodable payloads).  URL-path fallback (/YYYY/MM/DD/) is the
    operator's job JVM-side (``operators/extract.py:
    publish_date_pages``) — it needs no Python."""
    none = {"source": None, "published_raw": None, "published": None}
    try:
        decoded, _codec = decode_html(payload)
        p = _PublishDateParser()
        p.feed(decoded)
        p.close()
    except Exception:
        return none
    for source, raw in (("jsonld", p.jsonld_raw), ("meta", p.meta_raw),
                        ("time", p.time_raw)):
        d = _iso_date(raw)
        if d is not None:
            return {"source": source, "published_raw": raw,
                    "published": d}
    return none


# Microdata value sources per the WHATWG/schema.org spec: URL-carrying
# elements contribute an attribute, everything else its text content.
_MD_VOID_TAGS = frozenset({
    "meta", "link", "img", "br", "hr", "input", "area", "source",
    "embed", "base", "col", "wbr", "track", "param",
})
_MD_URL_ATTR = {
    "a": "href", "link": "href", "area": "href",
    "img": "src", "audio": "src", "video": "src",
    "embed": "src", "iframe": "src", "source": "src",
}


class _MicrodataParser(HTMLParser):
    """Schema.org MICRODATA (itemscope/itemtype/itemprop attributes —
    the in-markup sibling of JSON-LD's script blocks) -> flat property
    rows.

    Scope tracking: ``itemscope`` opens an item covering the element's
    subtree; an ``itemprop`` binds to the NEAREST enclosing scope.
    Value source per spec: ``content`` for <meta>, ``href``/``src`` for
    url-carrying elements (_MD_URL_ATTR), ``datetime`` for <time>, else
    the element's whitespace-normalized text content (descendants
    included, as textContent does).  An element carrying BOTH itemprop
    and itemscope is a NESTED item: the property row's value is the
    reference ``#item:<idx>`` and the nested item emits its own rows.
    A space-separated itemprop emits one row per name.  An itemprop
    with no enclosing itemscope is an ``orphan_prop`` row (errors are
    rows, the engine-wide taxonomy)."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.rows: list[dict] = []
        self.items: list[str | None] = []  # item_idx -> itemtype
        self._scope: list[tuple[int, int]] = []  # (enter_depth, item_idx)
        self._caps: list[list] = []  # [close_depth, owner, prop, parts]
        self._depth = 0

    def _emit(self, owner: int | None, prop: str, value: str) -> None:
        for name in prop.split():
            self.rows.append({
                "item_idx": owner,
                "item_type": self.items[owner] if owner is not None
                else None,
                "prop": name,
                "value": value,
                "status": "ok" if owner is not None else "orphan_prop",
            })

    def handle_starttag(self, tag, attrs):
        d = dict(attrs)
        void = tag in _MD_VOID_TAGS
        prop = d.get("itemprop")
        owner = self._scope[-1][1] if self._scope else None
        nested_idx = None
        if "itemscope" in d:
            nested_idx = len(self.items)
            self.items.append(d.get("itemtype"))
        if prop is not None:
            if nested_idx is not None:
                self._emit(owner, prop, f"#item:{nested_idx}")
            elif tag == "meta":
                self._emit(owner, prop, d.get("content") or "")
            elif tag in _MD_URL_ATTR:
                self._emit(owner, prop, d.get(_MD_URL_ATTR[tag]) or "")
            elif tag == "time" and d.get("datetime") is not None:
                self._emit(owner, prop, d["datetime"])
            elif void:
                self._emit(owner, prop, "")
            else:
                self._caps.append([self._depth, owner, prop, []])
        if not void:
            self._depth += 1
            if nested_idx is not None:
                self._scope.append((self._depth, nested_idx))

    def handle_endtag(self, tag):
        if tag in _MD_VOID_TAGS:
            return
        if self._depth > 0:
            self._depth -= 1
        while self._caps and self._caps[-1][0] >= self._depth:
            _d, owner, prop, parts = self._caps.pop()
            self._emit(owner, prop, " ".join("".join(parts).split()))
        while self._scope and self._scope[-1][0] > self._depth:
            self._scope.pop()

    def handle_data(self, data):
        for cap in self._caps:
            cap[3].append(data)

    def finish(self) -> None:
        """Flush captures left open by unbalanced markup."""
        while self._caps:
            _d, owner, prop, parts = self._caps.pop()
            self._emit(owner, prop, " ".join("".join(parts).split()))


def extract_microdata(payload: bytes) -> list[dict]:
    """HTML bytes -> schema.org microdata property rows, one dict per
    (item, prop) binding: ``item_idx`` (document-order index of the
    owning itemscope), ``item_type`` (its itemtype url), ``prop``,
    ``value``, ``status`` (``ok`` | ``orphan_prop``).  Nested items
    appear twice: as a ``#item:<idx>`` reference row on the parent and
    as their own property rows.  Undecodable payloads -> no rows.

    Reference parity: the same typed-field surface as extract_jsonld
    (the reference lifts typed fields out of its model's structured
    output, /root/reference/utils/response_parser.py:91-117); microdata
    is the second of the two schema.org embeddings a crawler meets."""
    try:
        decoded, _codec = decode_html(payload)
        p = _MicrodataParser()
        p.feed(decoded)
        p.finish()
    except Exception:
        return []
    return p.rows


# --------------------------------------------------------------------------
# PDF restricted-subset parser (replaces O5's fitz page-0 rasterize)
# --------------------------------------------------------------------------

_PDF_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b(.*?)\bendobj", re.DOTALL)
_PDF_STREAM_RE = re.compile(rb"stream\r?\n(.*?)\r?\nendstream", re.DOTALL)
_PDF_PAGES_KIDS_RE = re.compile(rb"/Kids\s*\[(.*?)\]", re.DOTALL)
_PDF_REF_RE = re.compile(rb"(\d+)\s+(\d+)\s+R")
_PDF_CONTENTS_RE = re.compile(rb"/Contents\s+(\d+)\s+(\d+)\s+R")
_PDF_TYPE_PAGE_RE = re.compile(rb"/Type\s*/Page\b")

# Content-stream tokens: literal string, hex string, number, operator.
_PDF_TOK_RE = re.compile(
    rb"""(\((?:\\.|[^()\\])*\))      # literal string
       | (<[0-9A-Fa-f\s]*>)          # hex string
       | ([-+]?\d*\.?\d+)            # number
       | (BT|ET|Tj|TJ|Td|TD|Tm|T\*|Tf|TL|'|")  # operators we honor
       | (\[|\])                     # array delims
    """,
    re.VERBOSE,
)

_PDF_ESCAPES = {
    b"n": "\n", b"r": "\r", b"t": "\t", b"b": "\b", b"f": "\f",
    b"(": "(", b")": ")", b"\\": "\\",
}


def _pdf_literal_to_str(tok: bytes) -> str:
    """Decode a PDF literal string ( ... ) with backslash escapes.
    Text is latin-1 (the synth subset emits WinAnsi/ASCII only)."""
    body = tok[1:-1]
    out = []
    i = 0
    while i < len(body):
        c = body[i:i + 1]
        if c == b"\\" and i + 1 < len(body):
            nxt = body[i + 1:i + 2]
            if nxt in _PDF_ESCAPES:
                out.append(_PDF_ESCAPES[nxt])
                i += 2
                continue
            if nxt.isdigit():  # octal \ddd
                j = i + 1
                while j < len(body) and j < i + 4 and body[j:j + 1].isdigit():
                    j += 1
                out.append(chr(int(body[i + 1:j], 8) & 0xFF))
                i = j
                continue
            i += 1  # line continuation / unknown escape: drop backslash
            continue
        out.append(c.decode("latin-1"))
        i += 1
    return "".join(out)


def _pdf_hex_to_str(tok: bytes) -> str:
    hexdigits = re.sub(rb"\s", b"", tok[1:-1])
    if len(hexdigits) % 2:
        hexdigits += b"0"
    return bytes.fromhex(hexdigits.decode("ascii")).decode("latin-1")


@dataclass
class _PdfRun:
    x: float
    y: float
    text: str
    start: int  # byte offset of the string token in the pdf payload
    end: int


def _pdf_parse_content(stream: bytes, base_off: int) -> tuple[list[_PdfRun], float]:
    """Interpret the text-op subset of a content stream into positioned
    glyph runs.  Honors BT/ET, Td, TD, Tm, T*, TL, Tj, ', ", TJ.
    Returns (runs, last-seen leading) — leading drives line/block grouping."""
    runs: list[_PdfRun] = []
    x = y = 0.0
    lx = ly = 0.0   # line start (Td is relative to line start)
    leading = 14.0
    in_text = False
    stack_nums: list[float] = []
    pending_strings: list[tuple[str, int, int]] = []
    in_array = False

    def emit(s: str, so: int, eo: int) -> None:
        if s:
            runs.append(_PdfRun(x, y, s, base_off + so, base_off + eo))

    for m in _PDF_TOK_RE.finditer(stream):
        lit, hexs, num, op, arr = m.groups()
        if lit is not None:
            s = _pdf_literal_to_str(lit)
            if in_array:
                pending_strings.append((s, m.start(), m.end()))
            else:
                pending_strings = [(s, m.start(), m.end())]
        elif hexs is not None:
            s = _pdf_hex_to_str(hexs)
            if in_array:
                pending_strings.append((s, m.start(), m.end()))
            else:
                pending_strings = [(s, m.start(), m.end())]
        elif num is not None:
            stack_nums.append(float(num))
        elif arr is not None:
            if arr == b"[":
                in_array = True
                pending_strings = []
            else:
                in_array = False
        elif op is not None:
            if op == b"BT":
                in_text = True
                x = y = lx = ly = 0.0
                stack_nums = []
            elif op == b"ET":
                in_text = False
                stack_nums = []
            elif not in_text:
                stack_nums = []
            elif op == b"Td":
                if len(stack_nums) >= 2:
                    lx += stack_nums[-2]
                    ly += stack_nums[-1]
                    x, y = lx, ly
                stack_nums = []
            elif op == b"TD":
                if len(stack_nums) >= 2:
                    leading = -stack_nums[-1]
                    lx += stack_nums[-2]
                    ly += stack_nums[-1]
                    x, y = lx, ly
                stack_nums = []
            elif op == b"Tm":
                if len(stack_nums) >= 6:
                    lx, ly = stack_nums[-2], stack_nums[-1]
                    x, y = lx, ly
                stack_nums = []
            elif op == b"TL":
                if stack_nums:
                    leading = stack_nums[-1]
                stack_nums = []
            elif op == b"T*":
                ly -= leading
                x, y = lx, ly
                stack_nums = []
            elif op == b"Tf":
                stack_nums = []
            elif op in (b"Tj", b"TJ", b"'", b'"'):
                if op in (b"'", b'"'):
                    ly -= leading
                    x, y = lx, ly
                # One show op = one run: TJ array segments concatenate
                # directly (subset policy: word spacing is explicit in
                # the strings, kern numbers never imply spaces).
                if pending_strings:
                    joined = "".join(s for s, _, _ in pending_strings)
                    emit(joined, pending_strings[0][1], pending_strings[-1][2])
                    x += 6.0 * len(joined)  # nominal advance
                pending_strings = []
                stack_nums = []
    return runs, leading


# Page segmentation: recursive XY-cut (Nagy & Seth 1984; the standard
# document-layout-analysis decomposition).  The reference rasterizes
# pages and lets the OCR model handle layout (services/file_processor.py:77,
# services/gemini_service.py); this engine reconstructs reading order
# geometrically: alternately split the run set at horizontal whitespace
# bands (y-gaps) and vertical gutters (x-gaps), and emit leaves
# top-to-bottom / left-to-right.  A two-column page therefore reads
# column-by-column instead of interleaving lines across the gutter.
#
# Thresholds are conservative so single-column documents are unaffected:
# a y-cut needs a gap > 3x the line leading (block splits inside a leaf
# happen at 1.8x, so every y-cut boundary is already a block boundary —
# cut or no cut, the emitted text is identical for one-column pages),
# and an x-cut needs a gutter >= _PDF_GUTTER_MIN points that NO run
# crosses (run width estimated from the parser's nominal 6pt advance).
_PDF_GUTTER_MIN = 24.0


def _xy_cut(runs: list[_PdfRun], lead_est: float,
            depth: int = 0) -> list[list[_PdfRun]]:
    """Partition positioned runs into reading-order leaves (XY-cut)."""
    if depth >= 6 or len(runs) <= 1:
        return [runs]
    # -- y-cut: split at whitespace bands between baselines ------------
    ys = sorted({round(r.y, 3) for r in runs}, reverse=True)
    y_gap_min = max(3.0 * lead_est, 1e-6)
    thresholds = [
        (ys[i] + ys[i + 1]) / 2.0
        for i in range(len(ys) - 1)
        if ys[i] - ys[i + 1] > y_gap_min
    ]
    if thresholds:
        # thresholds descend with ys; group index = #thresholds above r.y,
        # found by bisect so a many-band page stays O(runs log cuts).
        asc = thresholds[::-1]
        groups: list[list[_PdfRun]] = [[] for _ in range(len(thresholds) + 1)]
        for r in runs:
            groups[len(asc) - bisect.bisect_right(asc, r.y)].append(r)
        out: list[list[_PdfRun]] = []
        for g in groups:
            if g:
                out.extend(_xy_cut(g, lead_est, depth + 1))
        return out
    # -- x-cut: split at gutters no run crosses ------------------------
    ivs = sorted((r.x, r.x + 6.0 * len(r.text)) for r in runs)
    merged: list[list[float]] = []
    for a, b in ivs:
        if merged and a - merged[-1][1] < _PDF_GUTTER_MIN:
            merged[-1][1] = max(merged[-1][1], b)
        else:
            merged.append([a, b])
    if len(merged) > 1:
        bounds = [m[0] - 1e-6 for m in merged[1:]]  # ascending
        groups = [[] for _ in range(len(merged))]
        for r in runs:
            groups[bisect.bisect_right(bounds, r.x)].append(r)
        # a column is a stack of lines: every side of the cut must carry
        # >=2 distinct baselines, else the gap is intra-line positioning
        # (a right-aligned tail, a table cell) and x-order on the shared
        # baseline is the correct reading order.
        if all(len({round(r.y, 3) for r in g}) >= 2 for g in groups if g):
            out = []
            for g in groups:
                if g:
                    out.extend(_xy_cut(g, lead_est, depth + 1))
            return out
    return [runs]


_PDF_FILTER_RE = re.compile(rb"/Filter\s*(?:\[\s*)?/(\w+)")
_PDF_STREAM_KW_RE = re.compile(rb"stream\r?\n")
# direct /Length only; an indirect '/Length 5 0 R' falls back to the
# delimiter scan
_PDF_LENGTH_RE = re.compile(rb"/Length\s+(\d+)(?!\s+\d+\s+R)")


def _pdf_pages(payload: bytes) -> list[tuple[bytes, int, bool, int]]:
    """Return [(content_stream_bytes, byte_offset_of_stream, exact_spans,
    raw_stream_len)] per page, in page-tree order.

    ``/Filter /FlateDecode`` streams are inflated with stdlib zlib
    (every real-world PDF uses Flate; the reference ingests arbitrary
    PDFs via fitz, services/file_processor.py:64-90).  For those,
    ``exact_spans`` is False: token offsets index the DECOMPRESSED
    stream, so the caller substitutes the compressed stream's extent in
    the payload as a coarse per-block span.  Any other filter raises
    (-> processing_error row), keeping the subset closed."""
    objs: dict[int, tuple[bytes, int]] = {}
    for m in _PDF_OBJ_RE.finditer(payload):
        objs[int(m.group(1))] = (m.group(3), m.start(3))
    # page order: find /Type /Pages object's /Kids, else all /Type /Page
    page_ids: list[int] = []
    for num, (body, _) in objs.items():
        if b"/Type" in body and b"/Pages" in body and b"/Kids" in body:
            km = _PDF_PAGES_KIDS_RE.search(body)
            if km:
                page_ids = [int(r.group(1)) for r in _PDF_REF_RE.finditer(km.group(1))]
                break
    if not page_ids:
        page_ids = sorted(
            num for num, (body, _) in objs.items()
            if _PDF_TYPE_PAGE_RE.search(body)
        )
    pages: list[tuple[bytes, int]] = []
    for pid in page_ids:
        if pid not in objs:
            continue
        body, body_off = objs[pid]
        cm = _PDF_CONTENTS_RE.search(body)
        if not cm:
            continue
        cid = int(cm.group(1))
        if cid not in objs:
            continue
        cbody, cbody_off = objs[cid]
        km = _PDF_STREAM_KW_RE.search(cbody)
        if not km:
            continue
        head = cbody[:km.start()]
        # Per ISO 32000 the stream extent is the dict's /Length — a
        # delimiter scan for 'endstream' mis-splits whenever the binary
        # (Flate) data happens to contain 'endstream'/'endobj' bytes,
        # and the object body regex may itself be truncated by an
        # embedded 'endobj'.  Slice Length bytes from the raw payload;
        # fall back to the delimiter scan only when /Length is absent
        # or indirect.
        lm = _PDF_LENGTH_RE.search(head)
        if lm:
            ln = int(lm.group(1))
            start = cbody_off + km.end()
            data = payload[start:start + ln]
            if len(data) != ln:
                raise ValueError("PDF stream /Length beyond EOF")
        else:
            sm = _PDF_STREAM_RE.search(cbody)
            if not sm:
                continue
            data = sm.group(1)
            start = cbody_off + sm.start(1)
        if b"/Filter" in head:
            fm = _PDF_FILTER_RE.search(head)
            name = fm.group(1).decode("ascii", "replace") if fm else "?"
            if name != "FlateDecode":
                raise ValueError(f"unsupported PDF filter: /{name}")
            try:
                inflated = zlib.decompress(data)
            except zlib.error as exc:
                raise ValueError(f"bad FlateDecode stream: {exc}") from exc
            pages.append((inflated, start, False, len(data)))
        else:
            pages.append((data, start, True, len(data)))
    return pages


def extract_pdf(payload: bytes, all_pages: bool = False) -> dict:
    """PDF bytes -> same shape as :func:`extract_html`.

    Default processes **page 0 only**, mirroring the reference's
    first-page rule (services/file_processor.py:77, README.md:13);
    ``all_pages=True`` extends to the whole document.  A PDF with zero
    pages is a processing_error row, mirroring the reference's 400 on
    ``doc.page_count == 0`` (services/file_processor.py:70-74).

    Reading order is reconstructed by recursive XY-cut page
    segmentation (:func:`_xy_cut`): multi-column pages emit each column
    in full, left-to-right, instead of interleaving lines across the
    gutter — the layout-analysis step the reference delegates to its
    OCR model (services/gemini_service.py:61-146).
    """
    try:
        pages = _pdf_pages(payload)
        if not pages:
            return {
                "text": "", "spans": [], "n_blocks": 0,
                "status": STATUS_PROCESSING_ERROR,
                "error_msg": "PDF has no pages",
            }
        if not all_pages:
            pages = pages[:1]
        block_texts: list[str] = []
        spans: list[tuple[int, int, str]] = []
        for stream, off, exact_spans, raw_len in pages:
            runs, leading = _pdf_parse_content(stream, off)
            if not runs:
                continue
            page_span_start = len(spans)
            # line leading estimated once per page (TL if declared, else
            # the smallest baseline gap) so every XY-cut leaf uses the
            # same block threshold the whole page would have.
            page_ys = sorted({round(r.y, 3) for r in runs}, reverse=True)
            gaps = [page_ys[i] - page_ys[i + 1]
                    for i in range(len(page_ys) - 1)]
            lead_est = leading if leading > 0 else (min(gaps) if gaps else 14.0)
            block_gap = max(lead_est * 1.8, 1e-6)
            # reading order: XY-cut leaves (top-to-bottom, left-to-right),
            # then within each leaf group runs into lines by baseline y
            # (descending) and split blocks where the y-gap exceeds
            # 1.8x the leading.
            for leaf in _xy_cut(runs, lead_est):
                lines: dict[float, list[_PdfRun]] = {}
                for r in leaf:
                    lines.setdefault(round(r.y, 3), []).append(r)
                ordered_ys = sorted(lines.keys(), reverse=True)
                cur_lines: list[str] = []
                cur_start = cur_end = -1
                prev_y = None
                for yv in ordered_ys:
                    rs = sorted(lines[yv], key=lambda r: (r.x, r.start))
                    line_text = _collapse(" ".join(r.text for r in rs))
                    s0 = min(r.start for r in rs)
                    e0 = max(r.end for r in rs)
                    if (prev_y is not None and (prev_y - yv) > block_gap
                            and cur_lines):
                        block_texts.append("\n".join(cur_lines))
                        spans.append((cur_start, cur_end, "pdfblock"))
                        cur_lines, cur_start = [], -1
                    if line_text:
                        cur_lines.append(line_text)
                        if cur_start < 0:
                            cur_start = s0
                        cur_end = e0
                    prev_y = yv
                if cur_lines:
                    block_texts.append("\n".join(cur_lines))
                    spans.append((cur_start, cur_end, "pdfblock"))
            if not exact_spans:
                # Flate page: run offsets index the decompressed stream,
                # not the payload.  Substitute the compressed stream's
                # payload extent as a coarse span for every block of
                # this page (invariant 0 <= start <= end <= len(payload)
                # still holds; kind marks the precision loss).
                spans[page_span_start:] = [
                    (off, off + raw_len, "pdfblock_flate")
                    for _ in spans[page_span_start:]
                ]
        text = "\n".join(block_texts)
        return {
            "text": text,
            "spans": spans,
            "n_blocks": len(block_texts),
            "status": STATUS_OK,
            "error_msg": None,
        }
    except Exception as exc:
        return {
            "text": "", "spans": [], "n_blocks": 0,
            "status": STATUS_PROCESSING_ERROR,
            "error_msg": f"{type(exc).__name__}: {exc}",
        }


# --------------------------------------------------------------------------
# image validity (O4: the reference PIL-opens bytes to verify integrity,
# services/file_processor.py:49-62; no codec exists in this sandbox, so
# validity = magic-byte + header parse, dimensions read from headers —
# no pixel decode needed for either)
# --------------------------------------------------------------------------

def _be(b: bytes) -> int:
    return int.from_bytes(b, "big")


def _le(b: bytes) -> int:
    return int.from_bytes(b, "little")


# JPEG start-of-frame markers (all SOFn except DHT/JPG/DAC at C4/C8/CC).
_JPEG_SOF = {0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7,
             0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF}


def parse_image_header(payload: bytes) -> dict | None:
    """Parse image dimensions from PNG/GIF/JPEG/TIFF headers (stdlib
    only, no pixel decode).  Returns {format, width, height} or None if
    the payload is not a structurally valid image header."""
    try:
        if payload.startswith(b"\x89PNG\r\n\x1a\n"):
            if payload[12:16] != b"IHDR" or len(payload) < 24:
                return None
            w, h = _be(payload[16:20]), _be(payload[20:24])
            return {"format": "png", "width": w, "height": h} if w and h else None
        if payload.startswith((b"GIF87a", b"GIF89a")):
            if len(payload) < 10:
                return None
            w, h = _le(payload[6:8]), _le(payload[8:10])
            return {"format": "gif", "width": w, "height": h} if w and h else None
        if payload.startswith(b"\xff\xd8"):
            i = 2
            while i + 4 <= len(payload):
                if payload[i] != 0xFF:
                    return None
                # legal 0xFF fill/padding bytes may precede a marker
                # (JPEG spec B.1.1.2): skip the run so the marker byte
                # is never itself read as 0xFF
                while i + 1 < len(payload) and payload[i + 1] == 0xFF:
                    i += 1
                marker = payload[i + 1]
                if marker == 0xD8 or 0xD0 <= marker <= 0xD7 or marker == 0x01:
                    i += 2
                    continue
                seg_len = _be(payload[i + 2:i + 4])
                if seg_len < 2:
                    return None
                if marker in _JPEG_SOF:
                    if i + 9 > len(payload):
                        return None
                    h = _be(payload[i + 5:i + 7])
                    w = _be(payload[i + 7:i + 9])
                    return ({"format": "jpeg", "width": w, "height": h}
                            if w and h else None)
                i += 2 + seg_len
            return None
        if payload.startswith((b"II*\x00", b"MM\x00*")):
            little = payload[:2] == b"II"
            rd = _le if little else _be
            if len(payload) < 8:
                return None
            ifd = rd(payload[4:8])
            if ifd + 2 > len(payload):
                return None
            n = rd(payload[ifd:ifd + 2])
            w = h = 0
            for k in range(n):
                e = ifd + 2 + 12 * k
                if e + 12 > len(payload):
                    return None
                tag = rd(payload[e:e + 2])
                typ = rd(payload[e + 2:e + 4])
                if tag in (256, 257):
                    val = (rd(payload[e + 8:e + 10]) if typ == 3
                           else rd(payload[e + 8:e + 12]))
                    if tag == 256:
                        w = val
                    else:
                        h = val
            return {"format": "tiff", "width": w, "height": h} if w and h else None
    except Exception:
        return None
    return None


# --------------------------------------------------------------------------
# the single per-document entry point (what the Arrow UDF batches over)
# --------------------------------------------------------------------------

def extract_bytes(payload: bytes, all_pages: bool = False,
                  profile: dict | None = None) -> dict:
    """Dispatch on sniffed kind; unsupported payloads become
    ``validation_error`` rows (the 400 analogue,
    services/file_processor.py:38-41).  ``profile`` tunes the HTML
    classifier (O7/O8: the per-lang broadcast profile resolved by the
    caller; None = defaults)."""
    if payload is None:
        payload = b""
    kind = sniff_doc_kind(bytes(payload))
    if kind == "html":
        out = extract_html(bytes(payload), profile=profile)
    elif kind == "pdf":
        out = extract_pdf(bytes(payload), all_pages=all_pages)
    elif kind == "image":
        # O4 semantics: a structurally valid image is a VALID input (the
        # reference validates and passes it through to OCR); there is no
        # deterministic pixel-to-text kernel here, so the row is ok with
        # empty text and the validity verdict in error_msg-free status.
        hdr = parse_image_header(bytes(payload))
        if hdr is not None:
            out = {
                "text": "", "spans": [], "n_blocks": 0,
                "status": STATUS_OK, "error_msg": None,
            }
        else:
            out = {
                "text": "", "spans": [], "n_blocks": 0,
                "status": STATUS_VALIDATION_ERROR,
                "error_msg": "Invalid or truncated image",
            }
    else:
        out = {
            "text": "", "spans": [], "n_blocks": 0,
            "status": STATUS_VALIDATION_ERROR,
            "error_msg": "Unsupported file format",
        }
    out["doc_kind"] = kind
    return out
