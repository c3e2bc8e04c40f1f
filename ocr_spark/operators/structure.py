"""Structure-preserving HTML extraction: tables and Markdown.

The main extractor (extractor/core.py) flattens a page to
boilerplate-free text — the training-corpus shape.  Two consumers
need the STRUCTURE kept instead:

* :func:`extract_tables` — ``<table>`` grids to one row per cell
  (the relational shape table-QA / table-pretraining corpora use).
* :func:`html_markdown` — a deterministic HTML→Markdown rendering
  (headings/lists/links/emphasis/code/tables), the format most
  instruction-tuning corpora store pages in.

Both run as ONE Arrow-batched kernel pass over the binary html
column (``operators.extract.map_payloads`` — the html never shuffles,
there is no per-row Python UDF dispatch), reusing the charset sniffing of
``extractor.core.decode_html``.  Parsers are the same stdlib
``html.parser`` stack as extraction — tolerant of unclosed tags.

Determinism contract (shared with the DuckDB oracles in
__spark_entry__.py): inline whitespace runs collapse to single
spaces (except inside ``<pre>``), blocks join with blank lines,
``<th>``-only first rows are header rows.  The reference has no
structure-preserving path (it returns flat field text,
services/response_parser.py); this is additive corpus capability.
"""

from __future__ import annotations

import re
from html.parser import HTMLParser

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from ocr_spark.extractor.core import decode_html
from ocr_spark.operators.extract import map_payloads

__all__ = ["parse_tables", "extract_tables", "to_markdown", "html_markdown",
           "table_records"]

_WS_RE = re.compile("[\\s\u200b\u200c\ufeff]+")  # same class as core._WS_RE


def _collapse(s: str) -> str:
    return _WS_RE.sub(" ", s).strip()


# ---------------------------------------------------------------------------
# tables
# ---------------------------------------------------------------------------

class _TableParser(HTMLParser):
    """Cells of every <table> in document order of the table START tag.

    Nested tables get their own table_idx; their cells are NOT
    attributed to the outer table (a stack tracks the innermost open
    table).  Unclosed cells/rows are committed when the enclosing
    element (or the document) ends."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.cells: list[tuple[int, int, int, bool, str]] = []
        self._stack: list[dict] = []
        self._n_tables = 0

    def _top(self):
        return self._stack[-1] if self._stack else None

    def _commit_cell(self, t) -> None:
        if t["cell"] is not None:
            t["row"].append((t["is_th"], _collapse("".join(t["cell"]))))
            t["cell"] = None

    def _commit_row(self, t) -> None:
        self._commit_cell(t)
        if t["row"] is not None:
            r = t["row_idx"]
            for c, (is_th, txt) in enumerate(t["row"]):
                self.cells.append((t["idx"], r, c, is_th, txt))
            t["row_idx"] += 1
            t["row"] = None

    def handle_starttag(self, tag, attrs):
        if tag == "table":
            self._stack.append({"idx": self._n_tables, "row": None,
                                "cell": None, "is_th": False, "row_idx": 0})
            self._n_tables += 1
            return
        t = self._top()
        if t is None:
            return
        if tag == "tr":
            self._commit_row(t)
            t["row"] = []
        elif tag in ("td", "th"):
            if t["row"] is None:      # row-less cell: implicit row
                t["row"] = []
            self._commit_cell(t)
            t["cell"] = []
            t["is_th"] = tag == "th"

    def handle_endtag(self, tag):
        t = self._top()
        if t is None:
            return
        if tag == "table":
            self._commit_row(t)
            self._stack.pop()
        elif tag == "tr":
            self._commit_row(t)
        elif tag in ("td", "th"):
            self._commit_cell(t)

    def handle_data(self, data):
        t = self._top()
        if t is not None and t["cell"] is not None:
            t["cell"].append(data)

    def close(self):
        super().close()
        while self._stack:
            self._commit_row(self._top())
            self._stack.pop()


def parse_tables(payload: bytes) -> list[tuple[int, int, int, bool, str]]:
    """``(table_idx, row_idx, col_idx, is_header, cell)`` for every
    cell of every table in the page (charset-sniffed)."""
    decoded, _codec = decode_html(payload)
    p = _TableParser()
    p.feed(decoded)
    p.close()
    return p.cells


_TABLE_SCHEMA_EXTRA = [
    T.StructField("table_idx", T.IntegerType(), False),
    T.StructField("row_idx", T.IntegerType(), False),
    T.StructField("col_idx", T.IntegerType(), False),
    T.StructField("is_header", T.BooleanType(), False),
    T.StructField("cell", T.StringType(), False),
]


def extract_tables(df: DataFrame, html_col: str = "html",
                   passthrough: tuple[str, ...] = ("url",)) -> DataFrame:
    """Explode every table cell of every page: passthrough columns +
    ``(table_idx, row_idx, col_idx, is_header, cell)``.

    Scale shape: one narrow Arrow-batched pass; output rows are skinny
    (a cell string + 3 ints), so even table-heavy pages expand to far
    fewer bytes than their html.  Pages without tables emit nothing.
    """
    return map_payloads(df, html_col, passthrough, _TABLE_SCHEMA_EXTRA,
                        lambda h: () if h is None else parse_tables(h),
                        many=True)


# ---------------------------------------------------------------------------
# markdown
# ---------------------------------------------------------------------------

_SKIP_TAGS = frozenset({"script", "style", "noscript", "template"})
_H_LEVEL = {f"h{i}": i for i in range(1, 7)}
_INLINE_MARK = {"strong": "**", "b": "**", "em": "*", "i": "*", "code": "`"}


class _MdParser(HTMLParser):
    """Deterministic best-effort HTML -> Markdown.

    Supported: h1-h6, p, br (-> space), hr, ul/ol/li (nested, 2-space
    indent), a[href] -> [text](href), img -> ![alt](src), b/strong,
    i/em, inline code, pre -> fenced block (whitespace preserved),
    blockquote (line prefix), tables -> pipe tables (first row is the
    header row).  Everything else contributes bare text.  Inline
    whitespace collapses; blocks join with one blank line."""

    def __init__(self) -> None:
        super().__init__(convert_charrefs=True)
        self.blocks: list[str] = []
        self._frags: list[str] | None = None
        self._kind: tuple | None = None      # ('p',) | ('h', n) | ('li', pfx)
        self._skip = 0
        self._bq = 0
        self._pre: list[str] | None = None
        self._lists: list[list] = []         # [tag, counter]
        self._list_lines: list[str] | None = None
        self._hrefs: list[str] = []
        self._tbl: dict | None = None

    # -- block assembly ----------------------------------------------------
    def _emit(self, text: str) -> None:
        if self._bq:
            pfx = "> " * self._bq
            text = "\n".join(pfx + ln for ln in text.split("\n"))
        self.blocks.append(text)

    def _flush(self) -> None:
        if self._frags is None:
            return
        text = _collapse("".join(self._frags))
        kind, self._frags, self._kind = self._kind, None, None
        if not text:
            return
        if kind and kind[0] == "h":
            self._emit("#" * kind[1] + " " + text)
        elif kind and kind[0] == "li":
            assert self._list_lines is not None
            self._list_lines.append(kind[1] + text)
        else:
            self._emit(text)

    def _open(self, kind: tuple) -> None:
        self._flush()
        self._kind = kind
        self._frags = []

    def _append(self, s: str) -> None:
        if self._frags is None:
            self._open(("p",))
        self._frags.append(s)

    # -- handlers ------------------------------------------------------------
    def handle_starttag(self, tag, attrs):
        if tag in _SKIP_TAGS:
            self._skip += 1
            return
        if self._skip:
            return
        if self._tbl is not None:
            self._table_start(tag)
            return
        if tag == "table":
            self._flush()
            self._tbl = {"rows": [], "row": None, "cell": None, "th": False}
        elif tag in _H_LEVEL:
            self._open(("h", _H_LEVEL[tag]))
        elif tag == "p":
            self._open(("p",))
        elif tag == "br":
            self._append(" ")
        elif tag == "hr":
            self._flush()
            self._emit("---")
        elif tag in ("ul", "ol"):
            self._flush()
            if not self._lists:
                self._list_lines = []
            self._lists.append([tag, 0])
        elif tag == "li":
            self._flush()
            if not self._lists:            # stray li: treat as ul item
                self._lists = [["ul", 0]]
                self._list_lines = []
            ltag, _n = self._lists[-1]
            self._lists[-1][1] += 1
            indent = "  " * (len(self._lists) - 1)
            marker = ("- " if ltag == "ul"
                      else f"{self._lists[-1][1]}. ")
            self._open(("li", indent + marker))
        elif tag == "blockquote":
            self._flush()
            self._bq += 1
        elif tag == "pre":
            self._flush()
            self._pre = []
        elif tag == "a":
            href = dict(attrs).get("href") or ""
            self._hrefs.append(href)
            self._append("[")
        elif tag == "img":
            a = dict(attrs)
            self._append(f"![{a.get('alt', '')}]({a.get('src', '')})")
        elif tag in _INLINE_MARK:
            self._append(_INLINE_MARK[tag])

    def handle_endtag(self, tag):
        if tag in _SKIP_TAGS:
            self._skip = max(0, self._skip - 1)
            return
        if self._skip:
            return
        if self._tbl is not None:
            self._table_end(tag)
            return
        if tag in _H_LEVEL or tag == "p" or tag == "li":
            self._flush()
        elif tag in ("ul", "ol"):
            self._flush()
            if self._lists:
                self._lists.pop()
            if not self._lists and self._list_lines is not None:
                if self._list_lines:
                    self._emit("\n".join(self._list_lines))
                self._list_lines = None
        elif tag == "blockquote":
            self._flush()
            self._bq = max(0, self._bq - 1)
        elif tag == "pre":
            if self._pre is not None:
                body = "".join(self._pre).strip("\n")
                self._emit("```\n" + body + "\n```")
                self._pre = None
        elif tag == "a":
            href = self._hrefs.pop() if self._hrefs else ""
            self._append(f"]({href})")
        elif tag in _INLINE_MARK:
            self._append(_INLINE_MARK[tag])

    def handle_data(self, data):
        if self._skip:
            return
        if self._tbl is not None:
            if self._tbl["cell"] is not None:
                self._tbl["cell"].append(data)
            return
        if self._pre is not None:
            self._pre.append(data)
            return
        if data.strip() or self._frags:
            self._append(data)

    # -- table sub-state -----------------------------------------------------
    def _table_start(self, tag):
        t = self._tbl
        if tag == "tr":
            self._tbl_commit_row()
            t["row"] = []
        elif tag in ("td", "th"):
            if t["row"] is None:
                t["row"] = []
            self._tbl_commit_cell()
            t["cell"] = []

    def _tbl_commit_cell(self):
        t = self._tbl
        if t["cell"] is not None:
            t["row"].append(_collapse("".join(t["cell"])))
            t["cell"] = None

    def _tbl_commit_row(self):
        t = self._tbl
        self._tbl_commit_cell()
        if t["row"] is not None:
            t["rows"].append(t["row"])
            t["row"] = None

    def _table_end(self, tag):
        if tag in ("td", "th"):
            self._tbl_commit_cell()
        elif tag == "tr":
            self._tbl_commit_row()
        elif tag == "table":
            self._tbl_commit_row()
            rows = self._tbl["rows"]
            self._tbl = None
            if not rows:
                return
            width = max(len(r) for r in rows)
            rows = [r + [""] * (width - len(r)) for r in rows]
            lines = ["| " + " | ".join(rows[0]) + " |",
                     "|" + " --- |" * width]
            lines += ["| " + " | ".join(r) + " |" for r in rows[1:]]
            self._emit("\n".join(lines))

    def close(self):
        super().close()
        self._flush()
        if self._tbl is not None:
            self._table_end("table")
        if self._list_lines:
            self._emit("\n".join(self._list_lines))
            self._list_lines = None


def to_markdown(payload: bytes) -> str:
    """Render a page to Markdown (charset-sniffed; deterministic)."""
    decoded, _codec = decode_html(payload)
    p = _MdParser()
    p.feed(decoded)
    p.close()
    return "\n\n".join(p.blocks)


def html_markdown(df: DataFrame, html_col: str = "html",
                  passthrough: tuple[str, ...] = ("url",)) -> DataFrame:
    """Pages -> ``passthrough + (markdown string)`` in one Arrow-batched
    narrow pass (same zero-shuffle shape as :func:`extract_tables`)."""
    return map_payloads(df, html_col, passthrough,
                        [T.StructField("markdown", T.StringType(), True)],
                        lambda h: (None if h is None else to_markdown(h),))


def table_records(cells, id_col: str = "doc_id"):
    """Header-keyed record materialization over ``extract_tables``
    cell rows — the step that turns a scraped <table> grid into the
    (record, field, value) triples table-QA and knowledge-base
    pipelines consume: every data cell pairs with its column's header
    text from the table's FIRST header row; ``record_idx`` numbers
    the data rows 0-based.  Tables with no header row emit nothing
    (no field names exist), and ragged data cells beyond the header
    width drop with the inner join — both documented contracts.

    Plan: two skinny projections of the cell table joined on
    (doc, table, col).  record_idx is pure arithmetic
    (row_idx - header_row_count; the parser emits contiguous row
    ordinals) — deliberately NOT a rank window, so a million-row
    table never funnels through one window task."""
    from pyspark.sql import functions as F

    # the cell table fans out to three consumers (header spans, field
    # row, data side); left lazy, each consumer re-runs the upstream
    # Arrow parse of every page (measured 2x the extract cost at sf0.1)
    cells = cells.localCheckpoint(eager=False)
    hdr = cells.filter(F.col("is_header"))
    spans = (hdr.groupBy(id_col, "table_idx")
             .agg(F.min("row_idx").alias("h0"),
                  (F.max("row_idx") + 1).alias("hdr_rows")))
    fields = (hdr.join(spans, [id_col, "table_idx"])
              .filter(F.col("row_idx") == F.col("h0"))
              .select(id_col, "table_idx", "col_idx",
                      F.col("cell").alias("field"), "hdr_rows"))
    data = cells.filter(~F.col("is_header"))
    return (data.join(fields, [id_col, "table_idx", "col_idx"])
            .select(
                id_col, "table_idx",
                (F.col("row_idx") - F.col("hdr_rows")).cast("int")
                 .alias("record_idx"),
                "field", F.col("cell").alias("value")))
