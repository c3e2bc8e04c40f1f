"""The extraction operators: vectorized Arrow-batched UDF stages.

This is the Spark expression of the reference's core extractor chain
O3->O9->O13 (services/file_processor.py dispatch, the Gemini call at
services/gemini_service.py:61-146 replaced by the deterministic oracle,
schema projection at services/business_license_processor.py:233-239).

Per BASELINE.json ``input_hint``: all hot-path work runs inside
``mapInArrow`` over Arrow record batches of the BinaryType ``html``
column — there is **no per-row Python UDF dispatch**; per-document
Python inside the batch kernel is the allowed pattern (SURVEY.md
§2.3).  The kernel is the *same* function as the pytest oracle
(`ocr_spark.extractor.core.extract_bytes`), which is what makes
byte-equality structural rather than aspirational.

Two kernels live here.  :func:`extract_pages` is the job's kernel: it
alone keeps state across batches (streaming dedup), reads a second
column (the profile key), builds a nested column (spans) and times each
row.  :func:`map_payloads` is the one scaffold for every other per-page
field operator (head fields, JSON-LD, microdata, links, dates, charsets,
and the tables/Markdown of ``operators/structure.py``): each is one
``extractor`` function applied per payload.
"""

from __future__ import annotations

import operator
import time
from functools import partial

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_type

from ocr_spark.extractor.core import (decode_html, extract_bytes,
                                      extract_http_equiv, extract_hreflang,
                                      extract_jsonld, extract_meta,
                                      extract_meta_kv, extract_microdata,
                                      extract_publish_date, extract_rel_links)

__all__ = ["extract_pages", "map_payloads",
           "extract_meta_pages", "extract_jsonld_pages", "http_equiv_pages",
           "rel_links_pages", "hreflang_pages", "publish_date_pages",
           "meta_kv_pages", "social_cards", "extract_microdata_pages",
           "sniff_charsets",
           "EXTRACT_RESULT_FIELDS", "META_RESULT_FIELDS",
           "JSONLD_RESULT_FIELDS", "HTTP_EQUIV_RESULT_FIELDS",
           "REL_LINK_RESULT_FIELDS", "HREFLANG_RESULT_FIELDS",
           "PUBLISH_DATE_RESULT_FIELDS", "META_KV_RESULT_FIELDS",
           "MICRODATA_RESULT_FIELDS", "CHARSET_RESULT_FIELDS",
           "SPAN_TYPE"]

SPAN_TYPE = T.ArrayType(
    T.StructType(
        [
            T.StructField("start", T.LongType(), False),
            T.StructField("end", T.LongType(), False),
            T.StructField("kind", T.StringType(), False),
        ]
    )
)

# Output contract of the extraction stage (FIXTURES.md §2).
EXTRACT_RESULT_FIELDS = [
    T.StructField("text", T.StringType(), True),
    T.StructField("spans", SPAN_TYPE, True),
    T.StructField("n_blocks", T.IntegerType(), True),
    T.StructField("status", T.StringType(), True),
    T.StructField("error_msg", T.StringType(), True),
    T.StructField("doc_kind", T.StringType(), True),
    T.StructField("bytes_in", T.LongType(), True),
    T.StructField("bytes_out", T.LongType(), True),
    T.StructField("extract_ms", T.LongType(), True),
]


def extract_pages(
    df: DataFrame,
    payload_col: str = "html",
    passthrough: tuple[str, ...] = ("url",),
    all_pages: bool = False,
    with_spans: bool = True,
    dedup_first: str | None = None,
    profiles: dict | None = None,
    profile_col: str | None = None,
) -> DataFrame:
    """Run the deterministic extractor over a pages DataFrame.

    Input: any DataFrame with a BinaryType ``payload_col`` plus the
    ``passthrough`` columns (carried through untouched — keep this list
    minimal so Catalyst prunes the parquet scan to exactly what the
    stage needs).  Output: passthrough columns + EXTRACT_RESULT_FIELDS.

    ``dedup_first``: name of a key column (must be in ``passthrough``)
    for streaming keep-FIRST-per-key dedup inside the kernel.  Contract:
    the input is partitioned by a pure function of the key (all captures
    of a url share a partition) and ``sortWithinPartitions(key, ...)``
    has placed the winning capture first in each key group.  This turns
    keep-latest dedup into an O(1)-state streaming filter that rides the
    one html exchange instead of costing its own shuffle of the multi-MB
    payload column (SURVEY.md §4.2 "never shuffle html twice").

    ``profiles``/``profile_col``: per-key extraction profiles (the
    reference's per-country config, O7/O8 — normalized exactly per
    config.py:31-42 rules and shipped to executors with the task
    closure, the broadcast-dim pattern).  Each row resolves
    ``profiles[lower(strip(row[profile_col]))]`` falling back to
    ``profiles['default']`` then engine defaults; the resolved dict
    tunes the HTML classifier thresholds (core._classify).

    ``extract_ms`` is wall-clock metadata (the analogue of the
    reference's declared-but-unused processing_duration_ms,
    models.py:15-18) and is excluded from determinism contracts.
    """
    if dedup_first is not None and dedup_first not in passthrough:
        raise ValueError(f"dedup_first={dedup_first!r} must be in passthrough")
    if profile_col is not None and profile_col not in passthrough:
        raise ValueError(f"profile_col={profile_col!r} must be in passthrough")
    if profiles is not None:
        from ocr_spark.extractor.profiles import normalize_config
        norm_profiles = normalize_config(profiles)
        default_profile = norm_profiles.get("default")
    else:
        norm_profiles, default_profile = {}, None
    in_fields = [df.schema[c] for c in passthrough]
    result_fields = list(EXTRACT_RESULT_FIELDS)
    if not with_spans:
        result_fields = [f for f in result_fields if f.name != "spans"]
    out_schema = T.StructType(in_fields + result_fields)
    arrow_types = {f.name: to_arrow_type(f.dataType) for f in result_fields}
    cols = list(passthrough) + [payload_col]

    # Arrow-native kernel (mapInArrow, not mapInPandas): passthrough
    # columns are forwarded zero-copy from the input RecordBatch, and
    # the spans column is assembled as flat (start, end, kind) arrays +
    # list offsets — building a Python dict per span and letting pandas
    # ->Arrow inference walk it measured ~2x the whole stage's cost on
    # boilerplate-heavy corpora.
    def kernel(batches):
        import pyarrow as pa  # executor-side import

        state = {"prev_key": None}  # streaming dedup; partition == key scope
        for batch in batches:
            if dedup_first is not None and batch.num_rows:
                keys = batch.column(cols.index(dedup_first)).to_pylist()
                prev = state["prev_key"]
                keep = [k != prev if i == 0 else k != keys[i - 1]
                        for i, k in enumerate(keys)]
                state["prev_key"] = keys[-1]
                if not all(keep):
                    batch = batch.filter(pa.array(keep, pa.bool_()))
            n = batch.num_rows
            if n == 0:
                continue
            payloads = batch.column(cols.index(payload_col)).to_pylist()
            if profile_col is not None and norm_profiles:
                row_profiles = [
                    norm_profiles.get(str(k).lower().strip(), default_profile)
                    if k is not None else default_profile
                    for k in batch.column(cols.index(profile_col)).to_pylist()
                ]
            else:
                row_profiles = [default_profile] * n
            texts, n_blocks, status, error_msg = [], [], [], []
            doc_kind, bytes_in, bytes_out, extract_ms = [], [], [], []
            s_start, s_end, s_kind = [], [], []
            s_offsets = [0]
            for payload, prof in zip(payloads, row_profiles):
                t0 = time.perf_counter()
                r = extract_bytes(payload if payload is not None else b"",
                                  all_pages=all_pages, profile=prof)
                dt_ms = int((time.perf_counter() - t0) * 1000)
                texts.append(r["text"])
                if with_spans:
                    for s, e, k in r["spans"]:
                        s_start.append(s)
                        s_end.append(e)
                        s_kind.append(k)
                    s_offsets.append(len(s_start))
                n_blocks.append(r["n_blocks"])
                status.append(r["status"])
                error_msg.append(r["error_msg"])
                doc_kind.append(r["doc_kind"])
                bytes_in.append(len(payload) if payload is not None else 0)
                bytes_out.append(len(r["text"].encode("utf-8")))
                extract_ms.append(dt_ms)
            arrays = [batch.column(cols.index(c)) for c in passthrough]
            names = list(passthrough)
            arrays.append(pa.array(texts, arrow_types["text"]))
            names.append("text")
            if with_spans:
                arrays.append(pa.ListArray.from_arrays(
                    pa.array(s_offsets, pa.int32()),
                    pa.StructArray.from_arrays(
                        [pa.array(s_start, pa.int64()),
                         pa.array(s_end, pa.int64()),
                         pa.array(s_kind, pa.string())],
                        ["start", "end", "kind"],
                    ),
                ))
                names.append("spans")
            for nm, vals in (
                ("n_blocks", n_blocks),
                ("status", status),
                ("error_msg", error_msg),
                ("doc_kind", doc_kind),
                ("bytes_in", bytes_in),
                ("bytes_out", bytes_out),
                ("extract_ms", extract_ms),
            ):
                arrays.append(pa.array(vals, arrow_types[nm]))
                names.append(nm)
            yield pa.RecordBatch.from_arrays(arrays, names)

    return df.select(*cols).mapInArrow(kernel, schema=out_schema)


def map_payloads(
    df: DataFrame,
    payload_col: str,
    passthrough: tuple[str, ...],
    fields: list[T.StructField],
    row_fn,
    many: bool = False,
) -> DataFrame:
    """Apply a per-page function to ``payload_col`` in ONE Arrow-batched
    ``mapInArrow`` pass: the output is the ``passthrough`` columns plus
    ``fields``.  ``row_fn(payload)`` gets the raw payload (``None`` for
    NULL) and returns one tuple in ``fields`` order; with ``many`` it
    returns an iterable of such tuples (0..n rows per page) and the
    passthrough values are repeated per emitted row with one ``take``.
    Passthrough columns of a one-to-one pass are forwarded zero-copy;
    the binary payload never shuffles.  Arrow types come from
    ``fields`` on the driver, so the Spark schema is the only
    declaration of each column."""
    n_pass = len(passthrough)
    names = [*passthrough, *(f.name for f in fields)]
    arrow_types = [to_arrow_type(f.dataType) for f in fields]
    out_schema = T.StructType([df.schema[c] for c in passthrough] + fields)

    def kernel(batches):
        import pyarrow as pa  # executor-side import

        for batch in batches:
            payloads = batch.column(n_pass).to_pylist()
            if many:
                idx, rows = [], []
                for i, payload in enumerate(payloads):
                    for row in row_fn(payload):
                        idx.append(i)
                        rows.append(row)
                take = pa.array(idx, pa.int64())
                arrays = [batch.column(j).take(take) for j in range(n_pass)]
            else:
                rows = [row_fn(payload) for payload in payloads]
                arrays = [batch.column(j) for j in range(n_pass)]
            values = zip(*rows) if rows else [[]] * len(fields)
            arrays += [pa.array(v, t) for v, t in zip(values, arrow_types)]
            yield pa.RecordBatch.from_arrays(arrays, names)

    return (df.select(*passthrough, payload_col)
            .mapInArrow(kernel, schema=out_schema))


def _core_pages(df, payload_col, passthrough, fields, extract, many=False):
    """:func:`map_payloads` over an ``extractor.core`` function that
    returns a dict (with ``many``, a list of dicts) keyed by the
    ``fields`` names.  A NULL payload reads as ``b""``."""
    get = operator.itemgetter(*(f.name for f in fields))

    def row_fn(payload):
        out = extract(b"" if payload is None else payload)
        return map(get, out) if many else get(out)

    return map_payloads(df, payload_col, passthrough, fields, row_fn, many)


META_RESULT_FIELDS = [
    T.StructField("title", T.StringType(), True),
    T.StructField("description", T.StringType(), True),
    T.StructField("canonical", T.StringType(), True),
    T.StructField("og_title", T.StringType(), True),
    T.StructField("h1", T.StringType(), True),
]


def extract_meta_pages(
    df: DataFrame,
    payload_col: str = "html",
    passthrough: tuple[str, ...] = ("url",),
) -> DataFrame:
    """Structured head/landmark fields per page (title, meta
    description, canonical link, og:title, first h1) — the html
    analogue of the reference's document->fixed-field-schema projection
    (services/business_license_processor.py:233-239), extracted
    deterministically by ``extractor.core.extract_meta``.

    Same shape discipline as :func:`extract_pages`: one Arrow-batched
    kernel pass (``mapInArrow``, no per-row Python dispatch), the
    binary payload never shuffles, passthrough columns are forwarded
    zero-copy, output is the skinny field projection."""
    return _core_pages(df, payload_col, passthrough, META_RESULT_FIELDS,
                       extract_meta)


JSONLD_RESULT_FIELDS = [
    T.StructField("script_idx", T.IntegerType(), True),
    T.StructField("entity_idx", T.IntegerType(), True),
    T.StructField("etype", T.StringType(), True),
    T.StructField("name", T.StringType(), True),
    T.StructField("word_count", T.LongType(), True),
    T.StructField("status", T.StringType(), True),
]


def extract_jsonld_pages(
    df: DataFrame,
    payload_col: str = "html",
    passthrough: tuple[str, ...] = ("url",),
) -> DataFrame:
    """Schema.org JSON-LD entities per page (``script
    [type=application/ld+json]`` blocks -> typed entity rows) — the
    structured-metadata modality next to :func:`extract_meta_pages`'s
    head fields; extracted by ``extractor.core.extract_jsonld``.

    One-to-many per page (a page yields 0..n entity rows), so the
    Arrow kernel repeats the passthrough values per emitted row — still
    one batched pass, no per-row Python dispatch, the binary payload
    never shuffles, malformed blocks come back as ``parse_error`` ROWS
    (the engine-wide error taxonomy), never exceptions."""
    return _core_pages(df, payload_col, passthrough, JSONLD_RESULT_FIELDS,
                       extract_jsonld, many=True)


HTTP_EQUIV_RESULT_FIELDS = [
    T.StructField("html_lang", T.StringType(), True),
    T.StructField("content_language", T.StringType(), True),
    T.StructField("refresh_delay", T.IntegerType(), True),
    T.StructField("refresh_url", T.StringType(), True),
]


def http_equiv_pages(
    df: DataFrame,
    payload_col: str = "html",
    passthrough: tuple[str, ...] = ("url",),
) -> DataFrame:
    """Head directives per page (one row each): declared language
    (``<html lang>`` + http-equiv content-language) and meta-refresh
    redirect target; extracted by ``extractor.core.extract_http_equiv``.
    One-to-ONE per page (unlike the jsonld/microdata kernels), same
    Arrow discipline: one batched pass, payload never shuffles."""
    return _core_pages(df, payload_col, passthrough,
                       HTTP_EQUIV_RESULT_FIELDS, extract_http_equiv)


REL_LINK_RESULT_FIELDS = [
    T.StructField("link_idx", T.IntegerType(), True),
    T.StructField("rel", T.StringType(), True),
    T.StructField("href", T.StringType(), True),
]


def rel_links_pages(
    df: DataFrame,
    payload_col: str = "html",
    passthrough: tuple[str, ...] = ("url",),
) -> DataFrame:
    """Typed link relations per page (``<link>/<a>/<area>`` with
    rel+href -> ``(link_idx, rel, href)`` rows): the generic kernel
    under pagination discovery (rel=next/prev), canonicalization
    (rel=canonical) and feed discovery (rel=alternate); extracted by
    ``extractor.core.extract_rel_links``.

    Same Arrow discipline as the jsonld/microdata kernels: one batched
    pass, passthrough repeated per emitted row, the binary payload
    never shuffles."""
    return _core_pages(df, payload_col, passthrough,
                       REL_LINK_RESULT_FIELDS, extract_rel_links, many=True)


HREFLANG_RESULT_FIELDS = [
    T.StructField("link_idx", T.IntegerType(), True),
    T.StructField("hreflang", T.StringType(), True),
    T.StructField("href", T.StringType(), True),
]


def hreflang_pages(
    df: DataFrame,
    payload_col: str = "html",
    passthrough: tuple[str, ...] = ("url",),
) -> DataFrame:
    """hreflang alternate declarations per page (``<link
    rel="alternate" hreflang href>`` -> ``(link_idx, hreflang, href)``
    rows): the extraction surface under multilingual translation-group
    alignment (:func:`ocr_spark.operators.web.hreflang_groups`);
    extracted by ``extractor.core.extract_hreflang``.

    Same Arrow discipline as the rel-link kernel: one batched pass,
    passthrough repeated per emitted row, the binary payload never
    shuffles."""
    return _core_pages(df, payload_col, passthrough,
                       HREFLANG_RESULT_FIELDS, extract_hreflang, many=True)


PUBLISH_DATE_RESULT_FIELDS = [
    T.StructField("source", T.StringType(), True),
    T.StructField("published_raw", T.StringType(), True),
    T.StructField("published", T.DateType(), True),
]


def publish_date_pages(
    df: DataFrame,
    payload_col: str = "html",
    url_col: str = "url",
    passthrough: tuple[str, ...] = ("url",),
) -> DataFrame:
    """Publish-date extraction per page (htmldate-style precedence):
    the in-markup sources (JSON-LD datePublished > article:
    published_time meta > first <time datetime>) come from ONE
    Arrow-batched kernel pass (``extractor.core.
    extract_publish_date``), and the final fallback — a /YYYY/MM/DD/
    url-path segment — is pure JVM expression work (regexp_extract +
    try_to_date) on the passthrough url, costing no Python at all.
    One row per page: (passthrough..., source, published_raw,
    published); all three NULL when no source yields a valid date.

    Scale: the binary payload never shuffles (kernel is a map), the
    fallback is whole-stage-codegen'd, and the output is a skinny
    (url, date) projection ready for freshness joins."""
    marked = _core_pages(df, payload_col, passthrough,
                         PUBLISH_DATE_RESULT_FIELDS, extract_publish_date)
    pat = r"/(\d{4})/(\d{2})/(\d{2})/"
    g = [F.regexp_extract(F.col(url_col), pat, i) for i in (1, 2, 3)]
    url_date = F.try_to_date(
        F.concat(g[0], F.lit("-"), g[1], F.lit("-"), g[2]))
    use_url = F.col("source").isNull() & url_date.isNotNull()
    return (marked
            .withColumn("source",
                        F.when(use_url, F.lit("url"))
                         .otherwise(F.col("source")))
            .withColumn("published_raw",
                        F.when(F.col("source") == "url",
                               F.concat(g[0], F.lit("/"), g[1],
                                        F.lit("/"), g[2]))
                         .otherwise(F.col("published_raw")))
            .withColumn("published",
                        F.when(F.col("source") == "url", url_date)
                         .otherwise(F.col("published"))))


META_KV_RESULT_FIELDS = [
    T.StructField("idx", T.IntegerType(), True),
    T.StructField("key", T.StringType(), True),
    T.StructField("content", T.StringType(), True),
]


def meta_kv_pages(
    df: DataFrame,
    payload_col: str = "html",
    passthrough: tuple[str, ...] = ("url",),
    prefixes: tuple[str, ...] = ("og:", "twitter:", "article:"),
) -> DataFrame:
    """Namespaced meta key/value rows per page (Open Graph /
    Twitter-card / article:* tags -> ``(idx, key, content)``):
    the generic kernel under social-card assembly
    (:func:`social_cards`); extracted by ``extractor.core.
    extract_meta_kv``.  Same Arrow discipline as the rel-link kernel:
    one batched pass, the binary payload never shuffles."""
    return _core_pages(df, payload_col, passthrough, META_KV_RESULT_FIELDS,
                       partial(extract_meta_kv, prefixes=prefixes),
                       many=True)


def social_cards(kv: DataFrame, ids: DataFrame,
                 id_col: str = "doc_id") -> DataFrame:
    """Social-card assembly from meta KV rows (``meta_kv_pages``
    output): per document, the resolved Open Graph core fields
    (og:title / og:description / og:image, duplicate tags resolved
    FIRST-WINS by document order), the card type (twitter:card value
    when declared, else 'og' when any OG field exists, else NULL),
    and the OG completeness count.  ``ids`` is the full document
    population — pages with no card tags come back as all-NULL rows
    (a left join), because "no card" is a signal downstream ranking
    consumes, not an absent row.

    Plan: one (id, key) hash aggregate with min_by for first-wins,
    one conditional-aggregation pivot, one broadcast-able left join —
    skinny rows throughout, no window."""
    firsts = (kv.groupBy(id_col, "key")
                .agg(F.min_by("content", "idx").alias("content")))

    def first(key: str) -> Column:
        return F.max(F.when(F.col("key") == key, F.col("content")))

    pivot = (firsts.groupBy(id_col)
             .agg(first("og:title").alias("og_title"),
                  first("og:description").alias("og_description"),
                  first("og:image").alias("og_image"),
                  first("twitter:card").alias("tw_card")))
    joined = ids.select(id_col).join(pivot, id_col, "left")
    n_og = sum(F.col(c).isNotNull().cast("long")
               for c in ("og_title", "og_description", "og_image"))
    any_og = (F.col("og_title").isNotNull()
              | F.col("og_description").isNotNull()
              | F.col("og_image").isNotNull())
    return joined.select(
        id_col,
        F.coalesce(F.col("tw_card"),
                   F.when(any_og, F.lit("og"))).alias("card_type"),
        "og_title", "og_description", "og_image",
        n_og.alias("n_og_fields"))


MICRODATA_RESULT_FIELDS = [
    T.StructField("item_idx", T.IntegerType(), True),
    T.StructField("item_type", T.StringType(), True),
    T.StructField("prop", T.StringType(), True),
    T.StructField("value", T.StringType(), True),
    T.StructField("status", T.StringType(), True),
]


def extract_microdata_pages(
    df: DataFrame,
    payload_col: str = "html",
    passthrough: tuple[str, ...] = ("url",),
) -> DataFrame:
    """Schema.org MICRODATA property rows per page (itemscope/itemprop
    attributes -> ``(item_idx, item_type, prop, value, status)``) —
    the in-markup sibling of :func:`extract_jsonld_pages`; extracted by
    ``extractor.core.extract_microdata``.

    Same shape discipline as the jsonld kernel: one-to-many per page
    with passthrough values repeated per emitted row, ONE Arrow-batched
    pass (no per-row Python dispatch), the binary payload never
    shuffles, and orphaned itemprops come back as ``orphan_prop`` ROWS
    rather than exceptions."""
    return _core_pages(df, payload_col, passthrough,
                       MICRODATA_RESULT_FIELDS, extract_microdata, many=True)


CHARSET_RESULT_FIELDS = [
    T.StructField("codec", T.StringType(), True),
    T.StructField("text", T.StringType(), True),
]


def sniff_charsets(
    df: DataFrame,
    payload_col: str = "html",
    passthrough: tuple[str, ...] = ("url",),
) -> DataFrame:
    """Charset detection + decode per page: the deterministic
    BOM > <meta charset> > strict-utf-8-probe > latin-1 ladder of
    ``extractor.core.sniff_charset`` (SURVEY.md §7.3.2), exposed as a
    standalone operator so ingest pipelines can label/partition a
    crawl by encoding before the full extraction pass.

    Mirrors the reference's mime/encoding dispatch ahead of its
    extractor (services/file_processor.py:30-47).  One ``mapInArrow``
    kernel pass (no per-row Python dispatch); emits the detected
    ``codec`` plus the decoded ``text`` (replacement-char policy, never
    fails) so downstream ops are bytes-free."""
    def row_fn(payload):
        text, codec = decode_html(b"" if payload is None else payload)
        return codec, text

    return map_payloads(df, payload_col, passthrough, CHARSET_RESULT_FIELDS,
                        row_fn)
