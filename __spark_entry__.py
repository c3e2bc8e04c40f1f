"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship extraction on sf0.001.
``queries()`` exposes one callable per implemented operator family
(SURVEY.md §2); ``oracle_sql()`` gives the DuckDB-equivalent SQL for
every SQL-expressible one.  Column names are aliased identically on
both sides (the driver hashes values after sorting columns by name).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

SF0001 = "/root/testdata/sf0.001"


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --------------------------------------------------------------------------
# flagship: wrap documents in boilerplate html, extract, byte-match
# --------------------------------------------------------------------------

_WRAP_PREFIX = (
    '<html><head><meta charset="utf-8"><title>doc</title></head><body>'
    '<nav><ul><li><a href="/home">home page link</a></li>'
    '<li><a href="/about">about this site</a></li></ul></nav>'
    "<article><p>"
)
_WRAP_SUFFIX = (
    "</p></article>"
    '<footer><p><a href="/contact">contact</a> <a href="/tos">terms</a></p>'
    "</footer></body></html>"
)


def _wrapped_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> synthetic boilerplate-wrapped pages (html binary).
    The oracle invariant: extraction strips the nav/footer and returns
    the document text byte-identically (normalization is the identity
    on these texts — asserted in tests)."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        "lang",
        F.encode(
            F.concat(F.lit(_WRAP_PREFIX), F.col("text"), F.lit(_WRAP_SUFFIX)),
            "utf-8",
        ).alias("html"),
    )


def q_flagship_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_spark.operators.extract import extract_pages

    pages = _wrapped_pages(spark, sf_dir)
    out = extract_pages(pages, payload_col="html", passthrough=("doc_id",))
    return out.select("doc_id", "text").orderBy("doc_id")


def q_profile_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O8 end-to-end through the driver oracle: per-lang extraction
    profiles change classification.  Each document rides as a lone
    <div> block (no semantic ancestor), which the Boilerpipe rules keep
    iff words > min_words — es rows get a relaxed profile (min_words=3),
    everything else the default (16), so the oracle is a closed-form
    CASE over the token count."""
    from ocr_spark.operators.extract import extract_pages

    docs = _t(spark, sf_dir, "documents")
    pages = docs.select(
        "doc_id", "lang",
        F.encode(
            F.concat(F.lit("<html><body><div>"), F.col("text"),
                     F.lit("</div></body></html>")),
            "utf-8",
        ).alias("html"),
    )
    out = extract_pages(
        pages, payload_col="html", passthrough=("doc_id", "lang"),
        profiles={"es": {"min_words": 3}}, profile_col="lang",
    )
    return out.select("doc_id", "lang", "text").orderBy("doc_id")


def q_pdf_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF-path extraction through the full driver oracle: each
    document's tokens are laid out as a deterministic restricted-subset
    PDF (8 tokens per line, 4 lines per block; odd doc_ids FlateDecode-
    compressed; every 5th doc multi-page, exercising the page-0 rule;
    every 17th an empty PDF -> processing_error row), then extracted by
    the PDF layout parser (reference capability:
    /root/reference/services/file_processor.py:64-90).  The oracle is
    closed-form: extracted text == lines of 8 tokens joined by
    newlines, n_blocks == ceil(n_lines / 4) — compression and the extra
    page change the bytes but must never change page-0 text."""
    from ocr_spark.operators.extract import extract_pages

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def build(batches):
        import pandas as pd

        from ocr_spark.data.synth import _empty_pdf, build_pdf

        for pdf in batches:
            payloads = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                if doc_id % 17 == 0:
                    payloads.append(_empty_pdf())
                    continue
                toks = (text or "").split()
                lines = [" ".join(toks[i:i + 8])
                         for i in range(0, len(toks), 8)]
                blocks = ([lines[i:i + 4] for i in range(0, len(lines), 4)]
                          or [[]])
                # operators='mixed' cycles Td/TD/Tm/T*/TJ per line — all
                # five text-positioning styles pass the same closed-form
                # oracle (geometry is canonical since the TD relative-
                # move fix in data/synth.py).
                payloads.append(build_pdf(
                    blocks, operators="mixed",
                    n_pages=2 if doc_id % 5 == 0 else 1,
                    compress=doc_id % 2 == 1,
                ))
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "payload": payloads})

    pdfs = docs.mapInPandas(build, schema="doc_id long, payload binary")
    out = extract_pages(pdfs, payload_col="payload", passthrough=("doc_id",))
    return out.select("doc_id", "text", "status", "n_blocks").orderBy("doc_id")


def q_ocr_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Glyph-level OCR through the full driver oracle — the reference's
    image->text capability (services/gemini_service.py:61-146) closed
    at the pixel level: each document's first 4 tokens (ASCII-filtered,
    uppercased, space-collapsed; 'NA' when nothing survives) are
    TYPESET into a real greyscale PNG with the fixed 5x7 bitmap font
    (operators/ocr.py), then READ BACK from pixels alone by the
    projection-profile + template-match decoder inside an Arrow kernel
    — binarize, find line bands, find glyph spans, infer spaces from
    gap widths, match cropped patterns.  Every 17th doc ships a
    truncated PNG -> processing_error row (O16).  The oracle is closed
    form: decoded text == the planted string, n_glyphs == its
    non-space length — certifying the decoder recovered the text, not
    that it echoed an input (the decoder never sees the string)."""
    from ocr_spark.operators.ocr import ocr_decode

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    from ocr_spark.functions.text import tokens

    raw = F.upper(F.regexp_replace(
        F.array_join(F.slice(tokens("text"), 1, 4), " "),
        "[^A-Za-z0-9 ]", ""))
    planted = F.trim(F.regexp_replace(raw, " +", " "))
    planted = F.coalesce(F.when(planted != "", planted), F.lit("NA"))
    docs = docs.select("doc_id", planted.alias("planted"))

    def build(batches):
        import pandas as pd

        from ocr_spark.operators.ocr import render_text_png

        for pdf in batches:
            payloads = []
            for doc_id, s in zip(pdf["doc_id"], pdf["planted"]):
                png = render_text_png(str(s))
                payloads.append(png[:30] if doc_id % 17 == 0 else png)
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "payload": payloads})

    pngs = docs.mapInPandas(build, schema="doc_id long, payload binary")
    out = ocr_decode(pngs, payload_col="payload", id_col="doc_id")
    return (out.select(F.col("media_id").cast("long").alias("doc_id"),
                       "text", "n_glyphs", "status")
            .orderBy("doc_id"))


def q_pdf_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-column PDF reading-order reconstruction through the driver
    oracle: each document's tokens (capped to 12 chars, the shared
    TWOCOL_TOKEN_CAP) are laid out as a one-page two-column PDF — a
    full-width title band over a left column (first ceil(n/2) tokens,
    one per line) and a right column (the rest) sharing baselines; docs
    with <4 tokens are single-column (the x-cut needs >=2 lines per
    side); odd doc_ids FlateDecode-compressed.  The XY-cut segmenter
    (ocr_spark.extractor.core._xy_cut, Nagy & Seth 1984) must read
    title, whole left column, whole right column — a y-sorted reader
    would interleave the columns line-by-line, which the closed-form
    oracle rejects.  Reference capability: layout analysis the service
    delegates to its OCR model (reference services/gemini_service.py:
    61-146, services/file_processor.py:77)."""
    from ocr_spark.operators.extract import extract_pages

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def build(batches):
        import pandas as pd

        from ocr_spark.data.synth import TWOCOL_TOKEN_CAP, build_pdf_two_column

        for pdf in batches:
            payloads = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = [t[:TWOCOL_TOKEN_CAP] for t in (text or "").split()]
                if len(toks) >= 4:
                    half = (len(toks) + 1) // 2
                    lefts, rights = toks[:half], toks[half:]
                else:
                    lefts, rights = toks, []
                payloads.append(build_pdf_two_column(
                    f"DOC {doc_id} TITLE", lefts, rights,
                    compress=doc_id % 2 == 1,
                ))
            yield pd.DataFrame({"doc_id": pdf["doc_id"],
                                "payload": payloads})

    pdfs = docs.mapInPandas(build, schema="doc_id long, payload binary")
    out = extract_pages(pdfs, payload_col="payload", passthrough=("doc_id",))
    return out.select("doc_id", "text", "status", "n_blocks").orderBy("doc_id")


def q_html_meta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Structured head/landmark field extraction (title, meta
    description, canonical link, og:title, first h1) — the html
    analogue of the reference's fixed-field projection
    (services/business_license_processor.py:233-239).  Each document
    becomes a page whose head fields are deterministic functions of its
    tokens (html-escaped on build, entity-unescaped by the parser — the
    round trip is part of what's tested; og:title only on even ids so
    the NULL path is exercised); the oracle reconstructs every field
    closed-form."""
    from ocr_spark.operators.extract import extract_meta_pages

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def build(batches):
        import html as _html

        import pandas as pd

        for pdf in batches:
            htmls = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = (text or "").split()
                t2 = " ".join(toks[:2])
                d8 = " ".join(toks[:8])
                og = (f'<meta property="og:title" content='
                      f'"OG {_html.escape(toks[0], quote=True)}">'
                      if doc_id % 2 == 0 and toks else "")
                htmls.append((
                    f"<html><head><title>Doc {doc_id} | "
                    f"{_html.escape(t2)}</title>"
                    f'<meta name="description" content='
                    f'"{_html.escape(d8, quote=True)}">'
                    f'<link rel="canonical" href='
                    f'"https://canon.example.com/d/{doc_id}">'
                    f"{og}</head><body><h1>H1 {_html.escape(t2)}</h1>"
                    f"<p>{_html.escape(text or '')}</p></body></html>"
                ).encode("utf-8"))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "html": htmls})

    pages = docs.mapInPandas(build, schema="doc_id long, html binary")
    out = extract_meta_pages(pages, payload_col="html",
                             passthrough=("doc_id",))
    return out.orderBy("doc_id")


def q_jsonld(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema.org JSON-LD entity extraction (the structured-metadata
    modality next to html_meta's head fields): every document becomes a
    page with an Article block (headline = first 4 tokens, wordCount =
    token count), docs with id % 3 == 0 add an @graph block (Person +
    Organization from the first two tokens), and docs with id % 17 == 0
    append a malformed block that must come back as a parse_error ROW.
    The oracle reconstructs every entity closed-form from the tokens
    (json round-trips the token strings verbatim — the text corpus is
    markup-free, asserted at build)."""
    from ocr_spark.operators.extract import extract_jsonld_pages

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def build(batches):
        import json as _json

        import pandas as pd

        for pdf in batches:
            htmls = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = (text or "").split()
                scripts = []
                if toks:
                    scripts.append(_json.dumps({
                        "@context": "https://schema.org",
                        "@type": "Article",
                        "headline": " ".join(toks[:4]),
                        "wordCount": len(toks),
                    }))
                    if doc_id % 3 == 0 and len(toks) >= 2:
                        scripts.append(_json.dumps({"@graph": [
                            {"@type": "Person", "name": toks[0]},
                            {"@type": "Organization", "name": toks[1]},
                        ]}))
                    if doc_id % 17 == 0:
                        scripts.append('{"@type": "Broken", ')
                body = "".join(
                    f'<script type="application/ld+json">{s}</script>'
                    for s in scripts)
                htmls.append((f"<html><head>{body}</head>"
                              f"<body><p>x</p></body></html>").encode())
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "html": htmls})

    pages = docs.mapInPandas(build, schema="doc_id long, html binary")
    return extract_jsonld_pages(pages, payload_col="html",
                                passthrough=("doc_id",)) \
        .orderBy("doc_id", "script_idx", "entity_idx")


def q_extract_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Extraction + per-lang lineage rollup (the groupBy counters of
    SURVEY.md §2.2 'Aggregations')."""
    from ocr_spark.operators.extract import extract_pages

    pages = _wrapped_pages(spark, sf_dir)
    out = extract_pages(pages, payload_col="html",
                        passthrough=("doc_id", "lang"))
    return (
        out.groupBy("lang")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.when(F.col("status") == "ok", 1).otherwise(0)).alias("n_ok"),
            F.sum("n_blocks").alias("sum_blocks"),
            F.sum("bytes_out").alias("sum_bytes_out"),
        )
        .orderBy("lang")
    )


# --------------------------------------------------------------------------
# dedup family
# --------------------------------------------------------------------------

def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_spark.operators.dedup import exact_dedup

    docs = _t(spark, sf_dir, "documents")
    # keys_only: the aggregate sees only (digest, doc_id); no join-back
    # re-shuffle of the text column (plan-asserted in tests/test_plans.py)
    return exact_dedup(docs, "text", "doc_id", keys_only=True)


# shared literals between q_line_dedup and its oracle: a cookie-banner
# line every doc carries, a newsletter line a third of docs carry, and
# a per-doc unique tail — the CCNet-style pass must drop the first two
# and keep body + tail.
_LD_COOKIE = "COOKIE NOTICE this site uses cookies accept to continue"
_LD_NEWS = "subscribe to our newsletter for updates"


def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Line-level boilerplate dedup (CCNet/RefinedWeb pass): derive a
    multi-line corpus from documents (testdata texts are single-line)
    with deterministic shared-literal boilerplate lines, then drop
    every trimmed line that appears in >=2 distinct docs."""
    from ocr_spark.operators.dedup import line_dedup

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.lit(_LD_COOKIE),
            F.col("text"),
            F.when(F.col("doc_id") % 3 == 0, F.lit(_LD_NEWS)).otherwise(
                F.concat(F.lit("ref code "), F.col("doc_id"))
            ),
        ).alias("text"),
    )
    return line_dedup(docs, "doc_id", "text",
                      min_dup_docs=2, min_line_chars=10)


# shared literals between q_substr_dedup and its oracle: a license
# disclaimer every 5th doc carries and a promo phrase every 7th doc
# carries (both longer than k tokens, so the whole passage is covered
# by duplicated k-gram windows), on top of the corpus's ORGANIC
# duplicated 5-grams (31-word vocabulary — ~70 sf0.01 docs collide)
_SD_DISC = ("all rights reserved unauthorized reproduction of this "
            "material is strictly prohibited")
_SD_PROMO = "click here to subscribe and save twenty percent today"


def q_substr_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-document dedup (ExactSubstr, Lee et al. 2022): drop every
    token covered by a 5-gram occurring >= 2 times corpus-wide — the
    pass that strips the injected license/promo passages AND organic
    body collisions that document- and line-level dedup both miss.
    Runs the production gram_key='xxhash64' path: final text is
    hash-free, so the oracle certifies it without an md5 mode."""
    from ocr_spark.operators.dedup import drop_duplicated_spans

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 5 == 0,
                   F.lit(" " + _SD_DISC)).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 7 == 0,
                   F.lit(" " + _SD_PROMO)).otherwise(F.lit("")),
        ).alias("text"),
    )
    return drop_duplicated_spans(docs, "doc_id", "text",
                                 k=5, min_count=2)


def q_dedup_keep_latest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Window keep-latest per user over events (the per-url dedup
    pattern of the pages pipeline, on the driver tables)."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(
        F.col("ts").desc(), F.col("event_id").desc()
    )
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type")
    )


def _docs_with_near_dups(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents ∪ perturbed copies (first token dropped, id+1000000):
    a deterministic near-dup population for the similarity-dedup ops."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    mutated = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.ltrim(
            F.substring(
                F.col("text"), F.instr(F.col("text"), " ") + 1, 10_000_000
            )
        ).alias("text"),
    ).filter(F.instr(F.col("text"), " ") > 0)
    # explicit fan-out: the sf tables are single small parquet files (one
    # input split), but shingling/hashing is compute-bound — without this
    # the whole MinHash/SimHash stage runs on one core
    return docs.unionByName(mutated).repartition(
        spark.sparkContext.defaultParallelism
    )


def q_minhash_lsh_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded MinHash-LSH candidates in the md5_affine production mode:
    ONE md5-derived 60-bit base hash per shingle + 16 literal affine
    transforms mod 2^31-1 (vs 16 md5 digests per shingle in the legacy
    'md5' mode — the #1 round-3 bench cost).  Still fully value-oracled:
    DuckDB re-derives the identical integer signatures from the same
    coefficient literals."""
    from ocr_spark.operators.dedup import lsh_candidate_pairs

    docs = _docs_with_near_dups(spark, sf_dir)
    return lsh_candidate_pairs(docs, "doc_id", "text",
                               n_hashes=16, bands=8, shingle_k=3,
                               hash_mode="md5_affine")


def q_edit_verify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-level near-dup verification
    (operators/dedup.py:edit_verify): the MinHash-LSH candidates
    re-scored by exact Levenshtein similarity on 200-char prefixes —
    the check that catches typo/OCR/template-number edits token-set
    Jaccard misses.  Both engines run their native levenshtein over
    the same candidate CTE, so distance AND similarity are
    value-oracled."""
    from ocr_spark.operators.dedup import edit_verify, lsh_candidate_pairs

    docs = _docs_with_near_dups(spark, sf_dir)
    pairs = lsh_candidate_pairs(docs, "doc_id", "text",
                                n_hashes=16, bands=8, shingle_k=3,
                                hash_mode="md5_affine")
    return edit_verify(pairs, docs, max_chars=200).orderBy("id_a", "id_b")


def q_cross_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-corpus near-dup candidates: the mutated twins (the
    incoming snapshot) LSH-joined against the ORIGINAL documents (the
    accumulated corpus) — the fuzzy analogue of bloom_dedup's exact
    incremental membership, and the recurring-crawl composition: new
    x base only, never a self-join of the base side
    (operators/dedup.py:lsh_cross_pairs)."""
    from ocr_spark.operators.dedup import lsh_cross_pairs

    both = _docs_with_near_dups(spark, sf_dir)
    new = both.filter(F.col("doc_id") >= 1_000_000)
    base = both.filter(F.col("doc_id") < 1_000_000)
    return lsh_cross_pairs(new, base, n_hashes=16, bands=8, shingle_k=3,
                           hash_mode="md5_affine")


def q_cdc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined chunking over documents PLUS one-token-prefixed
    copies (ids + 1M): because boundaries are functions of token
    content, the prefixed copy re-synchronizes after the first
    boundary and every downstream chunk keeps its digest — the
    storage-dedup property fixed-size chunking lacks (pytest asserts
    the shared-digest rate; the oracle re-derives every chunk row)
    (operators/dedup.py:cdc_chunks)."""
    from ocr_spark.operators.dedup import cdc_chunks

    base = _t(spark, sf_dir, "documents").select("doc_id", "text")
    shifted = base.filter(F.length(F.trim("text")) > 0).select(
        (F.col("doc_id") + 1_000_000).alias("doc_id"),
        F.concat(F.lit("INSERTED "), F.col("text")).alias("text"),
    )
    return cdc_chunks(base.unionByName(shifted), divisor=16) \
        .orderBy("doc_id", "chunk_idx")


def q_snapshot_update(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The recurring-crawl composition in ONE plan: an incoming
    snapshot (near-dup twins + token-reversed fresh docs + every-10th
    verbatim copy) is admitted against the accumulated corpus through
    three staged gates with a drop-reason precedence — exact digest
    membership first (one skinny distinct-digest semi-probe), then
    cross-corpus LSH near-dup (lsh_cross_pairs: one banded equi-join,
    new x base only), then the composite quality filter (per-row, zero
    shuffle).  Output is attribute-style: every snapshot doc with
    (accepted, reason), reason 'ok' for admitted rows.  This is the
    production loop bloom_dedup/cross_dedup/quality_filter exist FOR;
    composition is where contract mismatches hide, so it gets its own
    driver oracle chaining the per-stage oracles as CTEs."""
    from ocr_spark.functions.quality import with_quality_filter
    from ocr_spark.functions.text import tokens
    from ocr_spark.operators.dedup import lsh_cross_pairs

    base = _t(spark, sf_dir, "documents").select("doc_id", "text")
    twins = _docs_with_near_dups(spark, sf_dir) \
        .filter(F.col("doc_id") >= 1_000_000)
    fresh = base.select(
        (F.col("doc_id") + 2_000_000).alias("doc_id"),
        F.array_join(F.reverse(tokens("text")), " ").alias("text"),
    )
    verbatim = base.filter(F.col("doc_id") % 10 == 0).select(
        (F.col("doc_id") + 3_000_000).alias("doc_id"), "text")
    new = twins.unionByName(fresh).unionByName(verbatim)

    dig = base.select(F.md5("text").alias("_d")).distinct() \
        .withColumn("_exact", F.lit(True))
    flagged = new.join(dig, F.md5(F.col("text")) == F.col("_d"), "left") \
        .drop("_d")
    near = (lsh_cross_pairs(new, base, n_hashes=16, bands=8, shingle_k=3,
                            hash_mode="md5_affine")
            .select(F.col("new_id").alias("doc_id")).distinct()
            .withColumn("_near", F.lit(True)))
    q = with_quality_filter(flagged).join(near, "doc_id", "left")
    reason = (F.when(F.col("_exact"), F.lit("exact_dup"))
              .when(F.col("_near"), F.lit("near_dup"))
              .otherwise(F.col("drop_reason")))
    return (q.select("doc_id", reason.alias("reason"))
            .withColumn("accepted", F.col("reason") == "ok")
            .select("doc_id", "accepted", "reason")
            .orderBy("doc_id"))


def q_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Standalone exact Jaccard join WITH the hot-shingle guard
    (max_df): a shingle shared by more than 100 docs is dropped from
    intersection counting before the self-join, bounding the quadratic
    blowup web boilerplate would otherwise cause.  The scale-correct
    composition for full-population dedup remains lsh_jaccard."""
    from ocr_spark.operators.dedup import ngram_jaccard_pairs

    docs = _docs_with_near_dups(spark, sf_dir)
    return ngram_jaccard_pairs(docs, "doc_id", "text",
                               shingle_k=3, threshold=0.5, max_df=100)


def q_containment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Asymmetric n-gram CONTAINMENT join — the quotation/subset
    detector Jaccard misses: a short doc fully embedded in a long one
    has tiny Jaccard (union dominated by the long doc) but containment
    ≈ 1.0 short→long.  Same exploded-equi-join shape and max_df
    hot-shingle guard as ngram_jaccard; emits both directions per
    unordered pair, kept when either exceeds the threshold
    (operators/dedup.py:ngram_containment_pairs)."""
    from ocr_spark.operators.dedup import ngram_containment_pairs

    docs = _docs_with_near_dups(spark, sf_dir)
    return ngram_containment_pairs(docs, "doc_id", "text",
                                   shingle_k=3, threshold=0.6, max_df=100)


def q_tfidf_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sparse TF-IDF cosine near-dup join: the lexical-vector detector
    between set-semantics Jaccard and model-dependent embedding cosine
    — rare shared terms dominate, boilerplate contributes ~nothing.
    max_df=150 drops ultra-common terms from the vectors (numerator
    AND norms — a true cosine over the restricted vocabulary) and
    bounds the per-term join fan-out
    (operators/index.py:tfidf_cosine_pairs)."""
    from ocr_spark.operators.index import tfidf_cosine_pairs

    docs = _docs_with_near_dups(spark, sf_dir)
    return tfidf_cosine_pairs(docs, "doc_id", "text",
                              threshold=0.6, max_df=150)


def q_lsh_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The production dedup composition: LSH candidates -> exact
    n-gram-Jaccard verification on candidates only (never the full
    quadratic shingle join)."""
    from ocr_spark.operators.dedup import lsh_jaccard_pairs

    docs = _docs_with_near_dups(spark, sf_dir)
    return lsh_jaccard_pairs(docs, "doc_id", "text", n_hashes=16, bands=8,
                             shingle_k=3, threshold=0.5,
                             hash_mode="md5_affine")


def q_dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pairs -> clusters: MinHash-LSH candidates fed through alternating
    large-star/small-star connected components (Kiveris et al., SoCC
    2014), labeling every doc in the near-dup population with the min
    doc_id of its duplicate cluster plus the cluster size.  This is the
    step an actual 100-TB dedup run ends with — keep doc_id ==
    cluster_id, drop the rest.  Oracled in DuckDB by a recursive-CTE
    transitive closure over the same LSH candidate edges."""
    from ocr_spark.operators.dedup import near_dup_clusters

    docs = _docs_with_near_dups(spark, sf_dir)
    return near_dup_clusters(docs, "doc_id", "text",
                             n_hashes=16, bands=8, shingle_k=3,
                             hash_mode="md5_affine")


def q_cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe train/val/test split: hash the near-dup CLUSTER
    label, not the document id, so a document and its 95%-identical
    twin can never straddle splits (the contamination mode per-doc
    hash splits silently reintroduce).  Composition: near_dup_clusters
    (LSH candidates -> large-star/small-star CC) -> cluster_split —
    one per-row expression on top of the clusterer's output, zero
    extra shuffle (operators/corpus.py:cluster_split)."""
    from ocr_spark.operators.corpus import cluster_split
    from ocr_spark.operators.dedup import near_dup_clusters

    docs = _docs_with_near_dups(spark, sf_dir)
    clusters = near_dup_clusters(docs, "doc_id", "text",
                                 n_hashes=16, bands=8, shingle_k=3,
                                 hash_mode="md5_affine")
    return cluster_split(clusters, SPLIT_SHARES, "cluster_id",
                         salt="clsplit")


def q_split_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The leakage AUDIT that justifies cluster_split: count LSH
    near-dup pairs whose members landed in DIFFERENT splits under (a)
    per-document hash splitting and (b) cluster-hashed splitting.
    Per-doc hashing strands twins across train/val (a positive count —
    the contamination eval suites suffer from); cluster hashing is
    leakage-free BY CONSTRUCTION, and its row here must be 0.  One
    extra skinny join per method on top of the existing candidates +
    clusters plans."""
    from ocr_spark.operators.corpus import cluster_split, data_split
    from ocr_spark.operators.dedup import (lsh_candidate_pairs,
                                           near_dup_clusters)

    docs = _docs_with_near_dups(spark, sf_dir)
    pairs = lsh_candidate_pairs(docs, "doc_id", "text",
                                n_hashes=16, bands=8, shingle_k=3,
                                hash_mode="md5_affine")
    naive = data_split(docs, SPLIT_SHARES).select("doc_id", "split")
    clusters = near_dup_clusters(docs, "doc_id", "text",
                                 n_hashes=16, bands=8, shingle_k=3,
                                 hash_mode="md5_affine")
    safe = cluster_split(clusters, SPLIT_SHARES, "cluster_id",
                         salt="clsplit").select("doc_id", "split")

    def cross(splits: DataFrame, method: str) -> DataFrame:
        a = splits.withColumnsRenamed({"doc_id": "id_a", "split": "s_a"})
        b = splits.withColumnsRenamed({"doc_id": "id_b", "split": "s_b"})
        return (pairs.join(a, "id_a").join(b, "id_b")
                .agg(F.lit(method).alias("method"),
                     F.sum(F.when(F.col("s_a") != F.col("s_b"), 1)
                           .otherwise(0)).cast("long")
                     .alias("n_cross_split_pairs"),
                     F.count(F.lit(1)).cast("long").alias("n_pairs")))

    return (cross(naive, "doc_hash")
            .unionByName(cross(safe, "cluster_hash"))
            .orderBy("method"))


def q_cluster_best(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keep-best-per-cluster: the near-dup clusters of q_dedup_clusters
    reduced to one representative each — the LONGEST member (ties ->
    lowest doc_id), the keep-the-fullest-capture policy a production
    dedup run applies instead of keep-min-id.  Oracled by extending the
    dedup_clusters recursive-CTE closure with a per-cluster argmax."""
    from ocr_spark.operators.dedup import (cluster_representatives,
                                           near_dup_clusters)

    docs = _docs_with_near_dups(spark, sf_dir)
    clusters = near_dup_clusters(docs, "doc_id", "text",
                                 n_hashes=16, bands=8, shingle_k=3,
                                 hash_mode="md5_affine")
    # cast: DuckDB length() is BIGINT, Spark's is INT — the driver's
    # schema gate compares dtypes, not just names
    scores = docs.select("doc_id", F.length("text").cast("long").alias("len"))
    return cluster_representatives(clusters, scores, key_col="doc_id",
                                   score_col="len")


def q_simhash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup with the md5-derived 60-bit token hash, fully
    value-oracled: DuckDB re-derives the same simhash from
    ('0x'||substr(md5(t),1,15))::BIGINT and brute-forces hamming <= h
    (the oracle checks OUTPUT equality; the engine's pigeonhole
    blocking is a pure-performance strategy whose exact recall is
    property-tested blocked==bruteforce).  Production default stays
    xxhash64 (JVM-native, ~2x faster) — hash_mode only swaps the token
    hash family.  Blocking derived from the threshold (h+1 chunks);
    bucket cap kept reportable (simhash_bucket_overflow, never
    silent) and sized ABOVE the bench corpus's worst chunk bucket
    (945 ids at sf0.1) so the value oracle stays exact through
    sf0.1 — at 500 the cap silently desynced the sf0.1 twin by 213
    dropped pairs, caught by the sf0.1 parity sweep."""
    from ocr_spark.operators.dedup import simhash_near_dup_pairs

    docs = _docs_with_near_dups(spark, sf_dir)
    return simhash_near_dup_pairs(docs, "doc_id", "text", max_hamming=4,
                                  max_bucket_size=2000, hash_mode="md5_64")


# shared with the oracles below: thresholds chosen so the certified
# pair population is non-trivial at the driver scale (round-3 VERDICT:
# at 0.5 both queries returned 1 row, so the hash gate compared almost
# nothing; 0.4/0.3 certify ~59 and ~135 pairs at sf0.01)
EMBED_BRUTE_THRESHOLD = 0.4
EMBED_LSH_THRESHOLD = 0.3


def q_embed_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact cosine near-dup pairs (blocked-GEMM brute force; one side
    broadcast like a broadcast join).  The LSH-bucketed scale variant
    is q_ann_topk / cosine_near_dup_pairs."""
    from ocr_spark.operators.similarity import cosine_pairs_bruteforce

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return cosine_pairs_bruteforce(emb, threshold=EMBED_BRUTE_THRESHOLD)


# --------------------------------------------------------------------------
# similarity search
# --------------------------------------------------------------------------

def q_embed_near_dup_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scale-path embedding near-dup (the 100-TB headline): candidates
    restricted to LSH buckets (equi-join, never all-pairs), exact
    cosine only within buckets.  Fully oracled: the hyperplanes are
    rational literals (similarity._hyperplanes rounds to 3 decimals) so
    DuckDB re-derives identical bucket assignments."""
    from ocr_spark.operators.similarity import cosine_near_dup_pairs

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return cosine_near_dup_pairs(emb, dim=64, threshold=EMBED_LSH_THRESHOLD,
                                 n_planes=4)


def q_triplets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contrastive triplet mining (similarity.py:triplet_mine): for
    each anchor, most-similar same-LSH-bucket neighbor >= 0.3 as the
    positive, most-similar neighbor <= 0.0 as the hard negative,
    6-dp ties to the smaller id.  Same literal hyperplanes as the
    near-dup path, so the oracle re-derives buckets and replays the
    argmax windows."""
    from ocr_spark.operators.similarity import triplet_mine

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    return (triplet_mine(emb, dim=64, t_pos=0.3, t_neg=0.0, n_planes=4)
            .orderBy("anchor"))


def q_cloze_qa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cloze QA synthesis (operators/corpus.py:cloze_qa) straight
    over the documents table — no planting needed: answer selection
    is the integer (df, term) struct-min and the oracle is a full
    second implementation (same sentence regex, token split, df
    aggregate, argmin window, list_transform rebuild)."""
    from ocr_spark.operators.corpus import cloze_qa

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return cloze_qa(docs).orderBy("doc_id", "sent_idx")


def q_span_qa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-offset QA: explode the extraction's span array and roll up
    per span kind (count, covered bytes).  Oracled: on the wrapped
    corpus the kept block is exactly the article <p> whose span covers
    the document text, so covered bytes == sum of utf-8 text lengths
    and the count is the docs passing the >=2-word content rule.
    Offset-correctness (0 <= start < end <= input length, slices
    decode to the block text) is additionally asserted in pytest."""
    from ocr_spark.operators.extract import extract_pages

    pages = _wrapped_pages(spark, sf_dir)
    out = extract_pages(pages, payload_col="html", passthrough=("doc_id",))
    return (
        out.select(F.explode("spans").alias("s"))
        .groupBy(F.col("s.kind").alias("kind"))
        .agg(
            F.count("*").alias("n_spans"),
            F.sum(F.col("s.end") - F.col("s.start")).alias("covered_bytes"),
        )
        .orderBy("kind")
    )


def q_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_spark.operators.similarity import cosine_topk

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    return cosine_topk(queries, emb, k=5).select(
        "query_id", "neighbor_id", "rank"
    )


def q_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed approximate top-k (scale path) WITH multi-probe:
    each query probes its exact bucket plus the 1-bit-flip neighbor of
    its smallest-|margin| hyperplane (Lv et al. VLDB'07) — the recall
    knob a production ANN run always turns on.  Fully oracled: bucket
    assignment AND the probe set derive from the literal rational
    hyperplanes (margins ranked at round-6, ties by plane index), so
    DuckDB reproduces both; ranks (not raw cosines) are the compared
    output, with a deterministic tie-break."""
    from ocr_spark.operators.similarity import ann_topk_lsh

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    return ann_topk_lsh(queries, emb, dim=64, k=5, n_planes=6,
                        multi_probe=1).select(
        "query_id", "neighbor_id", "rank"
    )


def q_ann_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ANN self-evaluation IN the contract: recall@5 of the multi-probe
    LSH path against the exact cosine top-5, per query — the accuracy
    number that was previously only a pytest property now passes
    through the driver's value gate (round-3 lesson applied to
    retrieval quality itself).  One skinny join of two id sets.

    Note the MEASUREMENT is what's certified, not a high score: the
    sf corpora are i.i.d. random embeddings — near-orthogonal vectors
    are LSH's worst case, and recall at this tiny scale/config is
    honestly low.  The clustered-data pytest property
    (test_operators.py) is where the accuracy floor is asserted;
    production tunes planes/probes per corpus using exactly this
    report."""
    exact = q_cosine_topk(spark, sf_dir).select("query_id", "neighbor_id")
    approx = q_ann_topk(spark, sf_dir).select("query_id", "neighbor_id")
    hit = (exact.join(approx, ["query_id", "neighbor_id"])
           .groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hit")))
    base = exact.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_exact"))
    return (
        base.join(hit, "query_id", "left")
        .select(
            "query_id", "n_exact",
            F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
            F.round(F.coalesce("n_hit", F.lit(0)) / F.col("n_exact"), 6)
            .alias("recall"),
        )
        .orderBy("query_id")
    )


def q_ivf_recall(spark: SparkSession, sf_dir: str) -> DataFrame:
    """recall@5 of the IVF-Flat path against exact cosine — the
    ann_recall twin for the second ANN family (nprobe=2 of 8 lists,
    so the ceiling is what the probed cells contain; production dials
    nprobe per corpus using exactly this report)."""
    exact = q_cosine_topk(spark, sf_dir).select("query_id", "neighbor_id")
    approx = q_ann_topk_ivf(spark, sf_dir).select("query_id", "neighbor_id")
    hit = (exact.join(approx, ["query_id", "neighbor_id"])
           .groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hit")))
    base = exact.groupBy("query_id").agg(
        F.count(F.lit(1)).alias("n_exact"))
    return (
        base.join(hit, "query_id", "left")
        .select(
            "query_id", "n_exact",
            F.coalesce("n_hit", F.lit(0)).alias("n_hit"),
            F.round(F.coalesce("n_hit", F.lit(0)) / F.col("n_exact"), 6)
            .alias("recall"),
        )
        .orderBy("query_id")
    )


def q_ann_topk_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-Flat approximate top-k (the other standard web-scale ANN
    shape next to LSH): corpus in one inverted list each, queries probe
    their nprobe=2 nearest lists, per-list GEMM scoring.  Oracled via
    the seed-deterministic rational-literal centroids (same contract as
    the LSH hyperplanes); ranks are the compared output."""
    from ocr_spark.operators.similarity import ann_topk_ivf, ivf_centroids

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    cents = ivf_centroids(dim=64, n_centroids=8, seed=7)
    return ann_topk_ivf(queries, emb, cents, k=5, nprobe=2).select(
        "query_id", "neighbor_id", "rank"
    )


def q_ann_topk_ivfpq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-PQ top-k with asymmetric distance (FAISS IVFPQ search): the
    scoring cogroup receives 8 one-byte PQ codes per corpus vector
    instead of the raw 64-dim vector (a 32x smaller exchange than
    ann_topk_ivf), each probing query builds one 8x8 LUT per list and
    candidates cost 8 table gathers.  Fully value-oracled: both the
    codes and the per-subspace LUT distances re-derive in DuckDB from
    the same rational-literal quantizer + codebooks, and adc_dist
    itself is compared (not just ranks)."""
    from ocr_spark.operators.similarity import (ann_topk_ivfpq,
                                                ivf_centroids, pq_codebooks)

    emb = _t(spark, sf_dir, "embeddings")
    queries = emb.filter(F.col("vec_id") < 8)
    cents = ivf_centroids(dim=64, n_centroids=8, seed=7)
    books = pq_codebooks(dim=64, m=8, k=8, seed=13)
    # encoder='arrow': the PRODUCTION encode kernel passes through the
    # correctness gate itself (codes are bit-identical to the
    # expression fold the oracle re-derives — the round-3 multi-probe
    # lesson: don't leave the production path pytest-only)
    return ann_topk_ivfpq(queries, emb, cents, books, k=5, nprobe=2,
                          encoder="arrow")


def q_pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product-quantization encoding (Jegou et al. 2011 / FAISS IVF-PQ
    layout): every 64-dim embedding compressed to 8 centroid ids (one
    per 8-dim subspace, nearest by round-6 squared L2, ties -> lowest
    id) — the 32x storage compression a 100-TB embedding column needs.
    Fully value-oracled from the rational-literal codebooks."""
    from ocr_spark.operators.similarity import pq_codebooks, pq_encode

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    books = pq_codebooks(dim=64, m=8, k=8, seed=13)
    return pq_encode(emb, books)


# threshold chosen so the certified drop population is non-trivial at
# both parity scales (14/500 dropped at sf0.01, 235/2000 at sf0.1; 0.5
# drops zero rows at sf0.01 and the gate would certify nothing)
def q_pq_error(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ quantization-error report: every vector's squared L2
    distance to its own code reconstruction (Σ_j round6-sqdist of
    subvector j to its chosen centroid) — the calibration signal that
    says whether the 32x compression is hurting retrieval before you
    ship the codes.  Zero shuffle: the per-subspace distances are the
    SAME expressions pq_encode minimizes, re-emitted for the argmin
    instead of discarded."""
    from ocr_spark.operators.similarity import (_sq_dist, pq_codebooks,
                                                pq_encode)

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    books = pq_codebooks(dim=64, m=8, k=8, seed=13)
    sub = 64 // len(books)
    enc = pq_encode(emb, books, keep_cols=("embedding",))
    err = None
    for j, book in enumerate(books):
        piece = F.slice(F.col("embedding"), j * sub + 1, sub)
        dj = F.lit(None).cast("double")
        for cid, cvec in enumerate(book):
            d = F.round(_sq_dist(
                piece, F.array(*[F.lit(float(x)) for x in cvec])), 6)
            dj = F.when(F.col(f"code_{j}") == cid, d).otherwise(dj)
        err = dj if err is None else err + dj
    return enc.select(
        "vec_id", F.round(err, 6).alias("sq_err")
    ).orderBy("vec_id")


SEMDEDUP_THRESHOLD = 0.4


def q_semantic_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al., arXiv 2303.09540):
    IVF-quantizer clusters, then within each cluster drop the
    epsilon-ball members that a lower-(cent_sim, id) near-identical
    neighbor dominates.  Fully value-oracled: assignment and cent_sim
    derive from the rational-literal centroids (same contract as
    ann_topk_ivf) and the keep rule is a closed-form domination join in
    DuckDB.  Output is attribute-style (one row per vector with a
    ``kept`` flag) so the hash gate certifies every decision, not just
    the survivors."""
    from ocr_spark.operators.similarity import ivf_centroids, semantic_dedup

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    cents = ivf_centroids(dim=64, n_centroids=8, seed=7)
    return semantic_dedup(emb, cents, threshold=SEMDEDUP_THRESHOLD)


def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Backward as-of join: every click event gains the latest
    preceding view (same user, view.ts <= click.ts) — the align-events-
    with-current-state join.  Engine: union-tag + one exchange by key +
    last(ignorenulls) carry (never an inequality join).  Oracle:
    DuckDB's native ASOF LEFT JOIN."""
    from ocr_spark.operators.temporal import asof_join

    ev = _t(spark, sf_dir, "events")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts")
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id", "value")
    return asof_join(clicks, views, key_col="user_id", ts_col="ts",
                     tie_col="event_id").select(
        "event_id", "user_id", "r_event_id", "r_value")


def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (containment) join: sampled click values joined into
    [value, value+1) intervals around sampled error values — the
    value-tier / ip-range lookup shape.  Engine: fixed-width binning +
    equi-join on the bin (a pair meets only in the point's single bin,
    no dedup); the oracle is the plain inequality join."""
    from ocr_spark.operators.temporal import range_join

    ev = _t(spark, sf_dir, "events")
    points = ev.filter(
        (F.col("event_type") == "click") & (F.col("event_id") % 3 == 0)
    ).select(F.col("event_id").alias("p_id"), F.col("value").alias("v"))
    intervals = ev.filter(
        (F.col("event_type") == "error") & (F.col("event_id") % 5 == 0)
    ).select(
        F.col("event_id").alias("i_id"),
        F.col("value").alias("lo"),
        (F.col("value") + 1.0).alias("hi"),
    )
    return range_join(points, intervals, point_col="v", lo_col="lo",
                      hi_col="hi", bin_width=8.0).select(
        "p_id", "i_id", "v", "lo")


def q_capture_history(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 validity intervals over the events capture stream (entity =
    user_id, capture order = ts with event_id tie-break): version,
    valid_from, valid_to (NULL = current), is_current.  One window
    keyed by the entity — per-key cardinality is the revisit rate,
    never the corpus."""
    from ocr_spark.operators.snapshot import capture_history

    ev = _t(spark, sf_dir, "events").select("event_id", "user_id", "ts")
    return capture_history(ev, key_col="user_id", ts_col="ts",
                           tie_col="event_id").select(
        "event_id", "user_id", "version", "valid_from", "valid_to",
        "is_current",
    )


# --------------------------------------------------------------------------
# text analysis
# --------------------------------------------------------------------------

def q_text_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_spark.functions.text import with_text_stats

    docs = _t(spark, sf_dir, "documents")
    return with_text_stats(docs).select(
        "doc_id", "n_tokens", "avg_token_len", "stopword_ratio",
        "non_alnum_ratio", "bpe_count", "quality_score",
    )


def q_repetition_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher-style repetition signals (dup-token / top-bigram /
    dup-line ratios) — per-row map-side expressions, no shuffle."""
    from ocr_spark.functions.quality import with_repetition_stats

    docs = _t(spark, sf_dir, "documents")
    return with_repetition_stats(docs).select(
        "doc_id", "dup_token_ratio", "top_bigram_ratio", "dup_line_ratio",
    )


def q_quality_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composite keep/drop quality filter (C4/Gopher rule family) with
    per-document drop_reason taxonomy."""
    from ocr_spark.functions.quality import with_quality_filter

    docs = _t(spark, sf_dir, "documents")
    return with_quality_filter(docs).select(
        "doc_id", "n_tokens", "dup_token_ratio", "top_bigram_ratio",
        "keep", "drop_reason",
    )


def q_lm_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained unigram LM quality score (the CCNet perplexity
    signal with the KenLM 5-gram replaced by the SQL-oracle-able
    unigram proxy): ONE explode->count shuffle trains the model, the
    vocab broadcasts back over the tokens, per-doc mean ln p and
    perplexity come from a second skinny aggregate
    (functions/quality.py:unigram_logprob).  Scores rounded at 1e-6
    (cross-partition summation order differs in the last ulps)."""
    from ocr_spark.functions.quality import unigram_logprob

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = unigram_logprob(docs)
    return out.select(
        "doc_id", "n_tokens",
        F.round("avg_logprob", 6).alias("avg_lp"),
        F.round("ppl", 6).alias("ppl"),
    ).orderBy("doc_id")


def q_tfidf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-5 TF-IDF keywords per document: two skinny aggregates +
    broadcast idf join + per-doc comparator-sort slice — never a
    row_number window over the corpus (the oracle runs the naive
    windowed twin).  Ties broken by term text
    (functions/text.py:tfidf_topk)."""
    from ocr_spark.functions.text import tfidf_topk

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return tfidf_topk(docs, k=5).orderBy("doc_id", "rank")


# ccnet_buckets: thresholds fit on a deterministic 50% hash sample
# (CCNet itself fits its LM percentiles on a sample); tertile points
# p and the sample threshold are shared literals with the oracle
_CCNET_P = (1 / 3, 2 / 3)
_CCNET_SAMPLE_THR = 1 << 59          # half of the 60-bit hash space


def q_ccnet_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet's head/middle/tail perplexity bucketing (Wenzek et al.
    2020): per-language tertile thresholds of the unigram-LM perplexity
    fit on a deterministic 50% hash sample, every document assigned a
    bucket by comparing its GRID-ROUNDED ppl against the GRID-ROUNDED
    thresholds (tertile interpolation lands at thirds of the 1e-6
    grid, never at a rounding midpoint, so engine and oracle decide
    from bit-identical doubles).  Scale shape: the ppl scoring is
    lm_score's (one vocab aggregate + broadcast); thresholds are a
    per-lang aggregate over the SAMPLE (exact percentile over a
    hash-bounded subset — the knob that keeps the sort memory bounded
    at corpus scale) broadcast back over the scored docs.  Token-less
    docs keep a NULL bucket."""
    from ocr_spark.functions.quality import unigram_logprob
    from ocr_spark.operators.corpus import _md5_60

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    sc = unigram_logprob(docs)
    scored = (
        docs.select("doc_id", "lang").join(sc, "doc_id")
        .withColumn("ppl6", F.round("ppl", 6))
    )
    sample = scored.filter(
        (_md5_60("doc_id", "ccnet") < _CCNET_SAMPLE_THR)
        & F.col("ppl6").isNotNull()
    )
    thr = sample.groupBy("lang").agg(
        F.round(F.percentile("ppl6", F.lit(_CCNET_P[0])), 6).alias("t1"),
        F.round(F.percentile("ppl6", F.lit(_CCNET_P[1])), 6).alias("t2"),
    )
    bucket = (
        F.when(F.col("ppl6").isNull() | F.col("t1").isNull(),
               F.lit(None).cast("string"))
        .when(F.col("ppl6") <= F.col("t1"), F.lit("head"))
        .when(F.col("ppl6") <= F.col("t2"), F.lit("middle"))
        .otherwise(F.lit("tail"))
    )
    return (
        scored.join(F.broadcast(thr), "lang", "left")
        .select("doc_id", "lang", F.col("ppl6").alias("ppl"),
                bucket.alias("bucket"))
    )


# Deterministic PII injection for the scrub query: the synthetic corpus
# carries no PII, so doc_id % 4 appends a known email / IPv4 / phone
# (same augmentation pattern as lang_id_cjk; the DuckDB oracle applies
# the identical CASE).
PII_SAMPLES = {
    0: " contact alice.smith@example-corp.com today",
    1: " server at 192.168.101.7 responded",
    2: " call +1 (415) 555-0173 now",
}


def q_pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII count + redaction (emails -> IPs -> phones, order is part of
    the contract) over deterministically augmented documents."""
    from ocr_spark.functions.scrub import with_pii_scrub

    docs = _t(spark, sf_dir, "documents")
    aug = F.col("text")
    for k, s in PII_SAMPLES.items():
        aug = F.when(F.col("doc_id") % 4 == k,
                     F.concat(F.col("text"), F.lit(s))).otherwise(aug)
    docs = docs.withColumn("text", aug)
    return with_pii_scrub(docs).select(
        "doc_id", "n_email", "n_ip", "n_phone", "scrubbed",
    )


# shared literals between q_mojibake_fix and its oracle: the space-
# joined mojibake sample (every repairable sequence once) and its
# repaired form — both derived from the SAME MOJIBAKE_PAIRS table the
# engine's replace chain applies
def _mojibake_literals() -> tuple[str, str]:
    from ocr_spark.functions.text import MOJIBAKE_PAIRS

    return (" ".join(m for m, _ in MOJIBAKE_PAIRS),
            " ".join(f for _, f in MOJIBAKE_PAIRS))


_MJ_BROKEN, _MJ_FIXED = _mojibake_literals()


def q_mojibake_fix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Encoding repair (the ftfy/CCNet normalization stage): every 3rd
    doc gets the full UTF-8-misread-as-cp1252 sample appended; the
    fixed replace chain must repair exactly those, leave clean ASCII
    bodies untouched, and stay idempotent on already-repaired text.
    The broken/fixed literals and the chain order are imported from
    MOJIBAKE_PAIRS by engine AND oracle — no drift possible."""
    from ocr_spark.functions.text import fix_mojibake

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 3 == 0,
                   F.lit(" " + _MJ_BROKEN)).otherwise(F.lit("")),
        ).alias("text"),
    )
    fixed = fix_mojibake("text")
    return docs.select(
        "doc_id", fixed.alias("text"),
        (fixed != F.col("text")).alias("changed"),
    )


def q_lang_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_spark.functions.text import with_lang_id

    docs = _t(spark, sf_dir, "documents")
    return with_lang_id(docs).select("doc_id", "lang_pred")


def q_lang_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID self-evaluation IN the contract: the confusion
    matrix of the marker-argmax classifier against the corpus's true
    lang labels — per (true, predicted) counts plus the per-true-lang
    hit rate.  Like ann_recall, this certifies the MEASUREMENT through
    the value gate; the classifier itself is the same expression
    lang_id ships."""
    from pyspark.sql import Window

    from ocr_spark.functions.text import with_lang_id

    docs = _t(spark, sf_dir, "documents")
    pred = with_lang_id(docs).select(
        F.col("lang").alias("true_lang"), "lang_pred")
    w = Window.partitionBy("true_lang")
    return (
        pred.groupBy("true_lang", "lang_pred")
        .agg(F.count(F.lit(1)).alias("n"))
        .withColumn("hit_rate", F.round(F.col("n") / F.sum("n").over(w), 6))
        .orderBy("true_lang", "lang_pred")
    )


# Deterministic non-latin sample sentences: the driver tables carry no
# non-latin text (lang labels over latin words), so the script-ID query
# derives its input by substituting these per doc_id%8 — identically in
# Spark and in the DuckDB oracle, making the script-detection path
# (CJK + Arabic/Cyrillic/Devanagari) fully oracled.
CJK_SENTS = {
    "ko": "한국어 문서 본문 내용 추출 테스트 문장입니다",
    "zh": "这是一个中文文档内容提取测试句子",
    "ja": "これは日本語のテキスト抽出テストです",
    "ar": "هذه جملة اختبار لاستخراج النص العربي",
    "ru": "это тестовое предложение для извлечения русского текста",
    "hi": "यह हिंदी पाठ निकालने के लिए एक परीक्षण वाक्य है",
    # shared-script sub-classification: ukrainian ї, urdu ے, persian پ
    "uk": "це тестове речення для перевірки вилучення українського тексту",
    "fa": "این جمله برای آزمایش پردازش متن فارسی است",
    "ur": "یہ اردو متن نکالنے کے لیے ایک آزمائشی جملہ ہے",
}

# Same-script discrimination sentences (lang_id_cyrillic): each is
# constructed to exercise ONE decision path of the sub-script
# classifier — ru_ortho carries ы/э (decisive letters), ru_marker
# deliberately avoids ы/э/ё so only the disjoint marker sets decide,
# bg carries bg function words and none of the ru markers, mr/hi
# differ only in marker words (the script is shared).
SUBSCRIPT_SENTS = {
    # "это"/"языка" carry э and ы — the orthographic fast path
    "ru_ortho": "это тестовое предложение для проверки русского языка",
    # что/как/его/только/уже are markers; no ы/э/ё anywhere
    "ru_marker": "не знаю что сказать как его зовут но только сегодня уже",
    # това/със/към are bg markers; no ru markers, no ы/э/ё, no і/ї/є/ґ
    "bg": "това е тестово изречение със думи към проверката на български",
    # आहे/आणि/मध्ये/होते are mr markers; none of the hi set appears
    "mr": "हे एक चाचणी वाक्य आहे आणि ते मराठी मजकूर मध्ये होते",
}


def q_lang_id_cjk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Script-based language-ID + script-aware token counting:
    ko/zh/ja by CJK script char counts (no-whitespace scripts),
    ar/fa/ur/ru/uk/hi by Arabic/Cyrillic/Devanagari counts with
    orthography-letter sub-classification inside the shared scripts
    (ukrainian і/ї/є/ґ, urdu ٹ/ڈ/ڑ/ں/ے, persian پ/چ/ژ/گ), latin
    fallback to the marker argmax; tokens = whitespace tokens of the
    non-CJK portion + one per CJK char."""
    from ocr_spark.functions.text import token_count_cjk, with_lang_id

    docs = _t(spark, sf_dir, "documents")
    m = F.col("doc_id") % 11
    text = (
        F.when(m == 0, F.lit(CJK_SENTS["ko"]))
        .when(m == 1, F.lit(CJK_SENTS["zh"]))
        .when(m == 2, F.lit(CJK_SENTS["ja"]))
        .when(m == 3, F.lit(CJK_SENTS["ar"]))
        .when(m == 4, F.lit(CJK_SENTS["ru"]))
        .when(m == 5, F.lit(CJK_SENTS["hi"]))
        .when(m == 6, F.lit(CJK_SENTS["uk"]))
        .when(m == 7, F.lit(CJK_SENTS["fa"]))
        .when(m == 8, F.lit(CJK_SENTS["ur"]))
        .otherwise(F.col("text"))
    )
    aug = docs.select("doc_id", text.alias("text"))
    return with_lang_id(aug).select(
        "doc_id", "lang_pred", token_count_cjk("text").alias("n_tokens")
    )


def q_lang_id_cyrillic(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sub-script language discrimination (functions/text.py:
    with_lang_id): locales SHARING a script — ru/uk/bg inside
    Cyrillic, hi/mr inside Devanagari — separated by orthography
    letters where the alphabets differ (uk і/ї/є/ґ; ru ы/э/ё, which
    Bulgarian lacks) and by DISJOINT marker-word sets where they
    don't (bg това/със/към vs ru что/как/его; mr आहे/आणि vs hi
    है/और/में).  Planted sentences exercise each decision path,
    including a Russian sentence with no ы/э/ё at all so the marker
    vote (not the letter test) must carry it.  This mirrors the
    reference's same-script country discrimination
    (services/business_license_processor.py:56-116), where 'which
    Korean-script locale' is exactly the question."""
    from ocr_spark.functions.text import with_lang_id

    docs = _t(spark, sf_dir, "documents")
    m = F.col("doc_id") % 7
    text = (
        F.when(m == 0, F.lit(SUBSCRIPT_SENTS["ru_ortho"]))
        .when(m == 1, F.lit(SUBSCRIPT_SENTS["ru_marker"]))
        .when(m == 2, F.lit(SUBSCRIPT_SENTS["bg"]))
        .when(m == 3, F.lit(CJK_SENTS["uk"]))
        .when(m == 4, F.lit(CJK_SENTS["hi"]))
        .when(m == 5, F.lit(SUBSCRIPT_SENTS["mr"]))
        .otherwise(F.col("text"))
    )
    true_lang = (
        F.when(m == 0, F.lit("ru")).when(m == 1, F.lit("ru"))
        .when(m == 2, F.lit("bg")).when(m == 3, F.lit("uk"))
        .when(m == 4, F.lit("hi")).when(m == 5, F.lit("mr"))
        .otherwise(F.col("lang"))
    )
    aug = docs.select("doc_id", text.alias("text"),
                      true_lang.alias("true_lang"))
    return (with_lang_id(aug)
            .select("doc_id", "true_lang", "lang_pred",
                    (F.col("true_lang") == F.col("lang_pred"))
                    .alias("correct"))
            .orderBy("doc_id"))


def q_lang_confusion_script(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Confusion matrix over the SAME-SCRIPT label space (ru/uk/bg,
    hi/mr + the latin corpus rows): aggregates q_lang_id_cyrillic's
    per-doc (true, predicted) rows into per-pair counts and
    per-true-lang hit rates — extending the latin-only lang_confusion
    to the sub-script discrimination the round added.  A wrong marker
    set shows up here as mass off the diagonal, not as a silent
    flip."""
    from pyspark.sql import Window

    pred = q_lang_id_cyrillic(spark, sf_dir)
    w = Window.partitionBy("true_lang")
    return (pred.groupBy("true_lang", "lang_pred")
            .agg(F.count(F.lit(1)).alias("n"))
            .withColumn("hit_rate",
                        F.round(F.col("n") / F.sum("n").over(w), 6))
            .orderBy("true_lang", "lang_pred"))


def q_search_keys(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Search-key normalization: accented/cased/punctuated titles
    (six deterministic spelling families prepended to underscore-joined
    tokens) fold to canonical [a-z0-9 ] keys through the CLOSED
    translate table — 'Café' and 'cafe' produce one key, so anchor/
    title dedup and lookup joins work across spellings
    (functions/text.py:search_key)."""
    from ocr_spark.functions.text import search_key, tokens

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    variants = F.array(*[F.lit(v) for v in
                         ["Café ", "À LA ", "SEÑOR ", "naïve ",
                          "Zürich-", "plain "]])
    raw = F.concat(
        F.element_at(variants, (F.col("doc_id") % 6 + 1).cast("int")),
        F.array_join(F.slice(tokens("text"), 1, 3), "_"),
    )
    return docs.select(
        "doc_id", raw.alias("raw_title"),
        search_key(raw).alias("key"),
    ).orderBy("doc_id")


def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_spark.functions.text import fingerprint

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", fingerprint("text").alias("fp"))


def q_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    from ocr_spark.functions.text import token_count

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", token_count("text").alias("n_tokens"),
                       F.length("text").alias("n_chars_actual"))


# chunking/collocation/BPE parameters shared with the DuckDB oracles
# (same integer literals on both sides)
CHUNK_CHARS, CHUNK_CHARS_OVERLAP = 400, 80      # char stride 320
CHUNK_TOKS, CHUNK_TOKS_OVERLAP = 64, 16         # token stride 48
COLLOC_K, COLLOC_MIN_COUNT = 50, 5
BPE_TOPK = 50


def q_chunk_text(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Character-window RAG chunking with overlap: narrow map only
    (sequence -> posexplode -> substring), zero shuffle, char offsets
    carried for provenance (operators/chunk.py)."""
    from ocr_spark.operators.chunk import chunk_text

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return chunk_text(docs, CHUNK_CHARS, CHUNK_CHARS_OVERLAP).orderBy(
        "doc_id", "chunk_id")


def q_sections(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heading-aware section splitting: every doc becomes a two-heading
    markdown page ('# T<id>' + first 8 tokens, '## Sec2' + tokens
    9-16), and every 3rd doc adds PRE-heading intro content that must
    come back as section 0 with a NULL heading
    (operators/chunk.py:split_sections)."""
    from ocr_spark.functions.text import tokens
    from ocr_spark.operators.chunk import split_sections

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    toks = tokens("text")
    pre = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(F.lit("intro "),
                 F.coalesce(F.try_element_at(toks, F.lit(1)), F.lit("")),
                 F.lit("\n")),
    ).otherwise(F.lit(""))
    md = F.concat(
        pre, F.lit("# T"), F.col("doc_id").cast("string"), F.lit("\n"),
        F.array_join(F.slice(toks, 1, 8), " "),
        F.lit("\n## Sec2\n"),
        F.array_join(F.slice(toks, 9, 8), " "),
    )
    pages = docs.select("doc_id", md.alias("text"))
    return split_sections(pages).orderBy("doc_id", "section_idx")


def q_chunk_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token-window chunking (LLM-context variant): same zero-shuffle
    shape over the whitespace token array, token-index offsets."""
    from ocr_spark.operators.chunk import chunk_tokens

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return chunk_tokens(docs, CHUNK_TOKS, CHUNK_TOKS_OVERLAP).orderBy(
        "doc_id", "chunk_id")


def q_collocations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k PMI collocations: two skinny hash aggregates + broadcast
    unigram joins + global TakeOrdered — counts shuffle, text never
    does (functions/colloc.py)."""
    from ocr_spark.functions.colloc import collocations

    docs = _t(spark, sf_dir, "documents").select("text")
    return collocations(docs, k=COLLOC_K, min_count=COLLOC_MIN_COUNT)


def q_bpe_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE merge-round-0 statistics: corpus-wide adjacent char-pair
    counts weighted by word frequency — the (word, freq) aggregate is
    the only pass over text; pair counting runs on the skinny distinct
    vocabulary (functions/colloc.py:bpe_pair_counts)."""
    from ocr_spark.functions.colloc import bpe_pair_counts

    docs = _t(spark, sf_dir, "documents").select("text")
    return bpe_pair_counts(docs, k=BPE_TOPK)


def _table_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> pages whose body is a known table layout: one
    4-column table (header row c0..c3, data cells = the doc's tokens
    in reading order) plus, for doc_id %% 3 == 0, a second 1-row
    table — so the oracle reconstructs every cell arithmetically and
    table_idx/nav-skipping are both exercised."""
    from ocr_spark.functions.text import tokens

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", tokens("text").alias("tl"))
    body = F.expr(
        "array_join(transform("
        "  CASE WHEN size(tl) = 0 THEN array() "
        "       ELSE sequence(0, CAST(ceil(size(tl) / 4.0) AS INT) - 1) END,"
        "  r -> '<tr>' || array_join(transform(slice(tl, r * 4 + 1, 4),"
        "  t -> '<td>' || t || '</td>'), '') || '</tr>'), '')"
    )
    return docs.select(
        "doc_id",
        F.encode(
            F.concat(
                F.lit('<html><body><nav><a href="/skip">boiler nav</a>'
                      "</nav><table>"
                      "<tr><th>c0</th><th>c1</th><th>c2</th><th>c3</th></tr>"),
                body,
                F.lit("</table>"),
                F.when(
                    F.col("doc_id") % 3 == 0,
                    F.concat(F.lit("<table><tr><td>k</td><td>"),
                             F.col("doc_id").cast("string"),
                             F.lit("</td></tr></table>")),
                ).otherwise(F.lit("")),
                F.lit("</body></html>"),
            ),
            "utf-8",
        ).alias("html"),
    )


def q_table_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML table -> one row per cell (operators/structure.py): one
    Arrow-batched narrow pass over html, skinny cell rows out, nav
    boilerplate ignored, nested/second tables get their own
    table_idx."""
    from ocr_spark.operators.structure import extract_tables

    pages = _table_pages(spark, sf_dir)
    out = extract_tables(pages, passthrough=("doc_id",))
    return out.orderBy("doc_id", "table_idx", "row_idx", "col_idx")


def q_table_records(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Header-keyed record triples (structure.py:table_records) over
    the same planted table pages: the 4-column header table yields
    (record, c<i%4>, token) rows; the headerless second table must
    emit nothing.  Oracle rebuilds every triple arithmetically."""
    from ocr_spark.operators.structure import (extract_tables,
                                               table_records)

    pages = _table_pages(spark, sf_dir)
    cells = extract_tables(pages, passthrough=("doc_id",))
    return (table_records(cells)
            .orderBy("doc_id", "table_idx", "record_idx", "field"))


def _markdown_pages(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents -> pages exercising the whole markdown feature set
    (h1, p, nested ul, ol, link, bold/italic/code, blockquote, hr,
    pre) for docs with >= 8 tokens; a bare <p> page otherwise.  Every
    fragment derives from the doc's tokens, so the expected markdown
    is a closed-form string both engines build independently."""
    from ocr_spark.functions.text import tokens

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", tokens("text").alias("tl"))
    t = [F.get("tl", i) for i in range(8)]
    fancy = F.concat(
        F.lit("<html><head><script>var x=1;</script></head><body><h1>"),
        F.array_join(F.slice("tl", 1, 3), " "),
        F.lit("</h1><p>"), F.col("text"), F.lit("</p><ul><li>"),
        t[0], F.lit("</li><li>"), t[1], F.lit("<ul><li>"), t[2],
        F.lit('</li></ul></li></ul><ol><li>'), t[3], F.lit("</li><li>"),
        t[4], F.lit('</li></ol><p><a href="/d/'),
        F.col("doc_id").cast("string"), F.lit('">'),
        F.array_join(F.slice("tl", 3, 2), " "),
        F.lit("</a> and <b>"), t[4], F.lit("</b> or <i>"), t[5],
        F.lit("</i> plus <code>"), t[6], F.lit("</code></p><blockquote><p>"),
        t[7], F.lit("</p></blockquote><hr><pre>raw   "), t[0],
        F.lit("\n  "), t[1], F.lit("</pre></body></html>"),
    )
    simple = F.concat(F.lit("<html><body><p>"), F.col("text"),
                      F.lit("</p></body></html>"))
    return docs.select(
        "doc_id",
        F.encode(F.when(F.size("tl") >= 8, fancy).otherwise(simple),
                 "utf-8").alias("html"),
    )


def q_html_markdown(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTML -> Markdown rendering (operators/structure.py): single
    Arrow-batched narrow pass, deterministic block/inline contract
    shared with the closed-form oracle."""
    from ocr_spark.operators.structure import html_markdown

    pages = _markdown_pages(spark, sf_dir)
    return html_markdown(pages, passthrough=("doc_id",)).orderBy("doc_id")


def q_postings(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Positional inverted index (operators/index.py): posexplode ->
    one skinny (term, doc) hash aggregate; min_df vocabulary pruning
    via a broadcast semi-join so the posting shuffle only carries
    surviving terms."""
    from ocr_spark.operators.index import inverted_index

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return inverted_index(docs, min_df=2).orderBy("term", "doc_id")


def q_posting_deltas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-term d-gap compression stats for a delta+varint postings
    layout (operators/index.py:posting_deltas).  The engine runs the
    two-phase DOC-RANGE-SHARDED form (adjacency within a shard via a
    bounded window, cross-shard boundary gaps from per-shard summary
    rows) so the hottest stopword term never funnels through one task;
    the oracle runs the naive single lag() window — the results are
    provably identical, and that equality IS the test.  shard_bits=6
    (64-id shards) so even sf0.01's 500 ids span 8 shards and the
    boundary-gap path is genuinely exercised."""
    from ocr_spark.operators.index import posting_deltas

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return posting_deltas(docs, min_df=2, shard_bits=6) \
        .orderBy("term")


def q_snippets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Keyword-in-context snippets for the term 'spark' (±3 tokens) —
    the per-hit display surface a BM25 stack pairs with its ranking;
    zero shuffle, docs without the term emit nothing
    (operators/index.py:kwic_snippets)."""
    from ocr_spark.operators.index import kwic_snippets

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return kwic_snippets(docs, "spark", window=3).orderBy("doc_id", "pos")


def q_corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-(lang, source) corpus card (operators/index.py): one
    aggregate over (group, n_tokens) int rows — doc counts, token
    totals, exact interpolated median length."""
    from ocr_spark.operators.index import corpus_stats

    docs = _t(spark, sf_dir, "documents")
    return corpus_stats(docs).orderBy("lang", "source")


def q_sentences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sentence segmentation (functions/text.py:sentences): zero-
    shuffle regex segmentation + posexplode, over documents salted
    with a multi-sentence tail on even ids so boundaries are actually
    exercised."""
    from ocr_spark.functions.text import sentences

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            "text",
            F.when(F.col("doc_id") % 2 == 0, F.lit(". End note! Done?"))
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    return docs.select(
        "doc_id",
        F.posexplode(sentences("text")).alias("sent_idx", "sentence"),
    ).orderBy("doc_id", "sent_idx")


def q_domain_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-registered-domain keep-rate profile (operators/web.py:
    domain_quality): zero-shuffle per-page verdicts into one skinny
    (domain, keep, n_tokens) aggregate — the corpus-derived
    C4-blocklist signal."""
    from ocr_spark.operators.web import domain_quality

    urls = _synth_urls(spark, sf_dir)
    return domain_quality(urls).orderBy("domain")


def q_url_templates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mass-produced-page detection: digit runs in url paths collapse
    to 'N' and the (registered domain, path template) families are
    counted — /story/N/ style archives flag at min_pages, distinct
    static paths do not (operators/web.py:url_templates)."""
    from ocr_spark.operators.web import url_templates

    urls = _synth_urls(spark, sf_dir)
    return url_templates(urls, min_pages=3) \
        .orderBy("domain", "path_template")


def q_doc_attributes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dolma-style attribute union: every per-document tagging signal
    (text stats, quality verdict, repetition ratios, readability, PII
    counts) in ONE narrow plan — the tagging pass a curation run
    materializes once and filters against many times.  All signals are
    per-row JVM expressions, so the whole union is zero-shuffle; the
    oracle joins the per-signal oracles as CTEs (composition is where
    column-contract drift hides)."""
    from ocr_spark.functions.quality import readability, with_quality_filter
    from ocr_spark.functions.scrub import with_pii_scrub

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    out = with_pii_scrub(with_quality_filter(docs))
    return out.select(
        "doc_id", "lang", "n_tokens", "avg_token_len", "stopword_ratio",
        "non_alnum_ratio", "quality_score", "dup_token_ratio",
        "top_bigram_ratio", "keep", "drop_reason",
        readability("text").alias("flesch"),
        "n_email", "n_ip", "n_phone",
    ).orderBy("doc_id")


BM25_QUERY = ("table", "spark", "data")   # shared literals with the oracle


def q_bm25(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BM25 top-10 against a fixed query (operators/index.py):
    per-term conditional-aggregate tf columns combined in literal
    term order (float-addition-order deterministic), broadcast corpus
    stats, global TakeOrdered."""
    from ocr_spark.operators.index import bm25_topk

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return bm25_topk(docs, BM25_QUERY, k=10)


def q_search_results(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The retrieval surface composed end-to-end: BM25 top-10 for the
    fixed query joined with each hit's FIRST 'spark' KWIC snippet
    (min_by position) — ranking + display in one plan; hits ranking on
    the other query terms alone carry a NULL snippet (the left-join
    contract a search API actually has)."""
    from ocr_spark.operators.index import bm25_topk, kwic_snippets

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    hits = bm25_topk(docs, BM25_QUERY, k=10)
    first = (kwic_snippets(docs, "spark", window=3)
             .groupBy("doc_id")
             .agg(F.min_by("snippet", "pos").alias("snippet")))
    return (hits.join(first, "doc_id", "left")
            .select("doc_id", "score", "snippet")
            .orderBy(F.col("score").desc(), "doc_id"))


def q_hybrid_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-stage retrieval (index.py:hybrid_rerank): the shared
    BM25_QUERY literals for the recall stage, a seeded 3-dp rational
    query vector (similarity._hyperplanes seed=99) for the rerank, so
    the oracle replays both stages exactly."""
    from ocr_spark.operators.index import hybrid_rerank
    from ocr_spark.operators.similarity import _hyperplanes

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    qv = _hyperplanes(64, 1, seed=99)[0]
    return hybrid_rerank(docs, emb, BM25_QUERY, qv).orderBy("rank")


GAZETTEER = {  # shared literals with the oracle VALUES table
    "hash join": "Q_HASHJOIN", "merge join": "Q_MERGEJOIN",
    "join": "Q_JOIN", "data": "Q_DATA", "window": "Q_WINDOW",
    "scan": "Q_SCAN",
}


def q_gazetteer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gazetteer entity spotting (operators/annotate.py:
    gazetteer_link) with a fixed dictionary over the natural corpus
    vocabulary — bigram surfaces ('hash join') must suppress their
    contained unigrams ('join'); the oracle is a full second
    implementation (range-lateral n-gram positions, VALUES gazetteer,
    NOT EXISTS containment)."""
    from ocr_spark.operators.annotate import gazetteer_link

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return (gazetteer_link(docs, GAZETTEER)
            .orderBy("doc_id", "pos", "n_words"))


def q_entity_contexts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """KWIC windows (annotate.py:mention_contexts) around the BIGRAM
    gazetteer mentions (n_words=2 rows need no containment
    suppression — nothing longer exists to contain them, which keeps
    the oracle to one gram pass)."""
    from ocr_spark.operators.annotate import (gazetteer_link,
                                              mention_contexts)

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    m = (gazetteer_link(docs, GAZETTEER)
         .filter(F.col("n_words") == 2))
    return (mention_contexts(docs, m, window=3)
            .select("doc_id", "pos", "entity_id", "context")
            .orderBy("doc_id", "pos"))


def q_entity_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Entity co-occurrence graph (annotate.py:entity_cooc) over ALL
    gazetteer mentions within a 20-token window, kept at n_cooc >= 2,
    with integer marginals for downstream PMI."""
    from ocr_spark.operators.annotate import (entity_cooc,
                                              gazetteer_link)

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    m = gazetteer_link(docs, GAZETTEER)
    return (entity_cooc(m, window=20, min_count=2)
            .orderBy("entity_a", "entity_b"))


def q_subword_vocab(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Subword vocabulary learning (functions/subword.py:
    subword_vocab): frequency-truncated substring pieces with the
    WordPiece start/continuation distinction; the oracle recounts
    every substring with the same total order."""
    from ocr_spark.functions.subword import subword_vocab

    docs = _t(spark, sf_dir, "documents").select("text")
    return subword_vocab(docs, vocab_size=150,
                         max_piece_len=4).orderBy("rank")


def q_subword_segment(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy WordPiece segmentation fertility stats
    (functions/subword.py:wordpiece_segment_stats): the vocab is
    trained on the EVEN documents only, and odd documents carry a
    planted ' çapka' token whose 'ç' no even doc contains — so the
    UNK path (no matching piece, single-char advance) is exercised
    and value-oracled, not just pytest-covered.  The oracle rebuilds
    the restricted vocab, the longest-match steps table, and replays
    the greedy walk as a recursive CTE."""
    from ocr_spark.functions.subword import (subword_vocab,
                                             wordpiece_segment_stats)

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    i = F.col("doc_id")
    aug = docs.select(
        "doc_id",
        F.concat(F.col("text"),
                 F.when(i % 2 == 1, F.lit(" çapka"))
                  .otherwise(F.lit(""))).alias("text"))
    vocab = subword_vocab(aug.filter(i % 2 == 0),
                          vocab_size=150, max_piece_len=4)
    return (wordpiece_segment_stats(aug, vocab, max_piece_len=4)
            .orderBy("doc_id"))


def q_jsonl_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSONL ingest with quarantine (sources/jsonl.py:
    parse_json_records): every doc becomes a JSON line built from its
    sanitized first token and doc_id%100; docs with doc_id%17==0
    lose the closing brace and must come back flagged with the raw
    line retained.  The oracle rebuilds both the parsed fields and
    the quarantined raw strings closed-form."""
    from ocr_spark.sources.jsonl import parse_json_records

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    from ocr_spark.functions.text import tokens
    i = F.col("doc_id")
    s0 = F.coalesce(
        F.regexp_replace(F.get(tokens("text"), 0),
                         "[^A-Za-z0-9]", ""), F.lit(""))
    line = F.concat(F.lit('{"title": "'), s0,
                    F.lit('", "views": '),
                    (i % 100).cast("string"), F.lit("}"))
    broken = F.substring(line, 1, F.length(line) - 1)
    shaped = docs.select(
        "doc_id",
        F.when(i % 17 == 0, broken).otherwise(line).alias("line"))
    return (parse_json_records(shaped, "line",
                               "title string, views bigint")
            .orderBy("doc_id"))


def q_compressibility(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-k-gram compressibility proxy (functions/quality.py:
    compressibility) straight over the corpus; the oracle recounts
    distinct/total k-grams per (doc, k) with range-lateral substr."""
    from ocr_spark.functions.quality import compressibility

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return compressibility(docs).orderBy("doc_id", "k")


def q_license(spark: SparkSession, sf_dir: str) -> DataFrame:
    """License detection (functions/quality.py:license_detect) over
    planted signals on the license-phrase-free corpus (verified 0
    natural hits): CC grants with a type cycling over i%20, MIT,
    public-domain, and all-rights-reserved plants that overlap so
    precedence and the n_signals ambiguity count are both exercised;
    the oracle rebuilds every row closed-form."""
    from ocr_spark.functions.quality import license_detect

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    i = F.col("doc_id")
    cc_type = (F.when(i % 20 == 0, "by").when(i % 20 == 5, "by-sa")
                .when(i % 20 == 10, "by-nc").otherwise("by-nd"))
    aug = F.concat(
        F.col("text"),
        F.when(i % 5 == 0,
               F.concat(F.lit(" licensed under creativecommons.org"
                              "/licenses/"), cc_type, F.lit("/ terms")))
         .otherwise(F.lit("")),
        F.when(i % 13 == 2, F.lit(" this work is in the public domain"))
         .otherwise(F.lit("")),
        F.when(i % 7 == 1, F.lit(" released under the mit license"))
         .otherwise(F.lit("")),
        F.when(i % 11 == 3, F.lit(" all rights reserved."))
         .otherwise(F.lit("")))
    return (license_detect(docs.select("doc_id", aug.alias("text")))
            .orderBy("doc_id"))


def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-core decomposition (operators/web.py:kcore) over a planted
    ring + two dense tiers: every node rides the ring (degree 2 —
    the periphery the k=4 peel strips in round one), nodes < 50 form
    a circulant C50(1,2,3) (core degree 6-7), nodes 50..99 a
    C50(1,2) (degree 4-5 after the periphery dies).  The surviving
    100-node core has degree variety {4..7} including the tier-
    boundary ring edge 49-50, so the value hash certifies real peel
    mechanics, not an empty fixpoint.  Oracle: the peel unrolled as
    12 chained MATERIALIZED CTE rounds."""
    from ocr_spark.operators.web import kcore

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    mm = docs.count()
    i = F.col("doc_id")
    ring = docs.select(i.alias("src"), ((i + 1) % mm).alias("dst"))
    parts = [ring]
    for j in (1, 2, 3):
        parts.append(docs.filter(i < 50).select(
            i.alias("src"), ((i + j) % 50).alias("dst")))
    for j in (1, 2):
        parts.append(docs.filter((i >= 50) & (i < 100)).select(
            i.alias("src"),
            (F.lit(50) + (i - 50 + j) % 50).alias("dst")))
    edges = parts[0]
    for p in parts[1:]:
        edges = edges.unionByName(p)
    return kcore(edges, k=4, max_rounds=12).orderBy("node")


def q_section_qa(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heading->body instruction pairs (operators/corpus.py:
    section_qa) over token-derived markdown: docs with >= 8 tokens
    get two headed sections ('# t0 t1' with body t2..t7, '## t2'
    with body t4..t7 t0 t1); shorter docs stay heading-free and must
    emit nothing.  Oracle rebuilds both pairs from the token list."""
    from ocr_spark.functions.text import tokens
    from ocr_spark.operators.corpus import section_qa

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text", tokens("text").alias("tl"))
    t = [F.get("tl", i) for i in range(8)]
    md = F.concat(
        F.lit("# "), t[0], F.lit(" "), t[1], F.lit("\n"),
        F.array_join(F.slice("tl", 3, 6), " "),
        F.lit("\n## "), t[2], F.lit("\n"),
        F.array_join(F.slice("tl", 5, 4), " "),
        F.lit(" "), t[0], F.lit(" "), t[1])
    shaped = docs.select(
        "doc_id",
        F.when(F.size("tl") >= 8, md).otherwise(F.col("text"))
         .alias("text"))
    return section_qa(shaped).orderBy("doc_id", "section_idx")


def q_code_switch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-sentence code-switch detection (functions/text.py:
    code_switch) with planted foreign sentences: docs with i%4==0
    gain a Spanish marker sentence, i%6==0 a German one (leading '.'
    so the plant is always its own segment).  The oracle replays the
    sentence explode, the shared marker-argmax CASE, the majority
    window, and the lag-based switch count."""
    from ocr_spark.functions.text import code_switch

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    i = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.when(i % 4 == 0, F.lit(". el que los las por."))
         .otherwise(F.lit("")),
        F.when(i % 6 == 0, F.lit(". der und ist nicht mit."))
         .otherwise(F.lit("")))
    return (code_switch(docs.select("doc_id", aug.alias("text")))
            .orderBy("doc_id"))


def q_record_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter record linkage (dedup.py:record_linkage)
    between two derived metadata snapshots: right-side titles are
    perturbed for doc_id%7==0, years for doc_id%3==0; blocking on
    host=doc_id%20 gives a 25x25-per-block candidate set the oracle
    replays with the same literal integer weights."""
    from ocr_spark.operators.dedup import record_linkage

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    i = F.col("doc_id")
    left = docs.select(
        "doc_id", (i % 20).alias("host"),
        F.concat(F.lit("t"), (i % 40).cast("string")).alias("title"),
        (F.lit(2000) + i % 25).alias("year"))
    right = docs.select(
        (i + 1000).alias("doc_id"), (i % 20).alias("host"),
        F.concat(F.lit("t"), (i % 40).cast("string"),
                 F.when(i % 7 == 0, F.lit("x"))
                  .otherwise(F.lit(""))).alias("title"),
        (F.lit(2000) + i % 25
         + F.when(i % 3 == 0, 1).otherwise(0)).alias("year"))
    return (record_linkage(left, right, "host",
                           {"title": (4000, -2000),
                            "year": (1000, -1500)},
                           t_match=4000, t_possible=2000)
            .orderBy("l_doc_id", "r_doc_id"))


def q_crawl_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff (operators/snapshot.py): documents vs a
    deterministically mutated twin (every 13th removed, every
    remaining 7th changed, every 11th re-added under a new key) —
    skinny (key, digest) projections into one full-outer join; text
    never shuffles."""
    from ocr_spark.operators.snapshot import snapshot_delta

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.lit("u"), F.col("doc_id").cast("string")).alias("url"),
        F.coalesce("text", F.lit("")).alias("text"),
    )
    old = docs.select("url", "text")
    new_kept = (
        docs.where(F.col("doc_id") % 13 != 0)
        .select(
            "url",
            F.when(F.col("doc_id") % 7 == 0,
                   F.concat("text", F.lit(" updated")))
            .otherwise(F.col("text")).alias("text"),
        )
    )
    added = docs.where(F.col("doc_id") % 11 == 0).select(
        F.concat(F.lit("u"), (F.col("doc_id") + 1000000).cast("string")
                 ).alias("url"),
        F.concat(F.lit("new page "), F.col("doc_id").cast("string")
                 ).alias("text"),
    )
    delta = snapshot_delta(old, new_kept.unionByName(added))
    return delta.orderBy("key")


def q_index_delta(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental index maintenance over the SAME snapshot pair as
    crawl_delta (every 13th removed, every remaining 7th gets
    ' updated' appended, every 11th re-added under a new key): the
    posting add/del ops that migrate the inverted index without
    touching the ~unchanged majority — text of unchanged docs never
    explodes (operators/index.py:index_delta)."""
    from ocr_spark.operators.index import index_delta

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.lit("u"), F.col("doc_id").cast("string")).alias("url"),
        F.coalesce("text", F.lit("")).alias("text"),
    )
    old = docs.select("url", "text")
    new_kept = (
        docs.where(F.col("doc_id") % 13 != 0)
        .select(
            "url",
            F.when(F.col("doc_id") % 7 == 0,
                   F.concat("text", F.lit(" updated")))
            .otherwise(F.col("text")).alias("text"),
        )
    )
    added = docs.where(F.col("doc_id") % 11 == 0).select(
        F.concat(F.lit("u"), (F.col("doc_id") + 1000000).cast("string")
                 ).alias("url"),
        F.concat(F.lit("new page "), F.col("doc_id").cast("string")
                 ).alias("text"),
    )
    return index_delta(old, new_kept.unionByName(added)) \
        .orderBy("key", "term", "op")


def q_canonical_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Canonical-link collapse (operators/web.py): pages built with a
    real <link rel=canonical> (groups of 4 share one target; every
    4th page omits it and groups under itself, exercising the NULL
    path) run through the REAL meta-extraction kernel, then one
    skinny grouped aggregate."""
    from ocr_spark.operators.extract import extract_meta_pages
    from ocr_spark.operators.web import canonical_collapse

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    d = F.col("doc_id").cast("string")
    g = (F.col("doc_id") - (F.col("doc_id") % 4)).cast("string")
    pages = docs.select(
        F.concat(F.lit("https://c.example.com/p/"), d).alias("url"),
        F.encode(
            F.concat(
                F.lit("<html><head><title>t</title>"),
                F.when(
                    F.col("doc_id") % 4 != 3,
                    F.concat(F.lit('<link rel="canonical" '
                                   'href="https://c.example.com/g/'),
                             g, F.lit('">')),
                ).otherwise(F.lit("")),
                F.lit("</head><body><p>"), F.col("text"),
                F.lit("</p></body></html>"),
            ), "utf-8").alias("html"),
    )
    meta = extract_meta_pages(pages, passthrough=("url",))
    return canonical_collapse(meta).orderBy("canonical_url")


def q_feed(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RSS/Atom feed-entry extraction (the freshness-discovery
    companion to sitemap parsing): even ids publish RSS 2.0 feeds
    (3 items: title/link/guid/pubDate), odd ids Atom (2 entries:
    title/<link href>/id/updated), ids % 13 == 0 publish an empty
    shell that must yield NO rows.  Every field is a closed-form
    function of (doc_id, item index) so the oracle regenerates the
    rows arithmetically (operators/web.py:feed_entries)."""
    from ocr_spark.operators.web import feed_entries

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def build(batches):
        import pandas as pd

        for pdf in batches:
            urls, xmls = [], []
            for doc_id in pdf["doc_id"]:
                did = int(doc_id)
                urls.append(f"https://feeds.example.com/{did}.xml")
                if did % 2 == 0:
                    items = "" if did % 13 == 0 else "".join(
                        f"<item><title>T{did}-{i}</title>"
                        f"<link>https://feed.example.com/d/{did}/{i}</link>"
                        f'<guid isPermaLink="false">g{did}-{i}</guid>'
                        f"<pubDate>Mon, 01 Jan 2024 00:"
                        f"{(did + i) % 60:02d}:00 GMT</pubDate></item>"
                        for i in range(3))
                    xmls.append('<?xml version="1.0"?><rss version="2.0">'
                                f"<channel><title>F{did}</title>{items}"
                                "</channel></rss>")
                else:
                    entries = "" if did % 13 == 0 else "".join(
                        f"<entry><title>T{did}-{i}</title>"
                        f'<link rel="alternate" '
                        f'href="https://feed.example.com/d/{did}/{i}"/>'
                        f"<id>tag:example.com,{did}-{i}</id>"
                        f"<updated>2024-01-01T00:{(did + i) % 60:02d}:00Z"
                        f"</updated></entry>"
                        for i in range(2))
                    xmls.append('<?xml version="1.0"?>'
                                '<feed xmlns="http://www.w3.org/2005/Atom">'
                                f"<title>F{did}</title>{entries}</feed>")
            yield pd.DataFrame({"feed_url": urls, "xml": xmls})

    feeds = docs.mapInPandas(build, schema="feed_url string, xml string")
    return feed_entries(feeds).orderBy("feed_url", "kind", "seq")


def q_incremental_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental crawl composition: snapshot_delta classifies the
    new crawl against the old, and ONLY added/changed pages cross the
    extraction stage (the crawl-cadence cost model — unchanged pages
    never pay boilerplate parsing).  Uses the same mutation rules as
    crawl_delta; extraction runs the real Arrow kernel over wrapped
    pages, so the oracle is the flagship byte-identity invariant over
    the delta subset."""
    from ocr_spark.operators.extract import extract_pages
    from ocr_spark.operators.snapshot import snapshot_delta

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(F.lit("u"), F.col("doc_id").cast("string")).alias("url"),
        F.coalesce("text", F.lit("")).alias("text"),
    )
    old = docs.select("url", "text")
    new_kept = (
        docs.where(F.col("doc_id") % 13 != 0)
        .select(
            "url",
            F.when(F.col("doc_id") % 7 == 0,
                   F.concat("text", F.lit(" updated")))
            .otherwise(F.col("text")).alias("text"),
        )
    )
    added = docs.where(F.col("doc_id") % 11 == 0).select(
        F.concat(F.lit("u"), (F.col("doc_id") + 1000000).cast("string")
                 ).alias("url"),
        F.concat(F.lit("new page "), F.col("doc_id").cast("string")
                 ).alias("text"),
    )
    new = new_kept.unionByName(added)
    delta = snapshot_delta(old, new)
    todo = (
        delta.where(F.col("status").isin("added", "changed"))
        .join(new.withColumnRenamed("url", "key"), "key")
    )
    # the extraction kernel emits its own status field (error
    # taxonomy); the delta classification rides as change_status
    pages = todo.select(
        "key", F.col("status").alias("change_status"),
        F.encode(
            F.concat(F.lit(_WRAP_PREFIX), F.col("text"),
                     F.lit(_WRAP_SUFFIX)), "utf-8").alias("html"),
    )
    out = extract_pages(pages, payload_col="html",
                        passthrough=("key", "change_status"))
    return out.select(
        "key", F.col("change_status").alias("status"), "text"
    ).orderBy("key")


def q_sitemap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap <loc> extraction (operators/web.py:sitemap_urls) over
    per-doc constructed sitemap XML (three urls, one entity-escaped,
    one with padding whitespace, one empty entry that must drop)."""
    from ocr_spark.operators.web import sitemap_urls

    docs = _t(spark, sf_dir, "documents")
    d = F.col("doc_id").cast("string")
    xml = F.concat(
        F.lit('<?xml version="1.0"?><urlset><url><loc>'
              "https://s.example.com/p/"), d,
        F.lit("</loc></url><url><loc> https://s.example.com/q?a=1"
              "&amp;b=2 </loc></url><url><loc></loc></url>"
              "<url><loc>https://s.example.com/r/"), d,
        F.lit("/x</loc></url></urlset>"),
    )
    maps = docs.select(
        F.concat(F.lit("https://s.example.com/sitemap-"), d,
                 F.lit(".xml")).alias("sitemap_url"),
        xml.alias("xml"),
    )
    return sitemap_urls(maps).orderBy("sitemap_url", "seq")


def q_wat_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WAT metadata records (sources/wet.py:wat_export): same WARC
    framing as WET, JSON envelope built with explicit concat + the
    documented escape pass (titles on doc_id %% 5 == 0 carry a quote
    AND a backslash so the escape path crosses the oracle, not just
    pytest).  Zero Python, zero shuffle."""
    from ocr_spark.sources.wet import wat_export

    docs = _t(spark, sf_dir, "documents")
    from ocr_spark.functions.text import tokens

    d = F.col("doc_id").cast("string")
    base_title = F.array_join(F.slice(tokens("text"), 1, 3), " ")
    pages = docs.select(
        F.concat(F.lit("https://corpus.example.com/d/"), d).alias("url"),
        F.expr(
            "date_format(timestamp'2024-01-01 00:00:00' + "
            "make_interval(0, 0, 0, 0, 0, CAST(doc_id AS INT), 0), "
            "\"yyyy-MM-dd'T'HH:mm:ss'Z'\")"
        ).alias("date_iso"),
        F.concat(
            base_title,
            F.when(F.col("doc_id") % 5 == 0,
                   F.lit(' say "q" \\ end')).otherwise(F.lit("")),
        ).alias("title"),
        F.when(F.col("doc_id") % 3 == 0, F.array().cast("array<string>"))
        .when(F.col("doc_id") % 3 == 1, F.array(
            F.concat(F.lit("https://out.example.com/a/"), d)))
        .otherwise(F.array(
            F.concat(F.lit("https://out.example.com/a/"), d),
            F.concat(F.lit("https://out.example.com/b/"), d)))
        .alias("outlinks"),
    )
    return wat_export(pages).orderBy("url")


def q_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-trained add-1 bigram LM perplexity per document
    (functions/quality.py:bigram_logprob): two skinny training
    aggregates broadcast back over the per-doc pairs — text never
    shuffles."""
    from ocr_spark.functions.quality import bigram_logprob

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return bigram_logprob(docs).orderBy("doc_id")


def q_readability(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Flesch reading-ease per document: pure per-row JVM expressions
    (regexp_count vowel groups + sentence runs), zero shuffle."""
    from ocr_spark.functions.quality import readability

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", readability("text").alias("flesch")) \
        .orderBy("doc_id")


def q_unicode_clean(spark: SparkSession, sf_dir: str) -> DataFrame:
    """NFC + control/zero-width strip (operators/normalize.py) over
    documents deterministically salted with decomposed accents, a BEL
    control, and a zero-width space — the DuckDB oracle runs its own
    native nfc_normalize + identical strips (independent second
    implementation)."""
    from ocr_spark.operators.normalize import normalize_text

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 4 == 0, F.lit(" cafe\u0301"))
            .otherwise(F.lit("")),
            F.when(F.col("doc_id") % 5 == 0, F.lit("\u0007x"))
            .otherwise(F.lit("")),
            F.when(F.col("doc_id") % 7 == 0, F.lit("a\u200bb"))
            .otherwise(F.lit("")),
        ).alias("text"),
    )
    out = normalize_text(docs, "text")
    return out.select("doc_id", F.col("text").alias("cleaned")) \
        .orderBy("doc_id")


def q_wet_export(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Serialize the extracted corpus to Common-Crawl-style WET
    conversion records (sources/wet.py): record assembly is pure
    built-ins (md5 / sha2 / octet_length / concat) — zero Python,
    zero shuffle.  Url and capture date derive deterministically from
    doc_id so the oracle rebuilds every record byte-for-byte."""
    from ocr_spark.sources.wet import wet_export

    docs = _t(spark, sf_dir, "documents").select(
        F.concat(F.lit("https://corpus.example.com/d/"),
                 F.col("doc_id").cast("string")).alias("url"),
        F.expr(
            "date_format(timestamp'2024-01-01 00:00:00' + "
            "make_interval(0, 0, 0, 0, 0, CAST(doc_id AS INT), 0), "
            "\"yyyy-MM-dd'T'HH:mm:ss'Z'\")"
        ).alias("date_iso"),
        "text",
    )
    return wet_export(docs).orderBy("url")


# corpus-assembly mix specs shared by the Spark queries and their
# DuckDB oracles (thresholds/budgets must be the SAME integer literals
# on both sides — see ocr_spark.operators.corpus.sample_thresholds)
MIX_FRACTIONS = {"src0": 1.0, "src1": 0.5, "src2": 0.25, "src5": 0.1}
MIX_BUDGETS = {"src0": 600, "src1": 1_000_000_000, "src3": 2500}


def q_stratified_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic hash-threshold sampling per source stratum — the
    reproducible replacement for df.sample() when assembling a corpus
    mix (rand()-based sampling changes with partitioning/retries)."""
    from ocr_spark.operators.corpus import stratified_sample

    docs = _t(spark, sf_dir, "documents")
    return stratified_sample(docs, MIX_FRACTIONS).select(
        "doc_id", "source", "lang"
    )


WEIGHTED_SAMPLE_K = 100


def q_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Efraimidis-Spirakis weighted sampling without replacement,
    weight = document length (longer docs proportionally likelier):
    top-k by ln(u)/w with the uniform u derived from the salted 60-bit
    md5 hash, so the sampled set is a pure function of the corpus —
    reproducible across runs/retries/partitionings and re-derivable
    closed-form by the oracle."""
    from ocr_spark.operators.corpus import weighted_sample

    docs = _t(spark, sf_dir, "documents")
    return weighted_sample(docs, k=WEIGHTED_SAMPLE_K,
                           weight_col="n_chars").select(
        "doc_id", "source", "n_chars", "es_key"
    )


EPOCH_SHUFFLE_SEED = "ep1"


def q_epoch_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic per-epoch global shuffle order: every doc's rank
    in the permutation sorted by (md5-60(seed|doc_id), doc_id).  The
    engine computes it with the two-pass prefix sum over top-bit range
    buckets (never a global single-task window); the oracle is the
    naive global row_number, equal by construction because the bucket
    id is a prefix of the sort key."""
    from ocr_spark.operators.corpus import epoch_shuffle

    docs = _t(spark, sf_dir, "documents")
    return epoch_shuffle(docs, seed=EPOCH_SHUFFLE_SEED).select(
        "doc_id", "source", "epoch_pos"
    )


# epoch weights for q_epoch_mix: whole + fractional epochs, an
# exactly-1.0 stratum, and a sub-1.0 downsampling stratum; thresholds
# derive once in Python (epoch_weights) for both engines
EPOCH_WEIGHTS = {"src0": 2.5, "src1": 1.25, "src2": 1.0, "src5": 0.5}


def q_epoch_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fractional epoch upsampling of the corpus mix: src0 x2.5,
    src1 x1.25, src2 x1.0, src5 x0.5 — every copy tagged with its
    epoch index, selection a pure hash function."""
    from ocr_spark.operators.corpus import epoch_mix

    docs = _t(spark, sf_dir, "documents")
    return epoch_mix(docs, EPOCH_WEIGHTS).select(
        "doc_id", "source", "epoch"
    )


# DSIR target domain for q_dsir_select: two sources stand in for the
# "looks like Wikipedia/books" side of Xie et al. 2023; the raw side is
# the whole corpus.  Shared by query and oracle.
DSIR_TARGET_SOURCES = ("src0", "src1")


def q_dsir_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR importance weights (hashed unigram features, 256 buckets,
    add-1 smoothing) of every document against the src0/src1 target
    domain, with the threshold keep flag derived from the GRID-ROUNDED
    weight so both engines decide from identical values
    (operators/corpus.py:dsir_weights).  One n_buckets-row training
    aggregate + broadcast score join — the corpus never shuffles
    full-width."""
    from ocr_spark.operators.corpus import dsir_weights

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "text",
        F.col("source").isin(*DSIR_TARGET_SOURCES).alias("is_target"),
    )
    out = dsir_weights(docs, "is_target", n_buckets=256)
    lw = F.round(F.col("log_weight"), 6)
    return out.select(
        "doc_id", "n_tokens", lw.alias("log_w"),
        (lw > 0).cast("int").alias("keep"),
    )


SPLIT_SHARES = {"train": 0.9, "val": 0.05, "test": 0.05}


def q_data_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic train/val/test assignment: disjoint + exhaustive
    hash cut points, stable when the corpus grows (a doc's split
    depends only on its own key — no leakage across snapshot growth).
    Pure per-row expression, zero shuffle."""
    from ocr_spark.operators.corpus import data_split

    docs = _t(spark, sf_dir, "documents")
    return data_split(docs, SPLIT_SHARES).select(
        "doc_id", "source", "split"
    )


# shared literal for q_bloom_dedup: the boilerplate line every page
# carries (long enough to never collide with organic text)
_BLOOM_BP = "accept all cookies to continue reading this site"


def q_bloom_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental snapshot dedup via a Bloom bitmap (Dolma's
    paragraph-dedup design): even docs form the PRIOR snapshot whose
    trimmed lines build an 8192-bit / k=3 bitmap; odd docs are the NEW
    snapshot and drop every line the bitmap marks seen.  The shared
    boilerplate line vanishes from every new doc; organic and per-doc
    lines survive except deterministic false positives, which the
    DuckDB oracle reproduces bit-for-bit (same md5 bit positions, same
    32-bit-word bit_or fold).  Scale shape: the bitmap build is ONE
    skinny m/32-group aggregate, probes are k broadcast joins, and only
    kept text crosses the final reassembly exchange
    (operators/dedup.py:bloom_line_dedup)."""
    from ocr_spark.operators.dedup import bloom_line_dedup

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        F.concat_ws(
            "\n",
            F.col("text"),
            F.lit(_BLOOM_BP),
            F.concat(F.lit("page footer ref "), F.col("doc_id")),
        ).alias("text"),
    )
    prior = docs.filter(F.col("doc_id") % 2 == 0)
    new = docs.filter(F.col("doc_id") % 2 == 1)
    return bloom_line_dedup(new, prior)


def q_token_budget_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill each source stratum up to a token budget in deterministic
    hash order via the two-pass distributed prefix sum (never a whole
    stratum through one window task)."""
    from ocr_spark.operators.corpus import token_budget_mix

    docs = _t(spark, sf_dir, "documents")
    return token_budget_mix(docs, MIX_BUDGETS, n_buckets=64)


LB_BOUNDARIES = (16, 32, 64, 128)   # shared literals with the oracle
LB_BATCH = 8


def q_length_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Length-bucketed inference batching (operators/corpus.py):
    deterministic hash-ordered batch fill per padded-length bucket via
    the two-pass distributed prefix machinery; the oracle runs the
    naive single-window row_number twin."""
    from ocr_spark.operators.corpus import length_buckets

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return length_buckets(docs, LB_BOUNDARIES, LB_BATCH,
                          salt="lb").orderBy("doc_id")


def q_pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GPT-style sequence packing: global token offsets in deterministic
    hash order (two-pass distributed prefix sum, single implicit
    stratum) and the seq_len=2048 training-sequence range each document
    occupies."""
    from ocr_spark.operators.corpus import pack_sequences

    docs = _t(spark, sf_dir, "documents")
    return pack_sequences(docs, seq_len=2048, n_buckets=64)


def q_packed_batches(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized GPT-style packed sequences (the writer half of
    pack_sequences): actual seq_len=512 token streams with documents
    split across sequence boundaries, one row per training sequence.
    Oracled: DuckDB re-derives each sequence's exact text from the
    same prefix-sum placement and slice arithmetic."""
    from ocr_spark.operators.corpus import packed_sequences

    docs = _t(spark, sf_dir, "documents")
    return packed_sequences(docs, seq_len=512, n_buckets=64)


def q_shard_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """WebDataset-style output shard planning
    (operators/corpus.py:shard_plan): every document assigned whole to
    a 16 KiB-budget output shard via the two-pass byte prefix sum in
    deterministic hash order.  The oracle recomputes the same running
    byte offsets with a naive single window over the identical
    (h % 64, h, key) order."""
    from ocr_spark.operators.corpus import shard_plan

    docs = _t(spark, sf_dir, "documents")
    return shard_plan(docs, shard_bytes=16384, n_buckets=64)


def q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized shard manifest
    (operators/corpus.py:shard_manifest): per planned 16 KiB shard,
    doc/byte totals plus the md5 of the texts concatenated in plan
    order — what a shard writer publishes so readers can verify
    emitted bytes against the plan.  The oracle re-derives every
    digest with an ordered string_agg over the same prefix-sum
    placement."""
    from ocr_spark.operators.corpus import shard_manifest

    docs = _t(spark, sf_dir, "documents")
    return shard_manifest(docs, shard_bytes=16384,
                          n_buckets=64).orderBy("shard_id")


def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3-style n-gram overlap): the
    'benchmark' is a deterministic derived eval set — the first 60
    tokens of every doc_id %% 23 == 5 document, re-keyed +5000000 — so
    contamination exists by construction and partial-overlap pairs
    exercise the min_shared threshold.  Benchmark shingles broadcast;
    the corpus is never shuffled."""
    from ocr_spark.functions.text import tokens
    from ocr_spark.operators.corpus import contamination_pairs

    docs = _t(spark, sf_dir, "documents")
    bench = docs.filter(F.col("doc_id") % 23 == 5).select(
        (F.col("doc_id") + 5000000).alias("bench_id"),
        F.array_join(F.slice(tokens("text"), 1, 60), " ").alias("text"),
    )
    return contamination_pairs(docs, bench, ngram_k=5, min_shared=3)


def q_warc_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Common-Crawl-native ingest path end-to-end: documents are
    packed into spec-shaped WARC files (32 files; even file ids as
    per-record-gzip-member .warc.gz, the CC convention; odd ids plain),
    the WARC source splits records back out in an Arrow kernel, and the
    extraction engine recovers the document text byte-identically.
    One task per WARC file — the real crawl-scale parallel unit.
    Oracled closed-form: url/ts are deterministic functions of doc_id
    and extraction is the flagship identity."""
    from ocr_spark.operators.extract import extract_pages
    from ocr_spark.sources.warc import warc_pages_from_binary

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    pages = docs.select(
        "doc_id",
        (F.col("doc_id") % 32).alias("file_id"),
        F.concat(F.lit("https://synth.test/doc/"), F.col("doc_id"))
        .alias("url"),
        F.concat(
            F.lit("2024-06-01T10:"),
            F.lpad((F.col("doc_id") % 60).cast("string"), 2, "0"),
            F.lit(":00Z"),
        ).alias("ts"),
        F.encode(
            F.concat(F.lit(_WRAP_PREFIX), F.col("text"), F.lit(_WRAP_SUFFIX)),
            "utf-8",
        ).alias("html"),
    )

    def pack(key, pdf):
        import pandas as pd

        from ocr_spark.sources.warc import build_warc

        pdf = pdf.sort_values("doc_id")
        data = build_warc(
            list(zip(pdf["url"], pdf["ts"], (bytes(h) for h in pdf["html"]))),
            gzip_members=(int(key[0]) % 2 == 0),
        )
        return pd.DataFrame({"path": [f"file{int(key[0]):02d}.warc"],
                             "content": [data]})

    files = pages.groupBy("file_id").applyInPandas(
        pack, schema="path string, content binary")
    parsed = warc_pages_from_binary(files).filter(F.col("status") == "ok")
    out = extract_pages(parsed, payload_col="html",
                        passthrough=("url", "warc_ts"))
    return out.select(
        F.regexp_extract("url", r"/doc/(\d+)$", 1).cast("long").alias("doc_id"),
        "url", "warc_ts", "text",
    )


# --------------------------------------------------------------------------
# web url operators
# --------------------------------------------------------------------------

def _synth_urls(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic url corpus over documents: six spelling families
    exercising every normalization rule (scheme/host case, default
    ports, fragments, tracking params, param order, trailing slash,
    deep subdomains, scheme-less, co.uk-style suffixes).  The DuckDB
    oracles rebuild the identical CASE."""
    docs = _t(spark, sf_dir, "documents")
    m = F.col("doc_id") % 6
    h = (F.col("doc_id") % 50).cast("string")
    d = F.col("doc_id").cast("string")
    url = (
        F.when(m == 0, F.concat(F.lit("HTTP://WWW.Example"), h,
                                F.lit(".COM:80/a/b/?utm_source=feed&z=1&a=2#sec")))
        .when(m == 1, F.concat(F.lit("https://news.site"), h,
                               F.lit(".co.uk:443/story/"), d, F.lit("/")))
        .when(m == 2, F.concat(F.lit("http://host"), h,
                               F.lit(".org/path?fbclid=abc"), d))
        .when(m == 3, F.concat(F.lit("https://blog.host"), h,
                               F.lit(".net/x?b=2&a=1&ref=tw")))
        .when(m == 4, F.concat(F.lit("host"), h, F.lit(".com/plain")))
        .otherwise(F.concat(F.lit("https://a.b.c.example"), h,
                            F.lit(".com/?utm_medium=em#")))
    )
    return docs.select("doc_id", url.alias("url"),
                       F.length("text").alias("score"), "text")


def q_url_normalize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Url canonicalization + host/registered-domain extraction — the
    pass every crawl pipeline runs before url-keyed dedup.  Pure
    per-row JVM expressions; fully value-oracled."""
    from ocr_spark.operators.web import (registered_domain, url_host,
                                         url_normalize)

    urls = _synth_urls(spark, sf_dir)
    return urls.select(
        "doc_id",
        url_normalize("url").alias("url_norm"),
        url_host("url").alias("host"),
        registered_domain("url").alias("domain"),
    )


def q_domain_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain volume cap (keep best k=3 by score): the two-phase
    salted top-k whose phase-2 window input is bounded at
    k * n_salts rows per domain — the hot spam domain never funnels
    its raw volume through one task.  Oracle: the naive single-window
    form (identical output by the superset property)."""
    from ocr_spark.operators.web import domain_topk

    urls = _synth_urls(spark, sf_dir)
    # key_col: score ties AND exact url collisions both occur in the
    # synth families at sf0.1 (family-5 urls depend only on
    # doc_id % 50), so (score, url) is not a total order — doc_id is
    return domain_topk(urls, k=3, score_col="score",
                       key_col="doc_id").select(
        "doc_id", "domain", "score"
    )


# whole-domain blocks for url families 0/5 (example3.com) and 1
# (site7.co.uk), a path-prefix block that HITS family 2 (host9.org
# /path...) and one that MISSES family 3 (blog.host9.net path is /x,
# prefix /y) — the negative prefix case the oracle must agree on
URL_BLOCKLIST = [
    ("example3.com", None),
    ("site7.co.uk", None),
    ("host9.org", "/path"),
    ("host9.net", "/y"),
]


def q_url_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UT1/RefinedWeb-style URL blocklist filtering: registered-domain
    blocks plus path-prefix blocks, blocklist pre-aggregated to one
    broadcast row per domain.  Attribute-style output (every url with
    its blocked flag) so the oracle certifies both directions."""
    from ocr_spark.operators.web import url_blocklist_filter

    urls = _synth_urls(spark, sf_dir)
    bl = spark.createDataFrame(URL_BLOCKLIST,
                               "domain string, path_prefix string")
    return url_blocklist_filter(urls, bl).select(
        "doc_id", "domain", "blocked")


def q_crawl_schedule(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Politeness-constrained fetch scheduling: at most per_round=2
    urls per host per round, host-local rank by (salted hash, doc_id)
    computed with the two-pass prefix sum over top-bit buckets (the
    hot host never rides one window task).  Oracle: the naive per-host
    row_number, equal because the bucket id is a sort-key prefix."""
    from ocr_spark.operators.web import crawl_schedule

    urls = _synth_urls(spark, sf_dir)
    return crawl_schedule(urls, per_round=2).select(
        "doc_id", "host", "fetch_round", "fetch_slot")


def q_robots_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 9309 robots.txt crawl-permission filtering: five path
    families per host (public / private / private-ok / tmp / root),
    robots served only by even-indexed hosts (odd hosts exercise the
    missing-robots -> allow path), rules with allow-overrides-disallow
    longest-match precedence plus a decoy agent group that must NOT
    apply.  Engine: full REP parser-matcher (wildcards + $ anchors,
    unit-tested) behind a broadcast host join and an Arrow kernel
    (operators/web.py:robots_filter); the driver rules are pure
    prefixes so the oracle is a closed-form CASE on the path family."""
    from ocr_spark.operators.web import robots_filter

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    h = (F.col("doc_id") % 20).cast("string")
    d = F.col("doc_id").cast("string")
    m = F.col("doc_id") % 5
    path = (
        F.when(m == 0, F.concat(F.lit("/public/"), d))
        .when(m == 1, F.concat(F.lit("/private/"), d))
        .when(m == 2, F.concat(F.lit("/private/ok/"), d))
        .when(m == 3, F.concat(F.lit("/tmp/"), d))
        .otherwise(F.lit("/"))
    )
    pages = docs.select(
        "doc_id",
        F.concat(F.lit("https://site"), h, F.lit(".example.com"), path)
        .alias("url"),
    )
    robots_txt = ("User-agent: evilbot\nDisallow: /\n\n"
                  "User-agent: *\nDisallow: /private/\n"
                  "Allow: /private/ok/\nDisallow: /tmp/\n")
    robots = (
        spark.range(0, 20).select(F.col("id").alias("hid"))
        .filter(F.col("hid") % 2 == 0)
        .select(
            F.concat(F.lit("site"), F.col("hid").cast("string"),
                     F.lit(".example.com")).alias("host"),
            F.lit(robots_txt).alias("robots_txt"),
        )
    )
    out = robots_filter(pages, robots)
    return out.select("doc_id", "url", "allowed").orderBy("doc_id")


def q_outlinks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-graph construction with anchor text: each document becomes
    an html page (deterministic anchors derived from its tokens: up to
    5 absolute links host-keyed by position whose anchor text is the
    raw token, one relative link, one query link carrying a tracking
    param, plus fragment-only / javascript / duplicate anchors that
    must be dropped — the duplicate carries a decoy anchor text that
    must NOT displace the first anchor's), parsed by the real
    stdlib-HTMLParser link extractor, resolved with urljoin, and
    canonicalized with url_normalize.  The oracle reconstructs the
    expected (edge, anchor) set closed-form from the same tokens.
    Scale shape: one Arrow kernel pass, html never shuffles, output is
    the skinny edge list (operators/web.py:outlinks)."""
    from ocr_spark.operators.web import outlinks

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def build(batches):
        import html as _html
        import re as _re

        import pandas as pd

        for pdf in batches:
            urls, htmls = [], []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = (text or "").split()[:5]
                sans = [_re.sub(r"[^A-Za-z0-9]", "", t) for t in toks]
                parts = [f"<html><head><title>d{doc_id}</title></head>"
                         "<body><p>body text here</p>"]
                for j, (t, s) in enumerate(zip(toks, sans)):
                    parts.append(
                        f'<a href="https://w{j}.example.org/t/{s}">'
                        f"{_html.escape(t)}</a>")
                parts.append('<a href="/rel/0">r</a>')
                parts.append('<a href="?q=2&amp;utm_source=x">q</a>')
                parts.append('<a href="#top">s</a>')
                parts.append('<a href="javascript:void(0)">s</a>')
                if sans:
                    parts.append(
                        f'<a href="https://w0.example.org/t/{sans[0]}">'
                        "decoy dup</a>")
                parts.append("</body></html>")
                urls.append(f"https://src{doc_id}.example.com/dir/page.html")
                htmls.append("".join(parts).encode("utf-8"))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "url": urls,
                                "html": htmls})

    pages = docs.mapInPandas(build,
                             schema="doc_id long, url string, html binary")
    edges = outlinks(pages, html_col="html", url_col="url",
                     passthrough=("doc_id",), with_anchor_text=True)
    return (edges.select("doc_id", "dst", "anchor")
            .orderBy("doc_id", "dst"))


def q_anchor_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incoming anchor-text aggregation over the q_outlinks web graph:
    per link target, in-link count, distinct anchor strings, and the
    most frequent anchor (ties to the lexicographically last).  Engine
    side is two hash aggregates with an order-free struct-max — no
    window over the hot target; the oracle runs the naive
    window-ranked twin (operators/web.py:anchor_text_agg)."""
    from ocr_spark.operators.web import anchor_text_agg

    edges = q_outlinks(spark, sf_dir)
    return anchor_text_agg(edges).orderBy("dst")


ANCHOR_CATEGORIES = {  # shared literals with the oracle VALUES table
    "compute": ("join", "scan", "merge", "agg"),
    "storage": ("table", "row", "column", "data"),
    "streaming": ("stream", "window", "batch"),
}


def q_anchor_classify(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anchor-vote classification (operators/web.py:anchor_classify)
    over the q_outlinks graph — the anchors are raw corpus tokens, so
    the fixed category keywords get real vote distributions; the
    oracle chains the closed-form edge reconstruction with the same
    vote/argmax SQL."""
    from ocr_spark.operators.web import anchor_classify

    edges = q_outlinks(spark, sf_dir)
    return (anchor_classify(edges, ANCHOR_CATEGORIES)
            .orderBy("dst"))


def q_cdx_index(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDX capture-index generation (the Common-Crawl/Wayback lookup
    artifact): normalize the url, derive its SURT key (reversed host
    labels — a lexicographic sort clusters each domain's captures,
    which is why CDX shards by SURT range), a 14-digit capture
    timestamp, the payload digest and byte length.  Pure per-row
    expressions; the global order here is the driver's comparison sort
    — a production writer range-partitions by SURT prefix and sorts
    within shards (operators/web.py:surt_key)."""
    from ocr_spark.operators.web import surt_key, url_normalize

    pages = _synth_urls(spark, sf_dir)
    norm = url_normalize("url")
    ts = F.concat(
        F.lit("20240615"),
        F.lpad((F.col("doc_id") % 24).cast("string"), 2, "0"),
        F.lpad((F.col("doc_id") % 60).cast("string"), 2, "0"),
        F.lit("00"),
    )
    return pages.select(
        surt_key(norm).alias("surt"),
        ts.alias("ts"),
        norm.alias("url_norm"),
        F.md5(F.encode(F.col("text"), "utf-8")).alias("digest"),
        F.octet_length("text").alias("length"),
        "doc_id",
    ).orderBy("surt", "ts", "doc_id")


def q_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-iteration PageRank (3 rounds, d=0.85, the un-normalized
    Page et al. 1999 form) over a deterministic irregular graph: every
    doc links to (id² + 1) mod M (a non-bijective quadratic map —
    in-degrees vary, some ids get no in-links), and docs with id % 3
    != 0 also link to (id*13 + 5) mod M (out-degrees vary 1 vs 2);
    M = max id + 1, self-loops dropped, targets derived by equi-join
    against the id set (never assuming contiguity).  The oracle unrolls
    the three iterations as chained SQL aggregates.  Ranks are compared
    at round(.,9): on this graph out-degrees are 1 or 2 and d=0.85 has
    2 decimals, so after 3 iterations every rank is an EXACT 9-decimal
    number — rounding to 9 snaps both engines onto that grid (double
    noise ~1e-12 << the 5e-10 half-step), whereas rounding at 6 lands
    on .5 ties where Spark (HALF_UP) and DuckDB disagree.  Iterative-Spark discipline mirrors the connected-components
    clusterer: per-round localCheckpoint, skinny rank table, no windows
    (operators/web.py:pagerank)."""
    from ocr_spark.operators.web import pagerank

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    m = docs.agg((F.max("doc_id") + F.lit(1)).alias("m"))
    cand = docs.crossJoin(F.broadcast(m)).select(
        "doc_id",
        ((F.col("doc_id") * F.col("doc_id") + 1) % F.col("m")).alias("k1"),
        ((F.col("doc_id") * 13 + 5) % F.col("m")).alias("k2"),
    )
    dsts = docs.select(F.col("doc_id").alias("dst"))
    e1 = (cand.join(dsts, cand.k1 == dsts.dst)
          .select(F.col("doc_id").alias("src"), "dst"))
    e2 = (cand.filter(F.col("doc_id") % 3 != 0)
          .join(dsts, cand.k2 == dsts.dst)
          .select(F.col("doc_id").alias("src"), "dst"))
    edges = e1.union(e2).filter(F.col("src") != F.col("dst"))
    ranks = pagerank(edges, n_iter=3, damping=0.85)
    return (ranks.select(F.col("node").alias("doc_id"),
                         F.round("rank", 9).alias("pr"))
            .orderBy("doc_id"))


def q_trust_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TrustRank + spam mass (operators/web.py:trust_rank; Gyöngyi et
    al. VLDB'04/'06) over the SAME deterministic quadratic-map graph
    as q_pagerank, with seeds = docs whose id % 17 == 3 (a sparse,
    deterministic "hand-verified good" set).  Three un-normalized
    seeded iterations next to the three uniform PageRank iterations;
    the published columns are trust, pr, and the ABSOLUTE spam mass
    pr - trust — all on the exact 9-decimal grid (same argument as
    q_pagerank: d=0.85 has 2 decimals, out-degrees are 1 or 2, so 3
    iterations of +/x land on <= 9 decimals; the relative mass
    (pr-tr)/pr is NOT grid-exact, which is why the absolute form is
    the oracled one — production callers divide downstream).  The
    oracle unrolls both recurrences as chained SQL aggregates."""
    from ocr_spark.operators.web import pagerank, trust_rank

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    m = docs.agg((F.max("doc_id") + F.lit(1)).alias("m"))
    cand = docs.crossJoin(F.broadcast(m)).select(
        "doc_id",
        ((F.col("doc_id") * F.col("doc_id") + 1) % F.col("m")).alias("k1"),
        ((F.col("doc_id") * 13 + 5) % F.col("m")).alias("k2"),
    )
    dsts = docs.select(F.col("doc_id").alias("dst"))
    e1 = (cand.join(dsts, cand.k1 == dsts.dst)
          .select(F.col("doc_id").alias("src"), "dst"))
    e2 = (cand.filter(F.col("doc_id") % 3 != 0)
          .join(dsts, cand.k2 == dsts.dst)
          .select(F.col("doc_id").alias("src"), "dst"))
    edges = (e1.union(e2).filter(F.col("src") != F.col("dst"))
             .localCheckpoint())
    seeds = docs.filter(F.col("doc_id") % 17 == 3) \
        .select(F.col("doc_id").alias("node"))
    tr = trust_rank(edges, seeds, n_iter=3, damping=0.85)
    pr = pagerank(edges, n_iter=3, damping=0.85)
    return (
        tr.join(pr, "node")
        .select(
            F.col("node").alias("doc_id"),
            F.round("trust", 9).alias("trust"),
            F.round("rank", 9).alias("pr"),
            F.round(F.round("rank", 9) - F.round("trust", 9), 9)
            .alias("spam_mass"),
        )
        .orderBy("doc_id")
    )


def q_bitext_mine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Margin-based bitext mining (operators/similarity.py:bitext_mine;
    Artetxe & Schwenk ACL'19) between the even- and odd-id halves of
    the embeddings table standing in for two languages — run through
    the HARVEST-SCALE kernel: kernel='lsh' (6 literal hyperplanes,
    multi_probe=1), so both top-k directions are sign-pattern bucket
    equi-joins + per-bucket GEMM with NO broadcast side — the shape
    CCMatrix needs when neither language's side fits an executor.
    Mutual-best pairs whose cosine clears 1.10x the mean of both
    sides' found top-4 neighborhoods; cosines on the round-6 grid,
    margin at round-5.  The oracle re-derives the same rational
    hyperplanes, probe sets, and margins in SQL.  The exact-kernel
    certification baseline is retained as `bitext_mine_exact`."""
    from ocr_spark.operators.similarity import bitext_mine

    emb = _t(spark, sf_dir, "embeddings")
    src = emb.filter(F.col("vec_id") % 2 == 0)
    tgt = emb.filter(F.col("vec_id") % 2 == 1)
    return (bitext_mine(src, tgt, k=4, threshold=1.10, kernel="lsh",
                        dim=64, n_planes=6, multi_probe=1)
            .orderBy("src_id"))


def q_bitext_mine_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact-kernel arm of bitext mining: same margin/mutual algebra
    as q_bitext_mine but through cosine_topk (broadcast-query
    contract).  Kept as the certification baseline the ANN kernels'
    recall is judged against — and as the right kernel when one side
    genuinely IS small (mining a new crawl against a reference set)."""
    from ocr_spark.operators.similarity import bitext_mine

    emb = _t(spark, sf_dir, "embeddings")
    src = emb.filter(F.col("vec_id") % 2 == 0)
    tgt = emb.filter(F.col("vec_id") % 2 == 1)
    return (bitext_mine(src, tgt, k=4, threshold=1.10)
            .orderBy("src_id"))


def q_k_anonymity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """k-anonymity release audit (functions/scrub.py:k_anonymity;
    Sweeney 2002) over documents with quasi-identifiers (lang, source,
    500-char length bucket) at k=3: one row per equivalence class with
    its size and safety flag.  The indirect-identifier complement to
    pii_scrub's direct-identifier redaction; ONE hash aggregate."""
    from ocr_spark.functions.scrub import k_anonymity

    docs = _t(spark, sf_dir, "documents").select(
        "lang", "source",
        F.floor(F.col("n_chars") / 500).alias("len_b"))
    return k_anonymity(docs, ["lang", "source", "len_b"], k=3) \
        .orderBy("lang", "source", "len_b")


def q_k_suppress(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Suppression arm (functions/scrub.py:suppress_below_k): drop
    rows in sub-k quasi-identifier classes, then summarize survivors
    per lang.  The anti-join ships only the unsafe-class key list
    (null-safe keys: NULL quasi values form a class too)."""
    from ocr_spark.functions.scrub import suppress_below_k

    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", "lang", "source", "n_chars",
        F.floor(F.col("n_chars") / 500).alias("len_b"))
    kept = suppress_below_k(docs, ["lang", "source", "len_b"], k=3)
    return (kept.groupBy("lang")
            .agg(F.count(F.lit(1)).alias("n_kept"),
                 F.sum("n_chars").alias("chars_kept"))
            .orderBy("lang"))


def q_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order data-layout audit (operators/layout.py:zorder_layout;
    the Delta OPTIMIZE ZORDER / Iceberg z-order rewrite strategy) over
    documents bucketized on two dims: x = byte length mod 256, y =
    doc_id mod 256.  Publishes per-file min/max/span of BOTH dims for
    the z-order assignment NEXT TO the naive x-sorted assignment —
    the side-by-side IS the data-skipping evaluation (z-order files
    are rectangles; linear files span the full y range).  All-integer
    output; the oracle re-derives the Morton key with the same bitwise
    arithmetic."""
    from ocr_spark.operators.layout import zorder_layout

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dims = docs.select(
        (F.octet_length(F.coalesce(F.col("text"), F.lit(""))) % 256)
        .cast("int").alias("len_bucket"),
        (F.col("doc_id") % 256).cast("int").alias("id_bucket"),
    )
    return (zorder_layout(dims, "len_bucket", "id_bucket",
                          bits=8, n_files=16)
            .orderBy("layout", "file_id"))


def q_triangle_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-node triangles + clustering coefficient
    (operators/web.py:triangle_count; Suri & Vassilvitskii WWW'11
    degree-ordered orientation) over the SAME deterministic
    quadratic-map graph as q_pagerank, viewed undirected.  Every
    published column is an exact integer — the coefficient ships as
    the (2T, deg*(deg-1)) numerator/denominator pair — so the oracle
    (a plain u<v<w triple self-join; orientation is an execution
    strategy, not a semantics change) has zero float hazard."""
    from ocr_spark.operators.web import triangle_count

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    m = docs.agg((F.max("doc_id") + F.lit(1)).alias("m"))
    cand = docs.crossJoin(F.broadcast(m)).select(
        "doc_id",
        ((F.col("doc_id") * F.col("doc_id") + 1) % F.col("m")).alias("k1"),
        ((F.col("doc_id") * 13 + 5) % F.col("m")).alias("k2"),
    )
    dsts = docs.select(F.col("doc_id").alias("dst"))
    e1 = (cand.join(dsts, cand.k1 == dsts.dst)
          .select(F.col("doc_id").alias("src"), "dst"))
    e2 = (cand.filter(F.col("doc_id") % 3 != 0)
          .join(dsts, cand.k2 == dsts.dst)
          .select(F.col("doc_id").alias("src"), "dst"))
    edges = e1.union(e2).filter(F.col("src") != F.col("dst"))
    return triangle_count(edges).orderBy("node")


def q_hits(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HITS hubs & authorities (operators/web.py:hits) over the SAME
    deterministic quadratic-map graph as q_pagerank (links to
    (id²+1) mod M, plus (13·id+5) mod M when id%3 != 0, self-loops
    dropped).  Two UN-normalized power iterations from an all-ones hub
    vector, so every score is an exact INTEGER (alternating-path
    count) and the oracle can unroll the same rounds as chained SQL
    aggregates with zero float hazard — the same exactness discipline
    as the integer PageRank-free sketches."""
    from ocr_spark.operators.web import hits

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    m = docs.agg((F.max("doc_id") + F.lit(1)).alias("m"))
    cand = docs.crossJoin(F.broadcast(m)).select(
        "doc_id",
        ((F.col("doc_id") * F.col("doc_id") + 1) % F.col("m")).alias("k1"),
        ((F.col("doc_id") * 13 + 5) % F.col("m")).alias("k2"),
    )
    dsts = docs.select(F.col("doc_id").alias("dst"))
    e1 = (cand.join(dsts, cand.k1 == dsts.dst)
          .select(F.col("doc_id").alias("src"), "dst"))
    e2 = (cand.filter(F.col("doc_id") % 3 != 0)
          .join(dsts, cand.k2 == dsts.dst)
          .select(F.col("doc_id").alias("src"), "dst"))
    edges = e1.union(e2).filter(F.col("src") != F.col("dst"))
    return hits(edges, n_iter=2).orderBy("node")


def q_graph_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Connected components over a SPARSE deterministic link graph
    (only ids with id % 5 < 2 emit their quadratic-map edge, so the
    graph fragments into many components plus singletons) — the
    site-cluster / mirror-farm grouping pass, reusing the SAME
    large-star/small-star iteration the dedup clusterer runs
    (operators/dedup.py:connected_components); component sizes via
    groupBy count (never a window over the component id)."""
    from ocr_spark.operators.dedup import connected_components

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    m = docs.agg((F.max("doc_id") + F.lit(1)).alias("m"))
    cand = (docs.filter(F.col("doc_id") % 5 < 2)
            .crossJoin(F.broadcast(m))
            .select("doc_id",
                    ((F.col("doc_id") * F.col("doc_id") + 1) % F.col("m"))
                    .alias("k1")))
    dsts = docs.select(F.col("doc_id").alias("dst"))
    edges = (cand.join(dsts, cand.k1 == dsts.dst)
             .select(F.col("doc_id").alias("id_a"), F.col("dst").alias("id_b"))
             .filter(F.col("id_a") != F.col("id_b")))
    cc = connected_components(edges, nodes=docs, key_col="doc_id")
    sizes = cc.groupBy("cluster_id").agg(
        F.count(F.lit(1)).alias("component_size"))
    return (cc.join(sizes, "cluster_id")
            .select("doc_id", "cluster_id", "component_size")
            .orderBy("doc_id"))


def q_graph_prior(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Web-graph quality prior, composed end-to-end from the new web
    operators: pages (each document hosted on site{id%20}, carrying
    real ``<a>`` links to host (hid²+1) mod 20 — a non-bijective
    quadratic map, so host in-degrees vary — plus host (13·hid+5) mod
    20 when hid % 3 != 0, so out-degrees vary 1 vs 2)
    -> outlinks (real HTML parse) -> host-level edge list -> 3-round
    PageRank -> joined back to every document as its host's prior, with
    a keep flag at prior >= 1.0 (hosts more-linked than the un-linked
    baseline).  This is the crawl-pipeline pattern of host-authority
    priors feeding curation (PageRank as a crawl/quality prior, Page et
    al. 1999 §1.3; modern crawls use the same shape for scheduling).

    The host graph has out-degree <= 2 by construction (links depend
    only on the host index), so ranks sit on the exact 9-decimal grid
    (same argument as q_pagerank) and the oracle unrolls the iterations
    over the 20-node host graph in SQL.  Scale shape: the host graph is
    tiny regardless of corpus size (one node per host), the prior join
    back to documents is a broadcast."""
    from ocr_spark.operators.web import outlinks, pagerank, url_host

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def build(batches):
        import pandas as pd

        for pdf in batches:
            urls, htmls = [], []
            for doc_id in pdf["doc_id"]:
                hid = doc_id % 20
                h1 = (hid * hid + 1) % 20
                a2 = (f'<a href="https://site{(hid * 13 + 5) % 20}'
                      '.example.com/">n2</a>' if hid % 3 != 0 else "")
                urls.append(
                    f"https://site{hid}.example.com/d/{doc_id}")
                htmls.append((
                    "<html><body><p>doc body</p>"
                    f'<a href="https://site{h1}.example.com/">n1</a>'
                    f"{a2}</body></html>"
                ).encode("utf-8"))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "url": urls,
                                "html": htmls})

    pages = docs.mapInPandas(build,
                             schema="doc_id long, url string, html binary")
    edges = outlinks(pages, html_col="html", url_col="url",
                     passthrough=("doc_id",))
    hostg = (edges.select(url_host("url").alias("src"),
                          url_host("dst").alias("dst"))
             .filter(F.col("src") != F.col("dst")).distinct())
    pr = pagerank(hostg, n_iter=3, damping=0.85)
    with_host = pages.select(
        "doc_id", url_host("url").alias("host"))
    # keep is derived from the grid-ROUNDED prior: the 9-decimal grid
    # values are identical across engines, the raw doubles may straddle
    # the 1.0 threshold by an ulp in either direction
    out = (with_host.join(F.broadcast(pr),
                          with_host.host == pr.node, "left")
           .withColumn("prior", F.round("rank", 9))
           .select("doc_id", "host", "prior",
                   (F.coalesce(F.col("prior"), F.lit(0.0)) >= 1.0)
                   .cast("int").alias("keep")))
    return out.orderBy("doc_id")


# --------------------------------------------------------------------------
# the composed end-to-end curation pipeline
# --------------------------------------------------------------------------

# article wrap WITHOUT the single-block <p>: the curation corpus carries
# three article paragraphs (cookie banner / body / tail), so extraction,
# quality filtering, line dedup, clustering, decontamination, mixing and
# packing all see multi-line documents end to end
_CURATE_PRE = _WRAP_PREFIX[: -len("<p>")]
_CURATE_POST = _WRAP_SUFFIX[len("</p>"):]


def q_curate_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The whole training-data pipeline as ONE plan — the composition
    round 3 never produced (every stage was individually green, but
    column contracts and accidental re-shuffles hide in the seams):

      extract (3-paragraph boilerplate pages over docs + near-dup
      mutants) → quality filter keep → CCNet line dedup → MinHash-LSH
      near-dup clusters, keep doc_id == cluster_id → n-gram
      decontamination anti-join → token-budget mix → sequence packing.

    The reference analogue is its single linear pipeline
    (/root/reference/app.py:115-132).  Oracled end-to-end: the DuckDB
    twin chains the per-stage oracles as CTEs (extraction is the
    closed-form cookie/body/tail reconstruction — the body paragraph
    rides iff non-blank, the probe-verified extractor rule).

    Scale notes: the curated corpus is localCheckpoint'd once after
    line dedup — it feeds three consumers (cluster pairs, node list,
    downstream corpus) and a real run would persist it to storage at
    exactly that point; the decontamination bench side is broadcast;
    mix + pack stay two-pass prefix sums."""
    from ocr_spark.functions.quality import with_quality_filter
    from ocr_spark.functions.text import tokens
    from ocr_spark.operators.corpus import (contamination_pairs,
                                            pack_sequences,
                                            token_budget_mix)
    from ocr_spark.operators.dedup import line_dedup, near_dup_clusters
    from ocr_spark.operators.extract import extract_pages

    docs = _t(spark, sf_dir, "documents").select("doc_id", "source", "text")
    mutated = docs.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        "source",
        F.ltrim(
            F.substring(
                F.col("text"), F.instr(F.col("text"), " ") + 1, 10_000_000
            )
        ).alias("text"),
    ).filter(F.instr(F.col("text"), " ") > 0)
    base = docs.unionByName(mutated).repartition(
        spark.sparkContext.defaultParallelism
    )
    tail = F.when(F.col("doc_id") % 3 == 0, F.lit(_LD_NEWS)).otherwise(
        F.concat(F.lit("ref code "), F.col("doc_id"))
    )
    pages = base.select(
        "doc_id", "source",
        F.encode(
            F.concat(
                F.lit(_CURATE_PRE + "<p>" + _LD_COOKIE + "</p><p>"),
                F.col("text"),
                F.lit("</p><p>"), tail, F.lit("</p>" + _CURATE_POST),
            ),
            "utf-8",
        ).alias("html"),
    )
    ext = extract_pages(pages, payload_col="html",
                        passthrough=("doc_id", "source"))
    ext = ext.select("doc_id", "source", "text")
    qual = (
        with_quality_filter(ext)
        .filter(F.col("keep") == 1)
        .select("doc_id", "source", "text")
    )
    ld = line_dedup(qual, "doc_id", "text", min_dup_docs=2, min_line_chars=10)
    corpus = (
        ld.select("doc_id", "text")
        .join(qual.select("doc_id", "source"), "doc_id")
        .localCheckpoint()
    )
    clusters = near_dup_clusters(corpus, "doc_id", "text", n_hashes=16,
                                 bands=8, shingle_k=3,
                                 hash_mode="md5_affine")
    # kept and clean each feed two consumers (contam probe + anti-join;
    # mix + pack).  Without a materialization barrier Spark re-expands
    # the whole upstream subtree per consumer — measured 212 Exchange
    # nodes in the composed plan vs 22 with the checkpoints (the plan
    # test pins the bound).  A production run persists the curated
    # corpus to storage at these exact points.
    kept = corpus.join(
        clusters.filter(F.col("doc_id") == F.col("cluster_id"))
        .select("doc_id"),
        "doc_id",
    ).localCheckpoint()
    bench = _t(spark, sf_dir, "documents").filter(F.col("doc_id") % 23 == 5).select(
        (F.col("doc_id") + 5000000).alias("bench_id"),
        F.array_join(F.slice(tokens("text"), 1, 60), " ").alias("text"),
    )
    contam = (
        contamination_pairs(kept, bench, ngram_k=5, min_shared=3)
        .select("doc_id").distinct()
    )
    clean = kept.join(contam, "doc_id", "left_anti").localCheckpoint()
    mix = token_budget_mix(clean, MIX_BUDGETS, n_buckets=64)
    packed = pack_sequences(
        clean.join(mix.select("doc_id"), "doc_id"), seq_len=2048, n_buckets=64
    )
    return packed.join(mix.select("doc_id", "source"), "doc_id").select(
        "doc_id", "source", "n_tokens", "start_off", "seq_first", "seq_last",
        "n_seqs",
    )


# --------------------------------------------------------------------------
# multimodal plumbing (opaque binary + typed metadata; decode stubbed —
# deterministic fake kernel, real codec pluggable via decode_fn)
# --------------------------------------------------------------------------

def q_media_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-batched media plumbing over REAL image headers: payloads
    are synthesized PNG/GIF/JPEG headers (magic + dimensions packed
    with Spark binary/hex built-ins, sized from doc_id), and the
    codec-free header parser recovers kind/width/height.  Fully
    oracled: DuckDB recomputes the dimensions arithmetically."""
    from ocr_spark.operators.multimodal import decode_media

    docs = _t(spark, sf_dir, "documents")
    w = (F.lit(64) + F.col("doc_id") % 512).cast("long")
    h = (F.lit(64) + (F.col("doc_id") * 7) % 512).cast("long")
    be16 = lambda c: F.lpad(F.hex(c), 4, "0")
    be32 = lambda c: F.lpad(F.hex(c), 8, "0")
    le16 = lambda c: F.concat(F.lpad(F.hex(c % 256), 2, "0"),
                              F.lpad(F.hex(F.shiftright(c, 8)), 2, "0"))
    png = F.concat(F.lit("89504E470D0A1A0A0000000D49484452"),
                   be32(w), be32(h), F.lit("0806000000"))
    gif = F.concat(F.lit("474946383961"), le16(w), le16(h))
    jpeg = F.concat(F.lit("FFD8FFC0001108"), be16(h), be16(w), F.lit("03"))
    m = F.col("doc_id") % 3
    media = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.unhex(
            F.when(m == 0, png).when(m == 1, gif).otherwise(jpeg)
        ).alias("payload"),
    )
    return decode_media(media).select(
        "media_id", "kind", "width", "height", "n_frames", "status"
    )


def q_exif(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Real EXIF metadata extraction over synthesized JPEG APP1/TIFF
    blobs: per doc the builder packs a genuine IFD0 (Orientation,
    DateTime via data-area offset, GPS sub-IFD pointer on id % 4 == 0)
    in BOTH byte orders (II on even ids, MM on odd — the endian path
    is half the parser), truncating every 17th payload so the
    parse_error taxonomy is driver-visible.  has_gps is the point:
    embedded coordinates are location PII
    (operators/multimodal.py:parse_exif)."""
    import struct as _struct

    from ocr_spark.operators.multimodal import exif_extract

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def build(batches):
        import pandas as pd

        for pdf in batches:
            blobs = []
            for doc_id in pdf["doc_id"]:
                did = int(doc_id)
                e = "<" if did % 2 == 0 else ">"
                bo = b"II" if did % 2 == 0 else b"MM"
                gps = did % 4 == 0
                n = 3 if gps else 2
                dt = (f"2024:01:{did % 28 + 1:02d} "
                      f"12:{did % 60:02d}:00").encode() + b"\x00"
                dt_off = 8 + 2 + n * 12 + 4
                ents = (_struct.pack(e + "HHI", 0x0112, 3, 1)
                        + _struct.pack(e + "H", did % 8 + 1) + b"\x00\x00")
                ents += (_struct.pack(e + "HHI", 0x0132, 2, 20)
                         + _struct.pack(e + "I", dt_off))
                if gps:
                    ents += (_struct.pack(e + "HHI", 0x8825, 4, 1)
                             + _struct.pack(e + "I", dt_off + 20))
                tiff = (bo + _struct.pack(e + "HI", 42, 8)
                        + _struct.pack(e + "H", n) + ents
                        + _struct.pack(e + "I", 0) + dt)
                if gps:
                    tiff += _struct.pack(e + "H", 0) + _struct.pack(e + "I", 0)
                exif = b"Exif\x00\x00" + tiff
                jpeg = (b"\xff\xd8\xff\xe1"
                        + _struct.pack(">H", len(exif) + 2) + exif
                        + b"\xff\xd9")
                blobs.append(jpeg[:10] if did % 17 == 0 else jpeg)
            yield pd.DataFrame({"media_id": pdf["doc_id"].astype(str),
                                "payload": blobs})

    media = docs.mapInPandas(build, schema="media_id string, payload binary")
    return exif_extract(media).orderBy(F.col("media_id").cast("long"))


def q_png_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL pixel decode, codec-free: each doc becomes a spec-conformant
    PNG (zlib IDAT, CRC chunks, per-doc filter type 0-4) whose pixel
    values are the closed-form ramp (base + 3i + c) % 256; the stdlib
    decoder (multimodal.decode_png_pixels) walks chunks, inflates,
    unfilters, and emits per-channel means.  The oracle recomputes the
    means arithmetically — so the decode path (including unfiltering,
    which varies per doc but must never change the pixels) is fully
    value-gated.  Closes the reference's image modality
    (/root/reference/services/file_processor.py:49-62) with a real
    decoder instead of a header stub."""
    from ocr_spark.operators.multimodal import decode_media, decode_png_pixels

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def build(batches):
        import pandas as pd

        from ocr_spark.data.synth import build_png

        for pdf in batches:
            payloads = [
                build_png(8 + int(d) % 16, 4 + int(d) % 9,
                          base=int(d) % 256, filter_type=int(d) % 5)
                for d in pdf["doc_id"]
            ]
            yield pd.DataFrame({"media_id": pdf["doc_id"].astype(str),
                                "payload": payloads})

    media = docs.mapInPandas(build, schema="media_id string, payload binary")
    out = decode_media(media, decode_fn=decode_png_pixels)
    return out.select(
        "media_id", "kind", "width", "height",
        F.col("feature")[0].alias("mean_r"),
        F.col("feature")[1].alias("mean_g"),
        F.col("feature")[2].alias("mean_b"),
        "status",
    )


def _ahash_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared builder for the aHash queries: each doc becomes a REAL
    16x16 grayscale PNG (zlib IDAT, CRC chunks, per-doc filter type
    0-4) whose pixels are constant per 2x2 aHash block: block index
    b = gy*8+gx has value (t*t + 5*b + d0) % 256 with
    t = (d0+1)*(b+3) and d0 = doc_id rounded down to even — a
    scattered (quadratic) pattern so unrelated images are far apart in
    Hamming space, while consecutive (even, odd) ids form planted
    near-duplicate pairs: the odd id's block #(d0 % 64) is inverted
    (255 - v), a small perturbation.  Closed form, so DuckDB
    re-derives every hash bit."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def build(batches):
        import pandas as pd

        from ocr_spark.data.synth import build_png

        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                did = int(d)
                d0 = did - did % 2
                flip = d0 % 64 if did % 2 == 1 else -1

                def px(i, c, d0=d0, flip=flip):
                    b = ((i // 16) // 2) * 8 + (i % 16) // 2
                    t = (d0 + 1) * (b + 3)
                    v = (t * t + 5 * b + d0) % 256
                    return 255 - v if b == flip else v

                payloads.append(
                    build_png(16, 16, color_type=0, filter_type=did % 5,
                              pixel_fn=px))
            yield pd.DataFrame({"media_id": pdf["doc_id"].astype(str),
                                "payload": payloads})

    return docs.mapInPandas(build, schema="media_id string, payload binary")


def q_image_ahash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual average-hash over REAL decoded PNG pixels
    (multimodal.ahash_from_png): luma -> 8x8 block means -> 64 bits by
    exact integer cross-multiplication, emitted as both a bitstring
    and the production hex key.  The oracle recomputes every bit
    arithmetically from the closed-form block values — the decode,
    unfilter (type varies per doc), pooling, and threshold logic are
    all value-gated."""
    from ocr_spark.operators.multimodal import image_ahash

    out = image_ahash(_ahash_media(spark, sf_dir))
    return out.select("media_id", "width", "height",
                      "ahash_bits", "ahash_hex", "status")


def q_ahash_near_dup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-duplicate IMAGE pairs: aHash + pigeonhole chunk blocking
    (4x16-bit chunks, exact for Hamming <= 3 by pigeonhole) + JVM-side
    XOR-popcount verify — simhash's recipe applied to the image
    modality.  Planted pairs: every (even, odd) id pair differs by one
    inverted block.  Oracle: brute-force Hamming over the re-derived
    bit tables (feasible at oracle scale; the Spark side never goes
    all-pairs)."""
    from ocr_spark.operators.multimodal import ahash_near_dup, image_ahash

    hashes = image_ahash(_ahash_media(spark, sf_dir))
    return ahash_near_dup(hashes, max_hamming=3).select(
        "media_a", "media_b", F.col("hamming").cast("int").alias("hamming"))


def q_png_palette(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL palette-PNG (color type 3) decode: per doc an indexed PNG
    whose pixel i is PLTE index (base+i) % 256 with the closed-form
    palette entry j = (37j % 256, 59j % 256, 83j % 256); the decoder
    walks chunks, inflates, unfilters, and expands indices through the
    PLTE table to RGB means.  Every 17th doc ships a 32-entry palette
    with out-of-range indices -> the exact 'palette index N out of
    range' error ROW, whose N the oracle re-derives (max index is
    min(base+n-1, 255)).  Closes the indexed-color class of web PNGs
    the same way png_decode closed truecolor."""
    from ocr_spark.operators.multimodal import decode_media, decode_png_pixels

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def build(batches):
        import pandas as pd

        from ocr_spark.data.synth import build_png

        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                did = int(d)
                payloads.append(build_png(
                    8 + did % 8, 6 + did % 5, base=did % 256,
                    color_type=3, filter_type=did % 5,
                    palette_size=32 if did % 17 == 0 else 256))
            yield pd.DataFrame({"media_id": pdf["doc_id"].astype(str),
                                "payload": payloads})

    media = docs.mapInPandas(build, schema="media_id string, payload binary")
    out = decode_media(media, decode_fn=decode_png_pixels)
    return out.select(
        "media_id", "kind", "width", "height",
        F.col("feature")[0].alias("mean_r"),
        F.col("feature")[1].alias("mean_g"),
        F.col("feature")[2].alias("mean_b"),
        "status", "error_msg")


def q_centroid_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Outlier audit composed on label_centroids
    (operators/similarity.py:centroid_outliers): cosine of each vector
    to its own label centroid, ranked ascending per label (rank 1 =
    least cluster-like).  Centroids broadcast back; the oracle
    re-derives centroids on the same round-6 grid and re-ranks with
    the same (cos, vec_id) tie-break."""
    from ocr_spark.operators.similarity import centroid_outliers

    emb = _t(spark, sf_dir, "embeddings").select(
        "vec_id", "label", "embedding")
    return centroid_outliers(emb)


def q_feature_hash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed feature-hashing vectors
    (functions/model.py:feature_hash_vector) emitted as exploded
    (doc_id, bucket, value) rows — exact integers, so the oracle
    re-derives every component from the md5 bucket/sign hashes with a
    docs x buckets frame left-joined to the token aggregate."""
    from ocr_spark.functions.model import feature_hash_vector

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return docs.select(
        "doc_id",
        F.posexplode(feature_hash_vector("text", dim=16))
        .alias("bucket", "value"))


def q_rrf_fusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid retrieval: Reciprocal Rank Fusion
    (operators/index.py:rrf_fuse, Cormack et al. 2009) of the hashed-
    vector cosine ranking (q_hash_retrieval) and a term-frequency
    ranking for 'spark' — the rank-only combiner production hybrid
    search uses because it needs no score calibration.  The oracle
    embeds the SAME hash-ranking SQL (shared helper, zero drift) and
    fuses with the identical 1/(60+rank) arithmetic."""
    from pyspark.sql import Window

    from ocr_spark.operators.index import rrf_fuse

    ra = q_hash_retrieval(spark, sf_dir).select("doc_id", "rank")
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    tf = docs.select(
        "doc_id",
        F.regexp_count(F.lower("text"), F.lit("spark")).alias("tf"))
    wb = Window.orderBy(F.col("tf").desc(), F.col("doc_id").asc())
    rb = (tf.where(F.col("tf") > 0)
          .orderBy(F.col("tf").desc(), "doc_id").limit(20)
          .select("doc_id", F.row_number().over(wb).alias("rank")))
    return rrf_fuse([ra, rb], k=60)


def q_retrieval_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """nDCG@{5,10,20} self-evaluation (operators/index.py:ndcg_eval)
    of the hashed-vector ranking against term-frequency relevance —
    the eval that closes the retrieval loop (same family as
    ann_recall / ivf_recall / lang_confusion).  The oracle embeds the
    shared hash-ranking SQL and recomputes both DCG sums with the
    identical log2 discount and tie-breaks."""
    from ocr_spark.operators.index import ndcg_eval

    ranking = q_hash_retrieval(spark, sf_dir).select("doc_id", "rank")
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    relevance = docs.select(
        "doc_id",
        F.regexp_count(F.lower("text"), F.lit("spark")).alias("rel"))
    return ndcg_eval(ranking, relevance, cutoffs=(5, 10, 20))


def _hash_retrieval_sql() -> str:
    """DuckDB twin of q_hash_retrieval — factored out so the RRF
    fusion oracle can embed the same ranking as a subquery."""
    return r'''
          WITH tl AS (
            SELECT doc_id,
              CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                   ELSE string_split_regex(trim(text), '\s+') END AS tk
            FROM documents),
          tok AS (SELECT doc_id, unnest(tk) AS t FROM tl),
          h AS (
            SELECT doc_id,
              ('0x' || substr(md5('fh|' || t), 1, 15))::BIGINT % 16 AS b,
              CASE WHEN ('0x' || substr(md5('fs|' || t), 1, 15))::BIGINT
                        % 2 = 0 THEN 1 ELSE -1 END AS sgn
            FROM tok),
          agg AS (SELECT doc_id, b, sum(sgn) AS v FROM h GROUP BY 1, 2),
          frame AS (SELECT d.doc_id, g.b FROM documents d,
                    (SELECT unnest(range(0, 16)) AS b) g),
          dvec AS (
            SELECT f.doc_id, f.b, coalesce(a.v, 0) AS v
            FROM frame f LEFT JOIN agg a
              ON f.doc_id = a.doc_id AND f.b = a.b),
          qtok AS (SELECT unnest(['table', 'spark', 'data']) AS t),
          qh AS (
            SELECT
              ('0x' || substr(md5('fh|' || t), 1, 15))::BIGINT % 16 AS b,
              CASE WHEN ('0x' || substr(md5('fs|' || t), 1, 15))::BIGINT
                        % 2 = 0 THEN 1 ELSE -1 END AS sgn
            FROM qtok),
          qagg AS (SELECT b, sum(sgn) AS v FROM qh GROUP BY 1),
          qvec AS (
            SELECT g.b, coalesce(q.v, 0) AS v
            FROM (SELECT unnest(range(0, 16)) AS b) g
            LEFT JOIN qagg q ON g.b = q.b),
          nq AS (SELECT sum(v * v) AS nq FROM qvec),
          dots AS (
            SELECT d.doc_id, sum(d.v * q.v) AS dot,
                   sum(d.v * d.v) AS nd
            FROM dvec d JOIN qvec q ON d.b = q.b
            GROUP BY 1),
          scored AS (
            SELECT doc_id,
                   round(CAST(dot AS DOUBLE)
                         / (sqrt(CAST(nd AS DOUBLE))
                            * sqrt(CAST((SELECT nq FROM nq) AS DOUBLE))),
                         6) AS cos
            FROM dots WHERE nd > 0),
          top AS (
            SELECT doc_id, cos FROM scored
            ORDER BY cos DESC, doc_id LIMIT 20)
          SELECT doc_id, cos,
                 CAST(row_number() OVER (ORDER BY cos DESC, doc_id) AS INT)
                   AS rank
          FROM top
        '''


def q_hash_retrieval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary-free retrieval over hashed vectors: cosine between
    each doc's 16-dim signed-hash vector and the fixed query's vector,
    distributed top-20 (orderBy+limit = TakeOrderedAndProject, never a
    global window) ranked on the ROUNDED cosine with doc_id
    tie-break so both engines select identically.  Exact integer dots
    and norms; one IEEE sqrt+division at the end."""
    import hashlib

    from pyspark.sql import Window

    from ocr_spark.functions.model import feature_hash_vector

    # the query vector is a CONSTANT: hash it driver-side (identical
    # md5 arithmetic) instead of re-evaluating the fold per row
    qv = [0] * 16
    for t in "table spark data".split():
        b = int(hashlib.md5(f"fh|{t}".encode()).hexdigest()[:15], 16) % 16
        s = (1 if int(hashlib.md5(f"fs|{t}".encode()).hexdigest()[:15],
                      16) % 2 == 0 else -1)
        qv[b] += s
    nq = sum(x * x for x in qv)

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    # materialize the doc vector ONCE: CollapseProject would otherwise
    # inline the fold into dot AND norm (measured 10x slower)
    vec = docs.select(
        "doc_id", feature_hash_vector("text", dim=16).alias("v")
    ).localCheckpoint()
    dot = sum((F.element_at("v", d + 1) * qv[d] for d in range(16)
               if qv[d] != 0), F.lit(0).cast("long"))
    nd = F.aggregate("v", F.lit(0).cast("long"),
                     lambda acc, x: acc + x * x)
    cos = F.round(dot.cast("double")
                  / (F.sqrt(nd.cast("double")) * F.sqrt(F.lit(float(nq)))),
                  6)
    scored = (vec.select("doc_id", cos.alias("cos"), nd.alias("nd"))
              .where(F.col("nd") > 0)
              .orderBy(F.col("cos").desc(), "doc_id").limit(20))
    w = Window.orderBy(F.col("cos").desc(), "doc_id")
    return scored.select("doc_id", "cos",
                         F.row_number().over(w).alias("rank"))


def q_label_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label embedding centroids via the posexplode + (label, dim)
    hash-aggregate shape (operators/similarity.py:label_centroids) —
    map-side partials absorb the fan-in, the exchange carries only
    n_labels x dim partial rows.  The oracle unnests the same vectors
    and re-averages on the double grid."""
    from ocr_spark.operators.similarity import label_centroids

    emb = _t(spark, sf_dir, "embeddings").select("label", "embedding")
    return label_centroids(emb)


def q_fim_transform(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fill-in-the-middle training transform
    (operators/corpus.py:fim_transform): character-third splits,
    50/50 PSM/SPM by the md5-derived hash parity, sentinel-joined
    output text.  The oracle recomputes the identical substrings,
    parity, and concatenation."""
    from ocr_spark.operators.corpus import fim_transform

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return fim_transform(docs)


def q_span_corrupt(spark: SparkSession, sf_dir: str) -> DataFrame:
    """T5 span-corruption pairs (operators/corpus.py:span_corrupt):
    deterministic masked spans (tokens 7-9 of every 20), sentinel
    replacement in the input, ordered sentinel+span target with the
    closing sentinel.  The oracle rebuilds both strings token-by-token
    with the same indexed-transform logic."""
    from ocr_spark.operators.corpus import span_corrupt

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return span_corrupt(docs)


def q_content_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-type routing (functions/quality.py:with_content_type)
    over constructed mixed-content docs: id % 4 == 1 appends a code
    block (def/return/import + braces), % 4 == 2 a LaTeX fragment,
    % 4 == 3 a CSV table — so every router branch fires.  All signals
    and the precedence cascade are integer closed forms the oracle
    re-derives on the identically constructed text."""
    from ocr_spark.functions.quality import with_content_type

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    m = F.col("doc_id") % 4
    built = F.concat(
        F.col("text"),
        F.when(m == 1, F.lit(
            "\ndef f(x):\n    return x + 1\nimport os\n    y = {1: 2};"))
        .when(m == 2, F.lit("\n$$ \\frac{a}{b} + \\sum_i x_i $$"))
        .when(m == 3, F.lit("\na,b,c,d\n1,2,3,4\n5,6,7,8\n9,10,11,12"))
        .otherwise(F.lit("")))
    return with_content_type(
        docs.select("doc_id", built.alias("text"))).select(
        "doc_id", "n_lines", "indent_lines", "csv_lines", "sym_count",
        "kw_hits", "math_hits", "content_label")


def q_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-supervised label propagation
    (operators/web.py:label_propagation) over the SAME deterministic
    quadratic-map graph as q_pagerank, seeds = docs with id % 10 < 2
    labeled id % 3.  Three unrolled majority rounds, ties to the
    smallest label, clamped seeds; the oracle replays the identical
    rounds with row_number argmax."""
    from ocr_spark.operators.web import label_propagation

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    m = docs.agg((F.max("doc_id") + F.lit(1)).alias("m"))
    cand = docs.crossJoin(F.broadcast(m)).select(
        "doc_id",
        ((F.col("doc_id") * F.col("doc_id") + 1) % F.col("m")).alias("k1"),
        ((F.col("doc_id") * 13 + 5) % F.col("m")).alias("k2"),
    )
    dsts = docs.select(F.col("doc_id").alias("dst"))
    e1 = (cand.join(dsts, cand.k1 == dsts.dst)
          .select(F.col("doc_id").alias("src"), "dst"))
    e2 = (cand.filter(F.col("doc_id") % 3 != 0)
          .join(dsts, cand.k2 == dsts.dst)
          .select(F.col("doc_id").alias("src"), "dst"))
    edges = e1.union(e2).filter(F.col("src") != F.col("dst"))
    seeds = docs.where(F.col("doc_id") % 10 < 2).select(
        F.col("doc_id").alias("node"),
        (F.col("doc_id") % 3).cast("int").alias("label"))
    return label_propagation(edges, seeds, n_iter=3).select(
        F.col("node").alias("doc_id"),
        F.col("label").cast("int").alias("label"), "is_seed")


def q_dist_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PSI drift monitor (operators/snapshot.py:dist_drift) between
    two synthetic 'crawls' (even vs odd doc ids) over the n_chars
    distribution with fixed bucket boundaries.  The oracle recomputes
    smoothed shares and (p-q)*ln(p/q) on the same double grid."""
    from ocr_spark.operators.snapshot import dist_drift

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    a = docs.where(F.col("doc_id") % 2 == 0)
    b = docs.where(F.col("doc_id") % 2 == 1)
    return dist_drift(a, b, "n_chars")


def q_markdown_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markdown -> plain text normalization
    (operators/normalize.py:markdown_strip) over constructed README-
    style docs (header, bold lang, link, fenced block, blockquote
    wrapped around each doc's text).  The oracle applies the IDENTICAL
    pattern strings under RE2 with the 'g' flag — the pattern table is
    imported, not retyped, so engine and oracle cannot drift."""
    from ocr_spark.operators.normalize import markdown_strip

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "text")
    did = F.col("doc_id").cast("string")
    built = F.concat(
        F.lit("# Doc "), did, F.lit("\n\n**"), F.col("lang"),
        F.lit("** [home](http://example.com/"), did,
        F.lit(")\n\n```\nsnippet "), did,
        F.lit("\n```\n\n> note "), did, F.lit("\n\n"), F.col("text"))
    md = docs.select("doc_id", built.alias("md"))
    return md.select(
        "doc_id",
        markdown_strip("md").alias("plain"),
        F.regexp_count("md", F.lit(r"\[([^\]]*)\]\(")).alias("n_links"),
        F.regexp_count("md", F.lit(r"(?m)^```")).alias("n_fences"))


def _markdown_strip_sql() -> str:
    """DuckDB twin of markdown_strip: the SAME pattern table applied in
    the same order ($1 -> \\1 is the only engine difference)."""
    from ocr_spark.operators.normalize import MD_PATTERNS

    expr = "t"
    for pat, rep in MD_PATTERNS:
        duck_rep = rep.replace("$1", "\\1")
        expr = f"regexp_replace({expr}, '{pat}', '{duck_rep}', 'g')"
    return rf"""
      WITH m AS (
        SELECT doc_id,
          '# Doc ' || doc_id || chr(10) || chr(10)
          || '**' || lang || '** [home](http://example.com/'
          || doc_id || ')' || chr(10) || chr(10)
          || '```' || chr(10) || 'snippet ' || doc_id || chr(10)
          || '```' || chr(10) || chr(10)
          || '> note ' || doc_id || chr(10) || chr(10) || text AS t
        FROM documents)
      SELECT doc_id, {expr} AS plain,
        CAST(len(regexp_extract_all(t, '\[([^\]]*)\]\(')) AS INT)
          AS n_links,
        CAST(len(regexp_extract_all(t, '(?m)^```')) AS INT) AS n_fences
      FROM m
    """


def q_srt_cues(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SRT subtitle parsing (operators/captions.py): per doc a
    closed-form cue file (1 + d%6 cues; cue i starts at
    i*2000 + d%997 ms, runs 1500 + (i%3)*250 ms, carries 1 + (i+d)%2
    text lines; odd cues use the WebVTT '.' millisecond separator so
    both timestamp forms are exercised); every 17th doc's first
    timing line is corrupted into the exact 'bad timing line' error
    row.  The oracle re-derives every cue extent arithmetically — the
    timestamp parse is what the equality gates."""
    from ocr_spark.operators.captions import srt_cues

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def build(batches):
        import pandas as pd

        def ts(ms, dot):
            h, rem = divmod(ms, 3600000)
            m, rem = divmod(rem, 60000)
            s, milli = divmod(rem, 1000)
            sep = "." if dot else ","
            return f"{h:02d}:{m:02d}:{s:02d}{sep}{milli:03d}"

        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                did = int(d)
                blocks = []
                for i in range(1 + did % 6):
                    start = i * 2000 + did % 997
                    end = start + 1500 + (i % 3) * 250
                    arrow = "-->" if did % 17 != 0 or i != 0 else "->"
                    nl = 1 + (i + did) % 2
                    lines = "\n".join(
                        f"line {did} {i} {j}" for j in range(nl))
                    blocks.append(
                        f"{i + 1}\n{ts(start, i % 2 == 1)} {arrow} "
                        f"{ts(end, i % 2 == 1)}\n{lines}")
                payloads.append("\n\n".join(blocks))
            yield pd.DataFrame({"media_id": pdf["doc_id"].astype(str),
                                "payload": payloads})

    media = docs.mapInPandas(build, schema="media_id string, payload string")
    return srt_cues(media).select(
        "media_id", "cue_idx", "start_ms", "end_ms", "dur_ms",
        "text", "n_lines", "status", "error_msg")


def q_code_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Composition: content-type routing -> code-only corpus ->
    fill-in-the-middle transform, chained in ONE plan (the
    code-pretraining branch of a mixed-corpus pipeline).  Both stages
    are individually certified; this gates their CONTRACT — the oracle
    chains the same route condition and FIM arithmetic as CTEs."""
    from ocr_spark.functions.quality import with_content_type
    from ocr_spark.operators.corpus import fim_transform

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    m = F.col("doc_id") % 4
    built = F.concat(
        F.col("text"),
        F.when(m == 1, F.lit(
            "\ndef f(x):\n    return x + 1\nimport os\n    y = {1: 2};"))
        .when(m == 2, F.lit("\n$$ \\frac{a}{b} + \\sum_i x_i $$"))
        .when(m == 3, F.lit("\na,b,c,d\n1,2,3,4\n5,6,7,8\n9,10,11,12"))
        .otherwise(F.lit("")))
    routed = with_content_type(docs.select("doc_id", built.alias("text")))
    code = routed.where(F.col("content_label") == "code") \
        .select("doc_id", "text")
    return fim_transform(code)


def q_gif_structure(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL animated-GIF container parse over synthesized
    block-conformant GIF89a payloads: frame count, total animation
    duration (summed GCE delays), NETSCAPE loop count (present on
    d % 3 != 0), global-color-table flag — every field closed-form
    from doc_id; every 17th payload is tail-truncated into the exact
    'truncated sub-block data' parse_error row.  The structure level
    is what a crawl pipeline needs to tell a static logo from a
    40-frame animation (multimodal.parse_gif_structure)."""
    from ocr_spark.operators.multimodal import gif_structure

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def build(batches):
        import pandas as pd

        from ocr_spark.data.synth import build_gif

        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                did = int(d)
                payloads.append(build_gif(
                    16 + did % 32, 16 + (did * 3) % 32,
                    n_frames=1 + did % 7,
                    delay_fn=lambda f, did=did: 4 + (did + f) % 10,
                    loop=did % 4 if did % 3 != 0 else None,
                    gct=did % 2 == 0,
                    truncate=4 if did % 17 == 0 else 0))
            yield pd.DataFrame({"media_id": pdf["doc_id"].astype(str),
                                "payload": payloads})

    media = docs.mapInPandas(build, schema="media_id string, payload binary")
    return gif_structure(media).select(
        "media_id", "width", "height", "n_frames", "total_ms",
        "loop_count", "has_gct", "status", "error_msg")


def q_image_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modality composition: perceptual hash -> near-dup pairs ->
    connected components -> canonical-image election.  Reuses the
    certified pieces end-to-end (image_ahash, ahash_near_dup's
    pigeonhole blocking, the large-star/small-star CC used for text
    dedup) — the image analogue of dedup_clusters, with cluster_size
    via groupBy+join (no hot-key window).  The oracle chains
    brute-force Hamming pairs with a recursive-CTE transitive closure
    over VARCHAR ids."""
    from ocr_spark.operators.dedup import connected_components
    from ocr_spark.operators.multimodal import ahash_near_dup, image_ahash

    hashes = image_ahash(_ahash_media(spark, sf_dir))
    pairs = ahash_near_dup(hashes, max_hamming=3)
    assign = connected_components(
        pairs, src="media_a", dst="media_b",
        nodes=hashes.select("media_id"), key_col="media_id")
    sizes = assign.groupBy("cluster_id").count()
    return assign.join(sizes, "cluster_id").select(
        "media_id", "cluster_id",
        (F.col("media_id") == F.col("cluster_id")).alias("is_canonical"),
        F.col("count").cast("long").alias("cluster_size"))


def _audio_segments_sql() -> str:
    """DuckDB twin of q_audio_segments — factored out so the
    caption-alignment oracle can embed the same segments."""
    return '''
          WITH params AS (
            SELECT doc_id, 2000 + (doc_id % 5) * 400 AS n FROM documents),
          smp AS (
            SELECT doc_id, unnest(range(0, n)) AS i FROM params),
          sv AS (
            SELECT doc_id, i // 200 AS f,
              CASE WHEN ((i // 200) + doc_id) % 3 = 0
                     OR ((i // 200) * (i // 200) + doc_id) % 7 = 0
                   THEN (i % 9) - 4
                   ELSE ((7 + doc_id % 5) * i) % 4096 - 2048
              END AS s
            FROM smp),
          fr AS (
            SELECT doc_id, f, sum(s * s) AS e, count(*) AS c
            FROM sv GROUP BY doc_id, f),
          loud AS (SELECT doc_id, f, e FROM fr WHERE e > 10000 * c),
          isl AS (
            SELECT doc_id, f, e,
                   f - row_number() OVER (PARTITION BY doc_id ORDER BY f)
                     AS grp
            FROM loud),
          seg AS (
            SELECT doc_id, grp, min(f) AS start_frame,
                   count(*) AS n_frames, sum(e) AS energy
            FROM isl GROUP BY doc_id, grp),
          num AS (
            SELECT doc_id, start_frame, n_frames, energy,
                   row_number() OVER (PARTITION BY doc_id
                                      ORDER BY start_frame) - 1 AS seg_idx
            FROM seg)
          SELECT CAST(doc_id AS VARCHAR) AS media_id,
                 CAST(seg_idx AS INT) AS seg_idx,
                 CAST(start_frame AS INT) AS start_frame,
                 CAST(n_frames AS INT) AS n_frames,
                 CAST(start_frame * 25 AS BIGINT) AS start_ms,
                 CAST((start_frame + n_frames) * 25 AS BIGINT) AS end_ms,
                 CAST(energy AS BIGINT) AS energy, 'ok' AS status
          FROM num
        '''


def q_audio_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Silence-aware segmentation over REAL decoded WAV PCM: per doc a
    RIFF-conformant mono 8kHz WAV whose frame f (200 samples) is
    planted quiet when (f+d) % 3 == 0 or (f*f+d) % 7 == 0 (tiny
    samples (i%9)-4) and loud otherwise (the sawtooth
    ((7+d%5)*i % 4096) - 2048); audio_segments decodes, computes exact
    integer frame energies, applies the strict mean-square threshold,
    and emits one row per maximal loud run.  The oracle regenerates
    every sample and re-derives energies, the loudness test, and the
    gaps-and-islands grouping — the whole operator is value-gated."""
    from ocr_spark.operators.multimodal import audio_segments

    media = _audio_media(spark, sf_dir)
    return audio_segments(media, frame_samples=200, threshold=10000).select(
        "media_id", "seg_idx", "start_frame", "n_frames",
        "start_ms", "end_ms", "energy", "status")


def _audio_media(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shared WAV builder for q_audio_segments and q_caption_align —
    see q_audio_segments' docstring for the closed forms."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def build(batches):
        import pandas as pd

        from ocr_spark.data.synth import build_wav

        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                did = int(d)
                n = 2000 + (did % 5) * 400

                def s(i, did=did):
                    f = i // 200
                    if (f + did) % 3 == 0 or (f * f + did) % 7 == 0:
                        return (i % 9) - 4
                    return (7 + did % 5) * i % 4096 - 2048

                payloads.append(build_wav(n, rate=8000, sample_fn=s))
            yield pd.DataFrame({"media_id": pdf["doc_id"].astype(str),
                                "payload": payloads})

    return docs.mapInPandas(build, schema="media_id string, payload binary")


def q_caption_align(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-modal composition: subtitle cues aligned to detected
    speech segments by the binned interval-OVERLAP join
    (operators/temporal.py:interval_join — canonical-bin emission, no
    dedup shuffle).  Segments come from the REAL WAV decode
    (q_audio_segments' builder), cues from a REAL SRT parse with
    ms-scale extents (cue i of doc d: [i*120 + d%50, +140)); the
    oracle embeds the shared segment SQL and re-derives cue extents
    + the overlap arithmetic."""
    from ocr_spark.operators.captions import srt_cues
    from ocr_spark.operators.multimodal import audio_segments
    from ocr_spark.operators.temporal import interval_join

    segs = (audio_segments(_audio_media(spark, sf_dir),
                           frame_samples=200, threshold=10000)
            .where(F.col("status") == "ok")
            .select("media_id", "seg_idx",
                    F.col("start_ms").alias("s_lo"),
                    F.col("end_ms").alias("s_hi")))

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def build(batches):
        import pandas as pd

        def ts(ms):
            h, rem = divmod(ms, 3600000)
            m, rem = divmod(rem, 60000)
            s, milli = divmod(rem, 1000)
            return f"{h:02d}:{m:02d}:{s:02d},{milli:03d}"

        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                did = int(d)
                blocks = []
                for i in range(3 + did % 3):
                    lo = i * 120 + did % 50
                    blocks.append(
                        f"{i + 1}\n{ts(lo)} --> {ts(lo + 140)}\n"
                        f"cue {did} {i}")
                payloads.append("\n\n".join(blocks))
            yield pd.DataFrame({"media_id": pdf["doc_id"].astype(str),
                                "payload": payloads})

    cue_media = docs.mapInPandas(
        build, schema="media_id string, payload string")
    cues = srt_cues(cue_media).select(
        "media_id", "cue_idx",
        F.col("start_ms").alias("c_lo"), F.col("end_ms").alias("c_hi"))
    pairs = interval_join(segs, cues, "s_lo", "s_hi", "c_lo", "c_hi",
                          bin_width=100, keys=["media_id"])
    return pairs.select(
        "media_id", "seg_idx", "cue_idx",
        (F.least("s_hi", "c_hi") - F.greatest("s_lo", "c_lo"))
        .cast("long").alias("overlap_ms"))


def q_image_dhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Difference-hash (gradient) variant of image_ahash over REAL
    18x16 grayscale PNGs whose pixels are constant per 2x2 block on
    the 9x8 dHash grid (block b = gy*9+gx has the same scattered
    quadratic value as the aHash builder, mod 72 for the planted
    flip).  Bits compare horizontally adjacent block sums — local
    gradients, robust to global brightness shifts where aHash is not.
    The oracle re-derives all 64 comparisons from the closed-form
    block values."""
    from ocr_spark.operators.multimodal import image_dhash

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def build(batches):
        import pandas as pd

        from ocr_spark.data.synth import build_png

        for pdf in batches:
            payloads = []
            for d in pdf["doc_id"]:
                did = int(d)
                d0 = did - did % 2
                flip = d0 % 72 if did % 2 == 1 else -1

                def px(i, c, d0=d0, flip=flip):
                    b = ((i // 18) // 2) * 9 + (i % 18) // 2
                    t = (d0 + 1) * (b + 3)
                    v = (t * t + 5 * b + d0) % 256
                    return 255 - v if b == flip else v

                payloads.append(
                    build_png(18, 16, color_type=0, filter_type=did % 5,
                              pixel_fn=px))
            yield pd.DataFrame({"media_id": pdf["doc_id"].astype(str),
                                "payload": payloads})

    media = docs.mapInPandas(build, schema="media_id string, payload binary")
    return image_dhash(media).select("media_id", "width", "height",
                                     "ahash_bits", "ahash_hex", "status")


def q_audio_decode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio sample decode, codec-free: each doc becomes a
    RIFF-conformant 16-bit PCM WAV whose samples are the closed-form
    sawtooth ((base + step*i) % 4096) - 2048; the stdlib decoder
    (multimodal.decode_wav_samples) walks chunks, validates fmt, and
    emits exact integer-accumulator mean/RMS/peak.  Every 17th doc's
    data chunk is truncated by one byte -> a processing_error ROW
    whose message the oracle re-derives.  Closes the audio modality
    the way png_decode closes images."""
    from ocr_spark.operators.multimodal import (decode_media,
                                                decode_wav_samples)

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def build(batches):
        import pandas as pd

        from ocr_spark.data.synth import build_wav

        for pdf in batches:
            payloads = [
                build_wav(800 + int(d) % 64 * 16,
                          rate=8000 if int(d) % 2 == 0 else 16000,
                          base=int(d) % 4096, step=7 + int(d) % 5,
                          truncate=1 if int(d) % 17 == 0 else 0)
                for d in pdf["doc_id"]
            ]
            yield pd.DataFrame({"media_id": pdf["doc_id"].astype(str),
                                "payload": payloads})

    media = docs.mapInPandas(build, schema="media_id string, payload binary")
    out = decode_media(media, decode_fn=decode_wav_samples)
    return out.select(
        "media_id", "kind", "duration_ms", "n_frames",
        F.col("feature")[0].alias("mean_amp"),
        F.col("feature")[1].alias("rms"),
        F.col("feature")[2].alias("peak"),
        "status", "error_msg",
    )


def q_frame_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-sampling plumbing: one row per sampled frame index over a
    binary media column.  The fake decode kernel is sha256-derived, so
    the DuckDB oracle reproduces frame counts AND digests exactly."""
    from ocr_spark.operators.multimodal import sample_frames

    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").cast("string").alias("media_id"),
        F.encode("text", "utf-8").alias("payload"),
    )
    return sample_frames(media, every_n=5, fake=True).select(
        "media_id", "frame_idx", "frame_digest", "status"
    )


# --------------------------------------------------------------------------
# relational surface (scan/filter/join/agg/window/set-op/json)
# --------------------------------------------------------------------------

def q_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.filter(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum("l_quantity").alias("sum_qty"),
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            .alias("revenue"),
            F.count("*").alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_top_customers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broadcast join + agg + deterministic top-k."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.join(F.broadcast(cust),
                    orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey", "c_name")
        .agg(F.round(F.sum("o_totalprice"), 2).alias("total_spent"),
             F.count("*").alias("n_orders"))
        .orderBy(F.col("total_spent").desc(), F.col("c_custkey").asc())
        .limit(10)
    )


def q_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-way join: lineitem |x| orders |x| customer |x| nation |x|
    region, dims broadcast (the star-join shape of per-lang profile +
    per-host dim lookups at 100 TB: fact table never re-shuffles for
    broadcastable dims)."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    return (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .join(F.broadcast(nation), cust.c_nationkey == nation.n_nationkey)
        .join(F.broadcast(region), nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2)
            .alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy("r_name")
    )


def q_customers_no_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left anti join (the checkpoint-manifest resume pattern)."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders").select("o_custkey")
    return (
        cust.join(orders, cust.c_custkey == orders.o_custkey, "left_anti")
        .select("c_custkey", "c_name")
    )


def q_setop_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set op: users who clicked but never purchased."""
    ev = _t(spark, sf_dir, "events")
    clickers = ev.filter(F.col("event_type") == "click").select("user_id").distinct()
    buyers = ev.filter(F.col("event_type") == "purchase").select("user_id").distinct()
    return clickers.exceptAll(buyers).distinct()


def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dot-path JSON field extraction (O14 analogue,
    utils/response_parser.py:91-117) + agg over the extracted value."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    return (
        ev.withColumn("k", k)
        .groupBy("event_type")
        .agg(F.sum("k").alias("sum_k"), F.count("*").alias("n_events"))
        .orderBy("event_type")
    )


def _bounded_stream(spark: SparkSession, prefix: str,
                    run: Callable[[str, str, str], DataFrame]) -> DataFrame:
    """Run ``run(src, out, ckpt)`` under a fresh temp dir, collect the
    sink it returns, and remove the dir, so a stream row leaves no
    source, sink or checkpoint tree behind."""
    import os
    import shutil
    import tempfile

    base = tempfile.mkdtemp(prefix=prefix)
    try:
        sink = run(*(os.path.join(base, d) for d in ("src", "out", "ckpt")))
        rows, schema = sink.collect(), sink.schema
    finally:
        shutil.rmtree(base, ignore_errors=True)
    return spark.createDataFrame(rows, schema)


def q_stream_extract_parity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming surface through the DRIVER gate: a bounded
    trigger(availableNow) run of streaming/stream.py's file-source ->
    extract_stream -> checkpointed parquet-sink pipeline over the
    wrapped-pages corpus, read back and compared against the closed
    form.  The oracle is the BATCH invariant (extracted text ==
    documents.text byte-identically) — certifying the module's core
    claim that stream output is byte-identical to batch output because
    both run the same Arrow kernel.  Unbounded-only behaviors
    (cross-batch watermarks, idle-timeout session flush) stay
    pytest-certified in tests/test_streaming.py; this row certifies
    the bounded-stream path end-to-end with real source/checkpoint/
    sink machinery."""
    from ocr_spark.streaming.stream import (read_pages_stream,
                                            run_stream_to_parquet)

    def run(src: str, out: str, ckpt: str) -> DataFrame:
        pages = _wrapped_pages(spark, sf_dir).select(
            F.concat(F.lit("https://example.com/doc/"),
                     F.col("doc_id").cast("string")).alias("url"),
            F.timestamp_seconds(F.lit(1700000000) + F.col("doc_id"))
            .alias("warc_ts"),
            "html",
            F.lit(None).cast("string").alias("text"),
            "lang",
        )
        pages.write.mode("overwrite").parquet(src)
        q = run_stream_to_parquet(read_pages_stream(spark, src), out, ckpt,
                                  available_now=True)
        q.awaitTermination()
        return spark.read.parquet(out).select(
            F.regexp_extract("url", r"/doc/(\d+)$", 1)
            .cast("long").alias("doc_id"),
            "text")

    return (_bounded_stream(spark, "ocr_spark_stream_extract_", run)
            .orderBy("doc_id"))


def q_stream_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom stateful streaming operator through the DRIVER gate:
    sessionize_stream (applyInPandasWithState, append mode) over the
    events table as a bounded availableNow file stream.  Append mode
    emits only CLOSED sessions — the trailing open session per user
    stays in state at stream end — so the oracle is the batch
    gaps-and-islands sessionization MINUS each user's last session:
    the exact closed-form of the streaming semantics, not a looser
    rows-only check.  (The idle-timeout flush that would emit those
    trailing sessions on an unbounded stream is processing-time
    behavior, certified in tests/test_streaming.py.)"""
    from ocr_spark.streaming.stream import sessionize_stream

    def run(src: str, out: str, ckpt: str) -> DataFrame:
        ev = _t(spark, sf_dir, "events").select("user_id", "event_id", "ts")
        ev.write.mode("overwrite").parquet(src)
        stream = (spark.readStream
                  .schema(spark.read.parquet(src).schema)
                  .parquet(src))
        sess = sessionize_stream(stream, gap_s=1800)
        q = (sess.writeStream.format("parquet")
             .option("path", out)
             .option("checkpointLocation", ckpt)
             .outputMode("append")
             .trigger(availableNow=True)
             .start())
        q.awaitTermination()
        return spark.read.parquet(out)

    return (_bounded_stream(spark, "ocr_spark_stream_sess_", run)
            .orderBy("user_id", "session_start"))


def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-based sessionization (30-min inactivity closes a session):
    lag -> new-session flag -> running sum as session id -> per-user
    rollup.  The batch form of the streaming session-window pattern
    (applyInPandasWithState's job, expressed in pure window functions)."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    # events.ts is TIMESTAMP_NTZ; session tz is UTC, so ltz epoch
    # seconds equal DuckDB's epoch(ts)
    tsl = F.col("ts").cast("timestamp").cast("long")
    prev = F.lag(tsl).over(w)
    new_sess = F.when(prev.isNull() | ((tsl - prev) > 1800), 1).otherwise(0)
    sess = F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0))
    per_sess = (
        ev.withColumn("sess", sess)
        .groupBy("user_id", "sess")
        .agg(F.count("*").alias("n_events"))
    )
    return per_sess.groupBy("user_id").agg(
        F.count("*").alias("n_sessions"),
        F.sum("n_events").alias("n_events"),
        F.max("n_events").alias("max_session_events"),
    )


def q_events_sessionless_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Running aggregate window per user ordered by time."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return ev.select(
        "event_id", "user_id",
        F.round(F.sum("value").over(w), 2).alias("running_value"),
    )


def q_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retention cohorts: users grouped by first-seen day, distinct
    actives per (cohort_day, day_offset) — the matrix behind every
    retention curve.  Distinct (user, day) first (collapses event
    volume before any join), cohort via one per-user min, offset by
    datediff.  Two skinny aggregates + a broadcast-scale join."""
    ev = _t(spark, sf_dir, "events")
    ud = ev.select("user_id", F.to_date("ts").alias("day")).distinct()
    first = ud.groupBy("user_id").agg(F.min("day").alias("cohort_day"))
    return (
        ud.join(first, "user_id")
        .select("user_id", "cohort_day",
                F.datediff("day", "cohort_day").alias("day_offset"))
        .groupBy("cohort_day", "day_offset")
        .agg(F.countDistinct("user_id").alias("n_users"))
        .orderBy("cohort_day", "day_offset")
    )


def q_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-step conversion funnel: per user, the first 'view' and the
    first 'click' AT OR AFTER it — the ordered-sequence analytics ask
    a plain type-filtered join gets wrong (clicks BEFORE any view must
    not count).  Two skinny per-user aggregates + one broadcast-scale
    join back; integer epoch arithmetic for the lag."""
    ev = _t(spark, sf_dir, "events")
    tsl = (
        F.datediff(F.col("ts").cast("date"),
                   F.to_date(F.lit("1970-01-01"))).cast("long") * 86400
        + F.hour("ts") * 3600 + F.minute("ts") * 60 + F.second("ts")
    )
    t = ev.select("user_id", "event_type", tsl.alias("tsl"))
    v = (t.filter(F.col("event_type") == "view")
         .groupBy("user_id").agg(F.min("tsl").alias("first_view")))
    c = (t.filter(F.col("event_type") == "click")
         .join(v, "user_id")
         .filter(F.col("tsl") >= F.col("first_view"))
         .groupBy("user_id").agg(F.min("tsl").alias("first_click")))
    return (
        v.join(c, "user_id", "left")
        .select(
            "user_id", "first_view", "first_click",
            F.col("first_click").isNotNull().alias("converted"),
            (F.col("first_click") - F.col("first_view")).alias("lag_s"),
        )
        .orderBy("user_id")
    )


def q_interval_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-union coverage: each event opens a 300-second activity
    window; overllapping windows merge into islands and each user's
    TOTAL covered seconds is the union length — the classic
    interval-merge that naive sum-of-durations double-counts.  The
    island construction is the standard running-max sweep (new island
    iff start > max end seen so far) over a PER-USER window, all
    integer arithmetic on the tz-free epoch key.  Bounded by events
    per user; one hash aggregate per level after the sweep."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    tsl = (
        F.datediff(F.col("ts").cast("date"),
                   F.to_date(F.lit("1970-01-01"))).cast("long") * 86400
        + F.hour("ts") * 3600 + F.minute("ts") * 60 + F.second("ts")
    )
    t = ev.select("user_id", tsl.alias("s")) \
        .withColumn("e", F.col("s") + 300)
    w = Window.partitionBy("user_id").orderBy("s", "e")
    rm = F.max("e").over(w.rowsBetween(Window.unboundedPreceding, -1))
    ni = F.when(rm.isNull() | (F.col("s") > rm), 1).otherwise(0)
    ii = t.withColumn(
        "island",
        F.sum(ni).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )
    isl = ii.groupBy("user_id", "island").agg(
        F.min("s").alias("a"), F.max("e").alias("b"))
    return (
        isl.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_islands"),
             F.sum(F.col("b") - F.col("a")).alias("covered_s"))
        .orderBy("user_id")
    )


def q_http_dates(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RFC 1123 HTTP date parsing (Last-Modified / Expires headers —
    what freshness scheduling keys on): deterministic header strings
    rebuilt from doc_id parse through to_timestamp with the Java
    pattern, and staleness is the day difference against a literal
    reference date.  Every 31st doc carries a malformed header that
    must come back NULL (try-semantics, never an exception).  Per-row
    expressions, zero shuffle."""
    docs = _t(spark, sf_dir, "documents").select("doc_id")
    # weekday names must be CONSISTENT with the date for strict Java
    # parsing: derive everything from a day offset off a known Monday
    day = (F.col("doc_id") % 28).cast("int")           # 2024-01-01 = Monday
    dow = F.element_at(
        F.array(*[F.lit(d) for d in
                  ["Mon", "Tue", "Wed", "Thu", "Fri", "Sat", "Sun"]]),
        (day % 7 + 1).cast("int"))
    hdr = F.when(
        F.col("doc_id") % 31 == 0, F.lit("yesterday-ish")
    ).otherwise(F.concat(
        dow, F.lit(", "),
        F.lpad((day + 1).cast("string"), 2, "0"),
        F.lit(" Jan 2024 "),
        F.lpad((F.col("doc_id") % 24).cast("string"), 2, "0"),
        F.lit(":00:00 GMT"),
    ))
    # Spark's post-3.0 parser refuses day-of-week TEXT in parse
    # patterns (EEE is format-only); HTTP parsers ignore the weekday
    # anyway, so strip it and parse the rest
    parsed = F.try_to_timestamp(
        F.regexp_replace(hdr, r"^[A-Za-z]{3}, ", ""),
        F.lit("dd MMM yyyy HH:mm:ss 'GMT'"))
    return docs.select(
        "doc_id", hdr.alias("last_modified"),
        parsed.alias("parsed_ts"),
        F.datediff(F.to_date(F.lit("2024-03-01")), F.to_date(parsed))
        .alias("age_days"),
    ).orderBy("doc_id")


def q_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Char-level Shannon entropy — the quality signal that catches
    what token ratios miss: base64/hex blobs (high uniformity) and
    keyboard-mash/repeated-char filler (low diversity).  Every 13th
    doc is salted with a 600-char 'z' run (drags H down) so the
    low-entropy flag is certified on a real population.  The entropy
    sum is an ORDERED fold over the char-sorted count list (both
    engines fold left-to-right over identical lists — an unordered
    SUM over float terms would reintroduce the summation-order
    hazard), rounded at 6."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    t = F.concat(
        F.col("text"),
        F.when(F.col("doc_id") % 13 == 0,
               F.concat(F.lit(" "), F.repeat(F.lit("z"), 600)))
        .otherwise(F.lit("")),
    )
    chars = F.filter(F.split(F.regexp_replace(t, r"\s", ""), ""),
                     lambda c: F.length(c) > 0)
    ex = docs.select("doc_id", F.explode(chars).alias("c"))
    cnt = ex.groupBy("doc_id", "c").agg(F.count(F.lit(1)).alias("k"))
    per = cnt.groupBy("doc_id").agg(
        F.array_sort(F.collect_list(F.struct("c", "k"))).alias("arr"),
        F.sum("k").alias("n"),
    )
    h = F.aggregate(
        "arr", F.lit(0.0),
        lambda acc, x: acc + (x["k"] / F.col("n"))
        * F.log2(x["k"] / F.col("n")),
    )
    return per.select(
        "doc_id", F.col("n").alias("n_chars"),
        F.round(-h, 6).alias("entropy"),
        (F.round(-h, 6) < 3.0).alias("low_entropy"),
    ).orderBy("doc_id")


SOFT404_PATTERNS = [
    ("not_found", r"(?i)\b(404|page not found|no longer available)\b"),
    ("denied", r"(?i)\b(access denied|forbidden|login required)\b"),
]


def q_soft404(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Soft-404 detection: pages that return HTTP 200 but carry an
    error body are the crawl-cleaning staple status codes can't catch.
    Every 23rd doc is salted with a not-found banner and every 29th
    with an access-denied banner (23*29 > id range, so the classes
    don't overlap and each is separately certified); classification is
    the ordered SOFT404_PATTERNS word-boundary regexes — the pattern
    LITERALS are shared with the oracle (the pii_scrub discipline), so
    drift is impossible.  Per-row JVM regexes, zero shuffle."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    salted = docs.select(
        "doc_id",
        F.concat(
            F.when(F.col("doc_id") % 23 == 0,
                   F.lit("Error 404 page not found. ")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 29 == 0,
                   F.lit("Access denied: login required. "))
            .otherwise(F.lit("")),
            F.col("text"),
        ).alias("t"),
    )
    reason = F.lit(None).cast("string")
    for name, pat in reversed(SOFT404_PATTERNS):
        reason = F.when(F.col("t").rlike(pat), F.lit(name)).otherwise(reason)
    return salted.select(
        "doc_id", reason.alias("reason"),
        reason.isNotNull().alias("soft404"),
    ).orderBy("doc_id")


def q_length_outliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-source length-outlier detection (median/MAD, the
    distribution-free alternative to mean/stddev that one spam blob
    can't drag): per source, the exact interpolated token-count median,
    the median absolute deviation, and how many docs sit beyond
    3 x 1.4826 x MAD (the Gaussian-consistent robust z).  Every 19th
    doc's length is inflated 20x so the oracle certifies a NON-ZERO
    outlier population (an all-zero column proves nothing about the
    threshold).  Two skinny grouped percentile aggregates with
    broadcast join-backs — the corpus never re-shuffles wide."""
    from ocr_spark.functions.text import token_count

    per = _t(spark, sf_dir, "documents").select(
        "source",
        (token_count("text")
         * F.when(F.col("doc_id") % 19 == 0, 20).otherwise(1))
        .cast("long").alias("n"))
    med = per.groupBy("source").agg(
        F.expr("percentile(n, 0.5)").alias("med"))
    j = per.join(F.broadcast(med), "source") \
        .withColumn("ad", F.abs(F.col("n") - F.col("med")))
    mad = j.groupBy("source").agg(
        F.expr("percentile(ad, 0.5)").alias("mad"))
    out = (
        j.join(F.broadcast(mad), "source")
        .groupBy("source")
        .agg(
            F.round(F.first("med"), 6).alias("med_tokens"),
            F.round(F.first("mad"), 6).alias("mad_tokens"),
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.when(F.col("ad") > 3 * 1.4826 * F.col("mad"), 1)
                  .otherwise(0)).cast("long").alias("n_outliers"),
        )
    )
    return out.orderBy("source")


def q_daily_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily activity rollup — the date-expression family (to_date /
    hour field extraction on NTZ timestamps, both timezone-free) the
    contract lacked: events and distinct users per (day, type) with
    the first/last active hour.  One hash-agg shuffle."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.to_date("ts").alias("day"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.countDistinct("user_id").alias("n_users"),
            F.min(F.hour("ts")).alias("first_hour"),
            F.max(F.hour("ts")).alias("last_hour"),
        )
        .orderBy("day", "event_type")
    )


def q_crawl_delay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-host Crawl-delay extraction (the de-facto politeness
    directive RFC 9309 leaves out): 50 synthetic hosts publish robots
    variants — a * group with an integer delay, an agent-specific
    group that must WIN over the * group for agent 'mybot', a
    non-numeric value that must fall back to the default, and no
    directive at all (operators/web.py:parse_crawl_delay)."""
    from ocr_spark.operators.web import crawl_delay_hosts

    hids = (_t(spark, sf_dir, "documents")
            .select((F.col("doc_id") % 50).alias("hid")).distinct())

    def build(batches):
        import pandas as pd

        for pdf in batches:
            hosts, txts = [], []
            for hid in pdf["hid"]:
                h = int(hid)
                hosts.append(f"site{h}.example.com")
                if h % 4 == 0:
                    txts.append(f"User-agent: *\nCrawl-delay: {h % 7 + 1}\n")
                elif h % 4 == 1:
                    txts.append(
                        "User-agent: mybot\nDisallow: /tmp\n"
                        "Crawl-delay: 0.5\n\n"
                        "User-agent: *\nCrawl-delay: 5\n")
                elif h % 4 == 2:
                    txts.append("User-agent: *\nCrawl-delay: soon\n")
                else:
                    txts.append("User-agent: *\nDisallow: /private\n")
            yield pd.DataFrame({"host": hosts, "robots_txt": txts})

    robots = hids.mapInPandas(build, "host string, robots_txt string")
    return crawl_delay_hosts(robots, agent="mybot").orderBy("host")


def q_trailing_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame window (the frame kind running_window doesn't
    cover): per user, events and integer activity in the TRAILING
    10-minute interval — a time-based frame whose row membership is a
    set, so equal-timestamp peers are all included regardless of
    physical order.  Aggregates are integer (count + sum of
    event_id % 97) by design: a float sum over a set-valued frame
    would reintroduce the summation-order hazard.  Ordering key is
    epoch SECONDS derived TZ-FREE from the NTZ timestamp
    (datediff*86400 + field extraction — TIMESTAMP_NTZ has no long
    cast, and unix_timestamp() would drag the session timezone into
    the result); the oracle floors epoch() to the same grid."""
    from pyspark.sql import Window

    ev = _t(spark, sf_dir, "events")
    tsl = (
        F.datediff(F.col("ts").cast("date"),
                   F.to_date(F.lit("1970-01-01"))).cast("long") * 86400
        + F.hour("ts") * 3600 + F.minute("ts") * 60 + F.second("ts")
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy(tsl)
        .rangeBetween(-600, 0)
    )
    return ev.select(
        "event_id", "user_id",
        F.count(F.lit(1)).over(w).alias("n_10m"),
        F.sum(F.col("event_id") % 97).over(w).alias("act_10m"),
    ).orderBy("event_id")


# --------------------------------------------------------------------------
# corpus accounting sketches, site-level boilerplate, relational breadth
# --------------------------------------------------------------------------

# content blocklist: synthetic tokens (salted into the corpus below) so
# the filter exercises real word-boundary matching without shipping a
# real offensive-word list in the repo
BANNED_WORDS = ["zzzspam", "zzzscam", "zzzcasino"]


def q_hll_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HyperLogLog distinct-text cardinality per source (m=64
    registers, md5-derived 60-bit hash, exact-integer harmonic sum —
    functions/sketch.py) next to the exact COUNT(DISTINCT) so the
    oracle certifies both the sketch arithmetic and its error.  At
    100 TB the sketch's exchange is O(sources * 64) skinny rows; the
    exact column is the small-scale audit only."""
    from ocr_spark.functions.sketch import hll_cardinality

    docs = _t(spark, sf_dir, "documents")
    est = hll_cardinality(docs, "text", ["source"])
    exact = docs.groupBy("source").agg(
        F.countDistinct("text").alias("n_exact"))
    return (est.join(exact, "source")
            .select("source", "hll_estimate", "n_exact")
            .orderBy("source"))


def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles (p50/p90/p99) of document length
    per lang — Spark's `percentile` vs DuckDB's quantile_cont, the
    same published linear-interpolation definition computed by two
    engines.  Length-distribution percentiles drive chunk sizing and
    outlier thresholds in every curation pipeline."""
    docs = _t(spark, sf_dir, "documents")
    return (docs.groupBy("lang").agg(
                F.count("*").alias("n_docs"),
                F.round(F.percentile("n_chars", F.lit(0.5)), 6)
                .alias("p50"),
                F.round(F.percentile("n_chars", F.lit(0.9)), 6)
                .alias("p90"),
                F.round(F.percentile("n_chars", F.lit(0.99)), 6)
                .alias("p99"))
            .orderBy("lang"))


def q_quality_calibration(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language quality floor: the p25 length threshold computed
    PER LANG (exact interpolated percentile) and broadcast-joined back
    as a keep flag — the calibration move that stops a global quality
    cutoff from disproportionately dropping low-resource languages
    (every multilingual curation pipeline needs per-group thresholds,
    not one global one).  Two-pass shape: tiny per-group aggregate ->
    broadcast -> zero-shuffle row filter."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang",
                                                 "n_chars")
    thr = docs.groupBy("lang").agg(
        F.round(F.percentile("n_chars", F.lit(0.25)), 6).alias("lang_p25"))
    return (docs.join(F.broadcast(thr), "lang")
            .select("doc_id", "lang", "n_chars", "lang_p25",
                    (F.col("n_chars") >= F.col("lang_p25")).alias("keep")))


def q_rollup_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-level aggregation with ROLLUP(lang, source): per-cell,
    per-lang, and grand-total document counts and char sums in ONE
    pass (grouping-sets breadth the contract did not cover yet).
    gid = grouping_id disambiguates aggregation level from data
    nulls.  One shuffle total — partial aggregation collapses each
    level map-side."""
    docs = _t(spark, sf_dir, "documents")
    return (docs.rollup("lang", "source").agg(
                F.grouping_id().alias("gid"),
                F.count("*").alias("n_docs"),
                F.sum("n_chars").alias("sum_chars"))
            .orderBy("gid",
                     F.col("lang").asc_nulls_first(),
                     F.col("source").asc_nulls_first()))


PIVOT_LANGS = ["de", "en", "es", "fr", "zh"]


def q_pivot_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relational PIVOT: the source x lang token matrix (one row per
    source, one tok_<lang> column per language) — the corpus-card
    cross-tab every mix report needs.  The lang values are an EXPLICIT
    literal list: without it Spark runs a whole extra distinct job just
    to learn the columns, and the output schema becomes data-dependent
    — both wrong at 100 TB.  The plan is the canonical two-stage pivot
    (partial (source, lang) agg -> pivotfirst by source): two
    exchanges, but both carry at most |sources| x |langs| pre-aggregated
    rows after map-side partials (plan-asserted).  Empty cells are NULL
    in both engines."""
    from ocr_spark.functions.text import token_count

    docs = _t(spark, sf_dir, "documents")
    wide = (docs.groupBy("source")
            .pivot("lang", PIVOT_LANGS)
            .agg(F.sum(token_count("text"))))
    return wide.select(
        "source",
        *[F.col(lang).cast("long").alias(f"tok_{lang}")
          for lang in PIVOT_LANGS]
    ).orderBy("source")


def q_melt_tokens(spark: SparkSession, sf_dir: str) -> DataFrame:
    """UNPIVOT round trip: the q_pivot_tokens matrix melted back to
    long (source, lang, n_tokens) rows with empty cells dropped — the
    oracle is the plain GROUP BY aggregate, so the equality proves
    pivot -> unpivot loses nothing.  unpivot is a zero-shuffle
    generate/projection on top of the pivoted aggregate."""
    wide = q_pivot_tokens(spark, sf_dir)
    return (wide.unpivot(
                "source",
                [f"tok_{lang}" for lang in PIVOT_LANGS],
                "lang", "n_tokens")
            .filter(F.col("n_tokens").isNotNull())
            .withColumn("lang", F.substring("lang", 5, 2))
            .orderBy("source", "lang"))


def q_word_blocklist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-level blocklist filter (the UT1-style complement of
    url_blocklist): word-boundary regex counts per banned token over
    deterministically salted docs (doc_id%7 / %11 / %13 inject hits,
    including a double hit), keep = zero hits.  Per-row JVM regexes,
    zero shuffle."""
    docs = _t(spark, sf_dir, "documents")
    salted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 7 == 0,
                   F.lit(" zzzspam offer inside")).otherwise(F.lit("")),
            F.when(F.col("doc_id") % 11 == 0,
                   F.lit(" ZZZcasino ZZZCASINO jackpot"))
            .otherwise(F.lit("")),
            F.when(F.col("doc_id") % 13 == 0,
                   F.lit(" contact zzzscam dot example"))
            .otherwise(F.lit("")),
        ).alias("t"))
    low = F.lower(F.col("t"))
    hit_cols = [
        F.regexp_count(low, F.lit(rf"\b{w}\b")).cast("long").alias(f"n_{w}")
        for w in BANNED_WORDS
    ]
    out = salted.select("doc_id", *hit_cols)
    total = sum(F.col(f"n_{w}") for w in BANNED_WORDS)
    return (out.withColumn("n_banned", total.cast("long"))
               .withColumn("keep", F.col("n_banned") == 0)
               .orderBy("doc_id"))


def q_template_strip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-site template-line removal (the site-scoped CCNet pass,
    operators/template.py): every doc of a source is wrapped with that
    source's nav/footer lines, which exceed the 50% document-frequency
    threshold inside the group and are stripped; body lines survive
    unless the corpus genuinely repeats them across >=50% of the
    source's docs (the oracle recomputes the same rule).  The template
    table is broadcast; text crosses the network once."""
    from ocr_spark.operators.template import strip_templates

    docs = _t(spark, sf_dir, "documents")
    wrapped = docs.select(
        "doc_id", "source",
        F.concat(F.lit("NAV "), F.col("source"),
                 F.lit(" | home | about | contact"), F.lit("\n"),
                 F.col("text"), F.lit("\n"),
                 F.lit("Copyright "), F.col("source"),
                 F.lit(" all rights reserved")).alias("text"))
    return (strip_templates(wrapped, key_col="doc_id", text_col="text",
                            group_col="source", min_df_frac=0.5,
                            min_group_docs=3)
            .orderBy("doc_id"))


def q_para_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document paragraph dedup (print/mobile concat, pagination
    overlap): doc_id%3 docs get their whole text duplicated as a
    second paragraph, doc_id%4 get a trim-variant duplicate (trailing
    spaces) proving the trim-keyed first-occurrence fold.  Pure JVM
    higher-order functions, zero shuffle."""
    from ocr_spark.operators.template import dedup_paragraphs

    docs = _t(spark, sf_dir, "documents")
    salted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.when(F.col("doc_id") % 3 == 0,
                   F.concat(F.lit("\n\n"), F.col("text")))
            .otherwise(F.lit("")),
            F.when(F.col("doc_id") % 4 == 0,
                   F.concat(F.lit("\n\n"), F.col("text"), F.lit("  ")))
            .otherwise(F.lit("")),
            F.when(F.col("doc_id") % 5 == 0,
                   F.lit("\n\nSee also: related articles."))
            .otherwise(F.lit("")),
        ).alias("t"))
    cols = dedup_paragraphs("t")
    return (salted.select(
                "doc_id",
                cols["n_paras_in"].alias("n_paras_in"),
                cols["n_paras_out"].alias("n_paras_out"),
                F.md5(cols["text_dedup"]).alias("dedup_digest"))
            .orderBy("doc_id"))


def q_cms_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-Min sketch (functions/sketch.py): build the 4x1024 count
    table over the whitespace token stream, then point-query it for
    the exact top-15 tokens (count desc, token asc tie-break) and emit
    estimate next to truth — the oracle rebuilds the identical sketch
    and certifies the one-sided error (cms_est >= n_exact always).
    The sketch exchange is <= 4096 rows regardless of corpus size."""
    from ocr_spark.functions.sketch import cms_estimate, cms_sketch

    docs = _t(spark, sf_dir, "documents")
    toks = (docs.select(F.explode(
                F.split(F.trim(F.col("text")), r"\s+")).alias("tok"))
            .where(F.col("tok") != ""))
    exact = toks.groupBy("tok").agg(F.count("*").alias("n_exact"))
    probe = exact.orderBy(F.desc("n_exact"), F.asc("tok")).limit(15)
    est = cms_estimate(probe.select("tok"), cms_sketch(toks))
    return (probe.join(est, "tok")
            .select(F.col("tok").alias("token"), "n_exact", "cms_est")
            .orderBy(F.desc("n_exact"), F.asc("token")))


def q_charset_detect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Charset sniffing over six deterministic byte families: UTF-8
    BOM, meta iso-8859-1 + a high byte, UTF-16LE BOM over a decoy
    meta (BOM must win), clean multibyte UTF-8, BOM-less invalid
    UTF-8 (latin-1 fallback), and a cased EUC-KR meta alias
    (ks_c_5601-1987 -> cp949).  Engine: the real byte-ladder
    (operators/extract.py:sniff_charsets -> extractor.core) in one
    Arrow kernel; the oracle is the closed-form construction rule.
    head8 of the decoded text certifies the decode itself."""
    from ocr_spark.operators.extract import sniff_charsets

    docs = _t(spark, sf_dir, "documents")
    m = F.col("doc_id") % 6
    u8 = lambda c: F.encode(c, "UTF-8")  # noqa: E731
    payload = (
        F.when(m == 0, F.concat(F.unhex(F.lit("EFBBBF")),
                                u8(F.col("text"))))
        .when(m == 1, F.concat(
            u8(F.lit('<html><head><meta charset="ISO-8859-1">'
                     "</head><body>x")),
            F.unhex(F.lit("E9")), u8(F.lit("y</body></html>"))))
        .when(m == 2, F.concat(
            F.unhex(F.lit("FFFE")),
            F.encode(F.lit('<meta charset="iso-8859-1"> decoy body'),
                     "UTF-16LE")))
        .when(m == 3, F.concat(u8(F.col("text")), u8(F.lit(" caf")),
                               F.unhex(F.lit("C3A9"))))
        .when(m == 4, F.concat(u8(F.lit("plain ascii with stray ")),
                               F.unhex(F.lit("E9")), u8(F.lit(" tail"))))
        .otherwise(u8(F.concat(
            F.lit("<html><META Charset=ks_c_5601-1987><body>"),
            F.col("text"))))
    )
    pages = docs.select("doc_id", payload.alias("html"))
    out = sniff_charsets(pages, payload_col="html",
                         passthrough=("doc_id",))
    return out.select(
        "doc_id", "codec",
        F.substring("text", 1, 8).alias("head8")).orderBy("doc_id")


def q_domain_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-guarded train/val/test split: the split is keyed on the
    REGISTERED DOMAIN's salted hash (80/10/10), never the document —
    near-duplicates and templated pages within a site land in the
    same split, so held-out eval can't be contaminated by same-site
    twins.  Pure deterministic filter (no df.sample), reproducible
    across retries and repartitionings; zero shuffle beyond the
    presentation sort."""
    from ocr_spark.operators.corpus import _md5_60
    from ocr_spark.operators.web import registered_domain

    urls = _synth_urls(spark, sf_dir)
    with_dom = urls.select(
        "doc_id", registered_domain("url").alias("domain"))
    bucket = _md5_60("domain", "domsplit") % 100
    return (with_dom
            .withColumn("split",
                        F.when(bucket < 80, F.lit("train"))
                        .when(bucket < 90, F.lit("val"))
                        .otherwise(F.lit("test")))
            .orderBy("doc_id"))


def q_revisit_policy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Recrawl scheduling from snapshot change history
    (operators/snapshot.py:revisit_schedule): 4 synthetic snapshots
    per url whose content version flips every (1 + doc_id%4)
    snapshots; consecutive-digest comparison estimates the change
    rate and sets the next revisit interval (static pages back off to
    the 30-day horizon).  One uniform key exchange; digests only."""
    from ocr_spark.operators.snapshot import revisit_schedule

    docs = _t(spark, sf_dir, "documents")
    snaps = docs.select(
        F.concat(F.lit("u"), F.col("doc_id").cast("string")).alias("url"),
        F.col("doc_id"),
        F.explode(F.sequence(F.lit(0), F.lit(3))).alias("snap_k"),
    ).select(
        "url", "snap_k",
        F.md5(F.concat(
            F.col("doc_id").cast("string"), F.lit(":"),
            F.floor(F.col("snap_k")
                    / (F.lit(1) + F.col("doc_id") % 4)).cast("string")
        )).alias("digest"),
    )
    return revisit_schedule(snaps).orderBy("url")


def q_model_score(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear-classifier inference (functions/model.py): feature-hashed
    token buckets dotted with a deterministic weight vector, sigmoid
    squash — the fastText/CCNet model-filter shape with the training
    swapped for literals the oracle can re-derive.  Exact-integer
    accumulation (order-free), per-row JVM HOFs, zero shuffle."""
    from ocr_spark.functions.model import linear_text_score

    docs = _t(spark, sf_dir, "documents")
    cols = linear_text_score("text")
    return docs.select(
        "doc_id", cols["n_toks"].alias("n_toks"),
        cols["dot_int"].alias("dot_int"), cols["score"].alias("score"),
        cols["keep"].alias("keep")).orderBy("doc_id")


def q_zipf_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Zipf rank-frequency fit over the corpus vocabulary: OLS slope /
    intercept of ln(freq) on ln(rank) for the top-1000 tokens
    (count desc, token asc tie-break — a total order, so the cut is
    deterministic).  The frequency groupBy is the only corpus-sized
    exchange; ranking happens on the 1000-row result (driver-trivial
    at any corpus size).  regr_slope/regr_intercept share the same
    published OLS definition in both engines."""
    from pyspark.sql import Window

    docs = _t(spark, sf_dir, "documents")
    toks = (docs.select(F.explode(
                F.split(F.trim(F.col("text")), r"\s+")).alias("tok"))
            .where(F.col("tok") != ""))
    freq = toks.groupBy("tok").agg(F.count("*").alias("cnt"))
    top = freq.orderBy(F.desc("cnt"), F.asc("tok")).limit(1000)
    ranked = top.withColumn(
        "rank",
        F.row_number().over(
            Window.orderBy(F.desc("cnt"), F.asc("tok"))))
    return ranked.agg(
        F.count("*").alias("n_top"),
        F.round(F.regr_slope(F.log("cnt"), F.log("rank")), 4)
        .alias("slope"),
        F.round(F.regr_intercept(F.log("cnt"), F.log("rank")), 4)
        .alias("intercept"))


def q_oov_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Tokenizer-vocabulary coverage: per-document out-of-vocabulary
    rate against the corpus top-256 tokens (the fixed-vocab proxy).
    The vocab is broadcast (256 rows); the corpus token stream joins
    it map-side — the only corpus exchange is the frequency groupBy
    that builds the vocab.  Empty docs come back with rate 0."""
    docs = _t(spark, sf_dir, "documents")
    toks = (docs.select(
                "doc_id",
                F.explode(F.split(F.trim(F.col("text")), r"\s+"))
                .alias("tok"))
            .where(F.col("tok") != ""))
    vocab = (toks.groupBy("tok").agg(F.count("*").alias("cnt"))
             .orderBy(F.desc("cnt"), F.asc("tok")).limit(256)
             .select("tok", F.lit(1).alias("in_vocab")))
    per_doc = (toks.join(F.broadcast(vocab), "tok", "left")
               .groupBy("doc_id")
               .agg(F.count("*").alias("n_toks"),
                    F.sum(F.when(F.col("in_vocab").isNull(), 1)
                          .otherwise(0)).alias("n_oov")))
    base = docs.select("doc_id")
    return (base.join(per_doc, "doc_id", "left")
            .select(
                "doc_id",
                F.coalesce("n_toks", F.lit(0)).cast("long")
                .alias("n_toks"),
                F.coalesce("n_oov", F.lit(0)).cast("long")
                .alias("n_oov"),
                F.round(F.when(F.coalesce("n_toks", F.lit(0)) > 0,
                               F.coalesce("n_oov", F.lit(0))
                               .cast("double")
                               / F.col("n_toks").cast("double"))
                        .otherwise(F.lit(0.0)), 6).alias("oov_rate"))
            .orderBy("doc_id"))


def q_http_headers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """HTTP response-header triage (operators/web.py:
    parse_http_headers): five header families (200+charset, 301
    redirect, 404 with cased params, 200 pdf, 503 with no
    content-type) parsed into typed fields with NULL-absent semantics
    — the WAT/CDX projection every fetch pipeline runs before body
    work.  Per-row JVM regexes, zero shuffle."""
    from ocr_spark.operators.web import parse_http_headers

    docs = _t(spark, sf_dir, "documents")
    m = F.col("doc_id") % 5
    d = F.col("doc_id").cast("string")
    crlf = "\r\n"
    hdr = (
        F.when(m == 0, F.concat(
            F.lit("HTTP/1.1 200 OK" + crlf + "Server: x" + crlf
                  + "Content-Type: text/HTML; charset=UTF-8" + crlf
                  + "Content-Length: "),
            F.col("n_chars").cast("string"), F.lit(crlf + crlf)))
        .when(m == 1, F.concat(
            F.lit("HTTP/1.1 301 Moved Permanently" + crlf
                  + "Location: https://example.com/"), d,
            F.lit(crlf + "Content-Type: text/html" + crlf + crlf)))
        .when(m == 2, F.lit(
            "HTTP/1.1 404 Not Found" + crlf
            + "Content-Type: Text/Html; Charset=ISO-8859-1"
            + crlf + crlf))
        .when(m == 3, F.concat(
            F.lit("HTTP/1.1 200 OK" + crlf
                  + "Content-Type: application/pdf" + crlf
                  + "Content-Length: "),
            (F.col("doc_id") * 7).cast("string"), F.lit(crlf + crlf)))
        .otherwise(F.lit(
            "HTTP/1.1 503 Service Unavailable" + crlf
            + "Retry-After: 60" + crlf + crlf))
    )
    cols = parse_http_headers(hdr)
    return docs.select(
        "doc_id", cols["status"].alias("status"),
        cols["content_type"].alias("content_type"),
        cols["charset"].alias("charset"),
        cols["content_length"].alias("content_length"),
        cols["is_redirect"].alias("is_redirect")).orderBy("doc_id")


def q_robots_sitemaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sitemap discovery from robots.txt (operators/web.py:
    robots_sitemaps): the Sitemap directive is global per RFC 9309
    §2.3, so this is a stateless case-insensitive line regex over 20
    synthetic hosts — h%3==0 hosts have none (drop out), h%3==1 one,
    h%3==2 two mixed-case lines behind a decoy agent group."""
    from ocr_spark.operators.web import robots_sitemaps

    docs = _t(spark, sf_dir, "documents")
    hosts = docs.select(
        (F.col("doc_id") % 20).alias("h")).distinct()
    hs = F.col("h").cast("string")
    txt = (
        F.when(F.col("h") % 3 == 0,
               F.lit("User-agent: *\nDisallow: /tmp/"))
        .when(F.col("h") % 3 == 1, F.concat(
            F.lit("User-agent: *\nDisallow: /x\nSitemap: https://site"),
            hs, F.lit(".example.com/sitemap.xml")))
        .otherwise(F.concat(
            F.lit("sitemap: https://site"), hs,
            F.lit(".example.com/s1.xml\nUser-agent: bot\n"
                  "Disallow: /\nSITEMAP: https://site"), hs,
            F.lit(".example.com/s2.xml")))
    )
    pages = hosts.select(
        F.concat(F.lit("site"), hs, F.lit(".example.com")).alias("host"),
        txt.alias("robots_txt"))
    return (robots_sitemaps(pages)
            .orderBy("host", "sitemap_url"))


def q_orders_above_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decorrelated scalar-subquery shape: orders priced >20% above
    their customer's average.  The engine runs the decorrelated form
    (one groupBy + equi-join — what Catalyst produces for the
    correlated SQL); the oracle runs the same predicate from an
    independent aggregate CTE.  Money is compared in EXACT integer
    cents (cents * n * 10 > sum_cents * 12) so the cross-engine
    float-average knife edge never decides a row."""
    o = _t(spark, sf_dir, "orders")
    base = o.select(
        "o_orderkey", "o_custkey",
        F.round(F.col("o_totalprice") * 100, 0).cast("long")
        .alias("price_cents"))
    aggs = base.groupBy("o_custkey").agg(
        F.count("*").alias("n_cust_orders"),
        F.sum("price_cents").alias("cust_sum_cents"))
    return (base.join(aggs, "o_custkey")
            .where(F.col("price_cents") * F.col("n_cust_orders") * 10
                   > F.col("cust_sum_cents") * 12)
            .select("o_orderkey", "o_custkey", "price_cents",
                    "n_cust_orders", "cust_sum_cents")
            .orderBy("o_orderkey"))


# --------------------------------------------------------------------------
# driver surface
# --------------------------------------------------------------------------

def entry(spark: SparkSession) -> DataFrame:
    """Flagship: boilerplate-strip extraction over sf0.001 documents."""
    return q_flagship_extract(spark, SF0001)


# fixed merge table for q_bpe_encode — the production shape: trained
# once (bpe_train / a released tokenizer), applied corpus-wide; merged
# symbols participate in later merges (th+e, an+d)
BPE_ENCODE_MERGES = [("t", "h"), ("th", "e"), ("a", "n"),
                     ("an", "d"), ("e", "r"), ("o", "n")]


def q_bpe_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BPE tokenizer APPLICATION at corpus scale
    (functions/colloc.py:bpe_encode): a fixed 6-merge table applied to
    every document, counting real tokenizer tokens per doc (the number
    token budgets / packing / mixing should key off, vs whitespace
    words).  Zero shuffle — per-row fold expressions only.  The oracle
    replicates greedy left-to-right merging with a sep-encoded
    replace chain (replace() is exactly BPE's non-overlapping scan)."""
    from ocr_spark.functions.colloc import bpe_encode

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return bpe_encode(docs, BPE_ENCODE_MERGES).orderBy("doc_id")


def q_microdata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema.org MICRODATA extraction (extractor/core.py:
    extract_microdata) — the in-markup sibling of q_jsonld's script
    blocks, covering the second schema.org embedding a crawler meets.
    Every doc carries a Product item (name = first two tokens, a
    <meta> sku, an <a href> url — the three spec value sources), docs
    with id % 3 == 0 nest an Offer (the parent sees the ``#item:1``
    reference row, the Offer emits its own <meta> price), and docs
    with id % 17 == 0 plant an itemprop OUTSIDE any itemscope that
    must come back as an ``orphan_prop`` ROW.  Every value is a
    closed-form function of (doc_id, tokens), so the oracle
    reconstructs the full row set arithmetically."""
    from ocr_spark.operators.extract import extract_microdata_pages

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")

    def build(batches):
        import pandas as pd

        for pdf in batches:
            htmls = []
            for doc_id, text in zip(pdf["doc_id"], pdf["text"]):
                toks = (text or "").split()
                name = " ".join(toks[:2])
                parts = [
                    '<div itemscope itemtype="https://schema.org/Product">',
                    f'<span itemprop="name">{name}</span>',
                    f'<meta itemprop="sku" content="sku-{doc_id}">',
                    f'<a itemprop="url" '
                    f'href="https://m.example.com/p{doc_id}">x</a>',
                ]
                if doc_id % 3 == 0:
                    parts.append(
                        '<div itemprop="offers" itemscope '
                        'itemtype="https://schema.org/Offer">'
                        f'<meta itemprop="price" '
                        f'content="{doc_id % 97}.00"></div>')
                parts.append("</div>")
                if doc_id % 17 == 0:
                    parts.append('<span itemprop="stray">s</span>')
                htmls.append((
                    "<html><body>" + "".join(parts) + "</body></html>"
                ).encode())
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "html": htmls})

    pages = docs.mapInPandas(build, schema="doc_id long, html binary")
    return extract_microdata_pages(pages, payload_col="html",
                                   passthrough=("doc_id",)) \
        .orderBy("doc_id", "item_idx", "prop")


def q_rel_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Typed link-relation extraction (extractor/core.py:
    extract_rel_links): every doc carries a rel=canonical link and a
    rel=nofollow anchor, docs with id % 5 != 4 add the rel=next
    pagination link, and docs with id % 11 == 0 add a space-separated
    rel="alternate feed" that must emit ONE ROW PER TOKEN with a
    shared href.  link_idx is document order, so the oracle computes
    each row's index arithmetically from the presence flags."""
    from ocr_spark.operators.extract import rel_links_pages

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def build(batches):
        import pandas as pd

        for pdf in batches:
            htmls = []
            for doc_id in pdf["doc_id"]:
                parts = [
                    '<html><head>',
                    f'<link rel="canonical" '
                    f'href="https://s.example.com/c{doc_id}">',
                ]
                if doc_id % 5 != 4:
                    parts.append(f'<link rel="next" '
                                 f'href="https://s.example.com/p'
                                 f'{doc_id + 1}">')
                if doc_id % 11 == 0:
                    parts.append('<link rel="alternate feed" '
                                 'href="/feed.xml">')
                parts.append('</head><body>'
                             f'<a rel="nofollow" '
                             f'href="https://out.example.com/{doc_id % 7}"'
                             '>x</a></body></html>')
                htmls.append("".join(parts).encode())
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "html": htmls})

    pages = docs.mapInPandas(build, schema="doc_id long, html binary")
    return rel_links_pages(pages, payload_col="html",
                           passthrough=("doc_id",)) \
        .orderBy("doc_id", "link_idx")


def q_hreflang_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multilingual translation-group alignment, composed end-to-end
    from REAL kernels: docs form 3-page translation clusters (group =
    id div 3, langs en/de/fr by id % 3) whose pages each declare the
    FULL member set via <link rel=alternate hreflang> (plus x-default
    on the en member); the hreflang kernel (extractor/core.py:
    extract_hreflang) parses the markup and hreflang_groups
    (operators/web.py) reduces each page's own declaration to its
    group identity — no graph traversal — and flags non-reciprocal
    edges via one anti-join.  Planted defects the output must
    separate: pages with id % 11 == 7 carry NO hreflang block (absent
    from the output, and their group-mates' edges to them come back
    non-reciprocal), and in groups with g % 7 == 0 the fr member
    omits the de alternate (fracturing its own group_id to the en url
    and making de's edge to fr one-directional).  The oracle rebuilds
    the edge set arithmetically and mirrors the reduction."""
    from ocr_spark.operators.extract import hreflang_pages
    from ocr_spark.operators.web import hreflang_groups

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    LANGS = ("en", "de", "fr")

    def build(batches):
        import pandas as pd

        for pdf in batches:
            htmls = []
            for doc_id in pdf["doc_id"]:
                g, m = doc_id // 3, doc_id % 3
                parts = ["<html><head>"]
                if doc_id % 11 != 7:
                    for lang in LANGS:
                        if g % 7 == 0 and m == 2 and lang == "de":
                            continue
                        parts.append(
                            f'<link rel="alternate" hreflang="{lang}" '
                            f'href="https://ml.example.com/{g}/{lang}">')
                    if m == 0:
                        parts.append(
                            '<link rel="alternate" hreflang="x-default"'
                            f' href="https://ml.example.com/{g}/en">')
                parts.append("</head><body><p>x</p></body></html>")
                htmls.append("".join(parts).encode())
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "html": htmls})

    pages = docs.mapInPandas(build, schema="doc_id long, html binary")
    links = hreflang_pages(pages, payload_col="html",
                           passthrough=("doc_id",))
    page_url = F.concat(
        F.lit("https://ml.example.com/"),
        (F.col("doc_id") / 3).cast("long").cast("string"), F.lit("/"),
        F.element_at(F.array(*[F.lit(x) for x in LANGS]),
                     (F.col("doc_id") % 3 + 1).cast("int")))
    return (hreflang_groups(links.withColumn("url", page_url))
            .orderBy("url"))


def q_publish_date(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Publish-date extraction with htmldate-style source precedence
    (extractor/core.py: extract_publish_date + operators/extract.py:
    publish_date_pages): docs plant overlapping signals with DISTINCT
    dates per source — JSON-LD datePublished (id % 3 == 0, but
    INVALID 'not-a-date' when id % 21 == 6, which must fall through),
    article:published_time meta (id % 2 == 0), first <time datetime>
    (id % 5 != 4), and a /YYYY/MM/DD/ url path (id % 7 < 3, resolved
    JVM-side with regexp + try_to_date, no Python) — so the winning
    (source, date) pair per doc certifies the whole precedence chain.
    The oracle rebuilds each source's date arithmetically and mirrors
    the CASE ladder."""
    import datetime as _dt

    from ocr_spark.operators.extract import publish_date_pages

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def build(batches):
        import pandas as pd

        base_a = _dt.date(2020, 1, 1)
        base_b = _dt.date(2021, 1, 1)
        base_c = _dt.date(2019, 6, 15)
        base_d = _dt.date(2018, 3, 1)
        day = _dt.timedelta(days=1)
        for pdf in batches:
            urls, htmls = [], []
            for doc_id in pdf["doc_id"]:
                parts = ["<html><head>"]
                if doc_id % 3 == 0:
                    raw_a = ("not-a-date" if doc_id % 21 == 6 else
                             (base_a + day * (doc_id % 997)).isoformat()
                             + "T10:00:00Z")
                    parts.append(
                        '<script type="application/ld+json">'
                        '{"@context":"https://schema.org",'
                        '"@type":"NewsArticle",'
                        f'"datePublished":"{raw_a}"}}</script>')
                if doc_id % 2 == 0:
                    raw_b = ((base_b + day * (doc_id % 499)).isoformat()
                             + "T08:30:00+00:00")
                    parts.append('<meta property='
                                 '"article:published_time" '
                                 f'content="{raw_b}">')
                parts.append("</head><body>")
                if doc_id % 5 != 4:
                    raw_c = (base_c + day * (doc_id % 199)).isoformat()
                    parts.append(f'<time datetime="{raw_c}">when</time>')
                parts.append("<p>x</p></body></html>")
                if doc_id % 7 < 3:
                    d = base_d + day * (doc_id % 299)
                    url = (f"https://news.example.com/{d.year}/"
                           f"{d.month:02d}/{d.day:02d}/a{doc_id}")
                else:
                    url = f"https://news.example.com/a/{doc_id}"
                urls.append(url)
                htmls.append("".join(parts).encode())
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "url": urls,
                                "html": htmls})

    pages = docs.mapInPandas(
        build, schema="doc_id long, url string, html binary")
    return publish_date_pages(pages, payload_col="html", url_col="url",
                              passthrough=("doc_id", "url")) \
        .orderBy("doc_id")


def q_social_cards(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Social-card assembly from the generic namespaced-meta kernel
    (extractor/core.py: extract_meta_kv + operators/extract.py:
    social_cards): docs plant og:title (duplicated with a decoy value
    when id % 9 == 0 — FIRST must win), og:description (id % 3 != 1),
    og:image (id % 5 != 0), twitter:card summary/summary_large_image
    by id % 4, and docs with id % 13 == 5 carry NO card tags yet MUST
    come back as an all-NULL row (population left join).  The oracle
    is a pure CASE ladder over doc_id."""
    from ocr_spark.operators.extract import meta_kv_pages, social_cards

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def build(batches):
        import pandas as pd

        for pdf in batches:
            htmls = []
            for doc_id in pdf["doc_id"]:
                parts = ["<html><head>"]
                if doc_id % 13 != 5:
                    parts.append(f'<meta property="og:title" '
                                 f'content="T{doc_id}">')
                    if doc_id % 9 == 0:
                        parts.append('<meta property="og:title" '
                                     'content="DECOY">')
                    if doc_id % 3 != 1:
                        parts.append(f'<meta property="og:description"'
                                     f' content="D{doc_id}">')
                    if doc_id % 5 != 0:
                        parts.append(
                            '<meta property="og:image" content='
                            f'"https://img.example.com/{doc_id}.jpg">')
                    if doc_id % 4 == 0:
                        parts.append('<meta name="twitter:card" '
                                     'content="summary">')
                    elif doc_id % 4 == 2:
                        parts.append('<meta name="twitter:card" '
                                     'content="summary_large_image">')
                parts.append("</head><body><p>x</p></body></html>")
                htmls.append("".join(parts).encode())
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "html": htmls})

    pages = docs.mapInPandas(build, schema="doc_id long, html binary")
    kv = meta_kv_pages(pages, payload_col="html",
                       passthrough=("doc_id",))
    return social_cards(kv, docs).orderBy("doc_id")


def q_amp_collapse(spark: SparkSession, sf_dir: str) -> DataFrame:
    """AMP-variant collapse composed from the rel-link kernel: docs
    pair up (pair p = id div 2) — even ids are canonical pages
    declaring <link rel=amphtml> to the amp url, odd ids are AMP
    variants declaring <link rel=canonical> back — and
    amp_collapse (operators/web.py) keeps only MUTUAL pairs.
    Planted one-way defects: the canonical omits its amphtml link
    when p % 7 == 3 and the amp page omits its canonical when
    p % 11 == 9, so those pairs must classify 'plain' on both sides.
    The oracle is a CASE ladder over (parity, p mods)."""
    from ocr_spark.operators.extract import rel_links_pages
    from ocr_spark.operators.web import amp_collapse

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def build(batches):
        import pandas as pd

        for pdf in batches:
            urls, htmls = [], []
            for doc_id in pdf["doc_id"]:
                p = doc_id // 2
                canon = f"https://site.example.com/p{p}"
                amp = f"https://site.example.com/amp/p{p}"
                if doc_id % 2 == 0:
                    url, link = canon, (
                        "" if p % 7 == 3 else
                        f'<link rel="amphtml" href="{amp}">')
                else:
                    url, link = amp, (
                        "" if p % 11 == 9 else
                        f'<link rel="canonical" href="{canon}">')
                urls.append(url)
                htmls.append((f"<html><head>{link}</head>"
                              "<body><p>x</p></body></html>").encode())
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "url": urls,
                                "html": htmls})

    pages = docs.mapInPandas(
        build, schema="doc_id long, url string, html binary")
    links = rel_links_pages(pages, payload_col="html",
                            passthrough=("url",))
    return amp_collapse(pages, links).orderBy("url")


def q_scholarly_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scholarly identifier mining (operators/index.py:
    mine_identifiers) with planted linkage keys: docs with id % 4 ==
    0 carry a DOI (a SECOND one when id % 20 == 0 — match_idx must
    order them), docs with id % 6 == 1 an arXiv id; the corpus
    vocabulary is digit-free so the planted strings are the only
    matches.  Both engines run the IDENTICAL pattern strings; the
    oracle rebuilds every row closed-form."""
    from ocr_spark.operators.index import mine_identifiers

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    i = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.when(i % 4 == 0,
               F.concat(F.lit(" see doi:10.5555/art."),
                        i.cast("string"), F.lit(".x")))
         .otherwise(F.lit("")),
        F.when(i % 20 == 0,
               F.concat(F.lit(" and 10.1234/xyz"), i.cast("string")))
         .otherwise(F.lit("")),
        F.when(i % 6 == 1,
               F.concat(F.lit(" arxiv:2301."),
                        (F.lit(10000) + i % 80000).cast("string")))
         .otherwise(F.lit("")))
    return (mine_identifiers(docs.select("doc_id",
                                         aug.alias("text")))
            .orderBy("doc_id", "kind", "match_idx"))


def q_id_linkage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bibliographic coupling (operators/index.py:identifier_linkage)
    over planted topic DOIs: every doc carries doi 10.5555/topic<i%7>
    and 10.5555/area<i%11>, plus a hot 10.5555/hotx held by ALL docs
    that the guard must exclude.  max_df is HALF the corpus so the
    guard behavior is scale-stable (hot df = N > N/2 out; topic N/7
    and area N/11 in, at every sf — the closed-form oracle relies on
    exactly this).  Pairs with n_shared >= 2 are the doc pairs
    congruent mod 77."""
    from ocr_spark.operators.index import (mine_identifiers,
                                           identifier_linkage)

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    mm = docs.count()
    i = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.lit(" doi:10.5555/topic"), (i % 7).cast("string"),
        F.lit(" doi:10.5555/area"), (i % 11).cast("string"),
        F.lit(" doi:10.5555/hotx"))
    ids = mine_identifiers(docs.select("doc_id", aug.alias("text")))
    return (identifier_linkage(ids, min_shared=2, max_df=mm // 2)
            .orderBy("doc_a", "doc_b"))


def q_measurements(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantity mining (operators/index.py:mine_measurements) over
    planted measurement mentions on the digit-free corpus: every doc
    "weighs <i%50>.5 kg", even docs also "span <i%90> cm", docs with
    i%5==1 also "hold 2.25 gb" — concat order fixes match_idx.  The
    oracle rebuilds every row closed-form (integer milli-units and
    the literal factor table, no float parse on either side)."""
    from ocr_spark.operators.index import mine_measurements

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    i = F.col("doc_id")
    aug = F.concat(
        F.col("text"),
        F.lit(" weighs "), (i % 50).cast("string"), F.lit(".5 kg"),
        F.when(i % 2 == 0,
               F.concat(F.lit(" spans "), (i % 90).cast("string"),
                        F.lit(" cm"))).otherwise(F.lit("")),
        F.when(i % 5 == 1, F.lit(" holds 2.25 gb"))
         .otherwise(F.lit("")))
    return (mine_measurements(docs.select("doc_id",
                                          aug.alias("text")))
            .orderBy("doc_id", "match_idx"))


def q_link_depth(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Crawl-depth BFS (operators/web.py:link_depth) over a planted
    graph: the binary tree i -> 2i+1, 2i+2 (depths = floor(log2) from
    the root) plus cross edges i -> (17i+5) mod M on i % 10 == 0
    (cycles + shortcuts, so MIN-depth must win over tree depth),
    seeded at {0, 1}.  Oracle: DuckDB recursive CTE BFS bounded at
    the same max_hops, min(depth) per node."""
    from ocr_spark.operators.web import link_depth

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    mm = docs.count()
    base = docs.select(F.col("doc_id").alias("src"))
    kids = base.select(
        "src", F.explode(F.array(
            F.col("src") * 2 + 1, F.col("src") * 2 + 2)).alias("dst")) \
        .filter(F.col("dst") < mm)
    cross = (base.filter(F.col("src") % 10 == 0)
             .select("src",
                     ((F.col("src") * 17 + 5) % mm).alias("dst")))
    edges = kids.unionByName(cross)
    seeds = docs.filter(F.col("doc_id") <= 1) \
        .select(F.col("doc_id").alias("node"))
    return (link_depth(edges, seeds, max_hops=8)
            .orderBy("node"))


def q_meta_robots(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Index-curation robots directives (operators/web.py:
    robots_directives) merged from both channels: docs plant
    <meta name=robots> tags — 'noindex, follow' (id % 5 == 1),
    'nofollow' as a SECOND tag (id % 7 == 2, unions with the first),
    uppercase 'NONE' (id % 11 == 4, implies both, tests case folding)
    — and an X-Robots-Tag: noindex response header (id % 13 == 3)
    that must merge in even with silent markup.  Most-restrictive
    union; silent pages indexable.  Oracle: a boolean CASE ladder
    over the id mods."""
    from ocr_spark.operators.extract import meta_kv_pages
    from ocr_spark.operators.web import robots_directives

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def build(batches):
        import pandas as pd

        for pdf in batches:
            htmls, hdrs = [], []
            for doc_id in pdf["doc_id"]:
                parts = ["<html><head>"]
                if doc_id % 5 == 1:
                    parts.append('<meta name="robots" '
                                 'content="noindex, follow">')
                if doc_id % 7 == 2:
                    parts.append('<meta name="robots" '
                                 'content="nofollow">')
                if doc_id % 11 == 4:
                    parts.append('<meta name="robots" content="NONE">')
                parts.append("</head><body><p>x</p></body></html>")
                htmls.append("".join(parts).encode())
                hdr = "HTTP/1.1 200 OK\r\nContent-Type: text/html"
                if doc_id % 13 == 3:
                    hdr += "\r\nX-Robots-Tag: noindex"
                hdrs.append(hdr)
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "html": htmls,
                                "headers": hdrs})

    pages = docs.mapInPandas(
        build, schema="doc_id long, html binary, headers string")
    kv = meta_kv_pages(pages, payload_col="html",
                       passthrough=("doc_id",), prefixes=("robots",))
    return (robots_directives(kv, pages.select("doc_id", "headers"))
            .orderBy("doc_id"))


def q_cocitation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Co-citation related-page mining (operators/web.py:
    cocitation_pairs) over a planted link graph: every doc s links to
    (7s+1..3) mod M — so each consecutive dst pair {a, a+1} is
    co-cited by exactly TWO sources unless one of them is a hub —
    and docs with s % 101 == 0 add ten (11s+k) mod M hub links,
    pushing their out-degree past the max_out=8 cap so the guard
    EXCLUDES them (their support disappears from the counts, the
    documented undercount direction).  Oracle: same graph, degree
    CTE, self-join, HAVING >= 2."""
    from ocr_spark.operators.web import cocitation_pairs

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    mm = docs.count()
    base = docs.select(F.col("doc_id").alias("src"))
    e_main = base.select(
        "src", F.explode(F.array(F.lit(1), F.lit(2), F.lit(3)))
        .alias("k")).select(
        "src", ((F.col("src") * 7 + F.col("k")) % mm).alias("dst"))
    e_hub = (base.filter(F.col("src") % 101 == 0)
             .select("src", F.explode(F.array(
                 *[F.lit(k) for k in range(10)])).alias("k"))
             .select("src",
                     ((F.col("src") * 11 + F.col("k")) % mm)
                     .alias("dst")))
    edges = e_main.unionByName(e_hub)
    return (cocitation_pairs(edges, max_out=8, min_count=2)
            .orderBy("dst_a", "dst_b"))


def q_texttiling(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TextTiling topic segmentation (operators/chunk.py:texttiling)
    over the documents table at block=10: per-gap lexical-cohesion
    scores in exact integer micro-units (cosine² via (dot²·1e6) div
    (|l|²·|r|²) — no sqrt, no float order), bounded-window depth, and
    the above-mean-depth boundary rule.  The oracle is a full second
    implementation in SQL (range-lateral token positions, the same
    two aggregates, adjacent self-join, frame-bounded windows) — no
    tolerance anywhere."""
    from ocr_spark.operators.chunk import texttiling

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return texttiling(docs, block=10).orderBy("doc_id", "gap_idx")


def q_rake_keyphrases(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RAKE keyphrase extraction (operators/index.py:rake_keyphrases)
    over the documents table: top-3 distinct candidate phrases per doc
    by the degree/frequency word-score sum, with the integer
    milli-unit quantization contract (floor-divide each word's
    deg*1000/freq BEFORE summing) so the oracle — a full second RAKE
    implementation in SQL — matches bit-for-bit with no float
    tolerance.  The corpus's natural 'a'/'the' occurrences are the
    phrase delimiters."""
    from ocr_spark.operators.index import rake_keyphrases

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return (rake_keyphrases(docs, k=3)
            .orderBy("doc_id", "rank"))


def q_article_stitch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multi-page article reassembly, composed end-to-end from REAL
    kernels: docs form 4-page pagination chains (<link rel="next">
    from page d to d+1 unless d % 4 == 3), the rel-link kernel
    extracts the edges from the markup, and stitch_series
    (operators/web.py) collapses each chain to one document via
    pointer doubling with texts concatenated in reading order.  The
    oracle exploits the planted group structure (series = id div 4,
    keyed by the group's last page) with an ordered string_agg —
    closed form, while the engine runs the full parse -> resolve ->
    stitch plan."""
    from ocr_spark.operators.extract import rel_links_pages
    from ocr_spark.operators.web import stitch_series

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    url = F.concat(F.lit("https://a.example.com/p"),
                   F.col("doc_id").cast("string"))

    def build(batches):
        import pandas as pd

        for pdf in batches:
            htmls = []
            for doc_id in pdf["doc_id"]:
                nxt = (f'<link rel="next" '
                       f'href="https://a.example.com/p{doc_id + 1}">'
                       if doc_id % 4 != 3 else "")
                htmls.append((f"<html><head>{nxt}</head>"
                              "<body><p>x</p></body></html>").encode())
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "html": htmls})

    paged = docs.select("doc_id").mapInPandas(
        build, schema="doc_id long, html binary")
    links = rel_links_pages(paged, payload_col="html",
                            passthrough=("doc_id",))
    edges = (links.filter(F.col("rel") == "next")
             .select(F.concat(F.lit("https://a.example.com/p"),
                              F.col("doc_id").cast("string")).alias("src"),
                     F.col("href").alias("dst")))
    pages = docs.select(url.alias("url"), "text")
    return (stitch_series(pages, edges, max_hops=8)
            .orderBy("series_id"))


def q_reciprocal_links(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-exchange detection (operators/web.py:reciprocal_links)
    over a deterministic graph: every doc links to (13·id + 7) mod M
    (organic, one-directional by construction) and adjacent pairs
    id % 5 in (0,1) link BOTH ways (the planted exchange ring) —
    so reciprocity separates the ring members exactly.  Oracle: one
    reversed self-join plus two hash aggregates."""
    from ocr_spark.operators.web import reciprocal_links

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    m = docs.agg((F.max("doc_id") + F.lit(1)).alias("m"))
    cand = docs.crossJoin(F.broadcast(m)).select(
        "doc_id",
        ((F.col("doc_id") * 13 + 7) % F.col("m")).alias("k1"),
        F.when(F.col("doc_id") % 5 == 0, F.col("doc_id") + 1)
        .when(F.col("doc_id") % 5 == 1, F.col("doc_id") - 1).alias("k2"),
    )
    dsts = docs.select(F.col("doc_id").alias("dst"))
    e1 = (cand.join(dsts, cand.k1 == dsts.dst)
          .select(F.col("doc_id").alias("src"), "dst"))
    e2 = (cand.filter(F.col("k2").isNotNull())
          .join(dsts, cand.k2 == dsts.dst)
          .select(F.col("doc_id").alias("src"), "dst"))
    edges = e1.union(e2)
    return reciprocal_links(edges).orderBy("node")


def q_jl_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Johnson-Lindenstrauss random projection
    (operators/similarity.py:jl_project): 64-dim embeddings down to 8
    components from seeded 3-decimal rational-literal Gaussians, one
    row per (vec_id, component).  Both engines accumulate the dot
    left-to-right over the same literals, so the doubles match
    bitwise and round(.,9) is pure belt-and-braces."""
    from ocr_spark.operators.similarity import jl_project

    emb = _t(spark, sf_dir, "embeddings").select("vec_id", "embedding")
    p = jl_project(emb, dim=64, out_dim=8, seed=7)
    return (
        p.select("vec_id", F.posexplode("proj").alias("dim_idx", "value"))
        .select("vec_id", "dim_idx", F.round("value", 9).alias("value"))
        .orderBy("vec_id", "dim_idx")
    )


def q_format_signals(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher line-format signals
    (functions/quality.py:with_format_signals) over constructed
    layouts: docs with id % 4 == 0 gain two bullet lines, docs with
    id % 6 == 0 a trailing ellipsis teaser, and every doc's real text
    supplies the stop-word hits — so all three signal families are
    exercised with closed-form expected values."""
    from ocr_spark.functions.quality import with_format_signals

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    built = F.concat(
        F.when(F.col("doc_id") % 4 == 0,
               F.lit("- item one\n- item two\n")).otherwise(F.lit("")),
        F.col("text"),
        F.when(F.col("doc_id") % 6 == 0,
               F.lit("\nto be continued...")).otherwise(F.lit("")),
    )
    return (
        with_format_signals(
            docs.select("doc_id", built.alias("text")))
        .select("doc_id", "bullet_line_ratio", "ellipsis_line_ratio",
                "stopword_hits", "has_stop_words")
        .orderBy("doc_id")
    )


def q_host_lang_entropy(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain language-entropy spam signal
    (operators/web.py:host_lang_profile): docs hash into 29 synthetic
    registered domains, languages from the corpus's real lang labels;
    high entropy + low majority share = the multi-language content-
    mill red flag.  Entropy terms are irrational (ln of rationals), so
    round(.,6) snaps both engines' last-ulp summation noise without
    tie hazard."""
    from ocr_spark.operators.web import host_lang_profile

    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang")
    pages = docs.select(
        F.concat(F.lit("https://site"),
                 (F.col("doc_id") % 29).cast("string"),
                 F.lit(".com/p"), F.col("doc_id").cast("string"))
        .alias("url"),
        "lang",
    )
    return host_lang_profile(pages).orderBy("domain")


def q_pdf_text_fix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PDF typography repair (operators/normalize.py:fix_pdf_text):
    docs with id % 3 == 0 get every word boundary replaced by an
    end-of-line hyphenation split plus a presentation-form ligature
    prefix (U+FB01/FB02/FB00 — what PDF extractors leak); the repair
    must merge letter-hyphen-newline-letter splits (tokens ending in
    digits/punctuation survive, by design) and normalize ligatures.
    The oracle applies DuckDB's own RE2 to the same pattern — an
    independent second implementation of both the break and the
    repair."""
    from ocr_spark.operators.normalize import fix_pdf_text

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    broken = F.when(
        F.col("doc_id") % 3 == 0,
        F.concat(F.lit("ﬁrst ﬂat eﬀort "),
                 F.regexp_replace("text", " ", "-\n")),
    ).otherwise(F.col("text"))
    return docs.select(
        "doc_id", fix_pdf_text(broken).alias("text")).orderBy("doc_id")


def q_redirect_graph(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Meta-refresh redirect resolution composed from REAL markup:
    the same planted chain/cycle structure as q_redirect_resolve, but
    the edges come out of actual ``<meta http-equiv=refresh>`` tags
    via the http-equiv kernel (extractor/core.py:extract_http_equiv)
    instead of being synthesized columns — parse -> edge list ->
    pointer doubling in one plan.  Oracle: the identical hop-capped
    recursive CTE on the closed-form edge list."""
    from ocr_spark.operators.extract import http_equiv_pages
    from ocr_spark.operators.web import resolve_redirects

    docs = _t(spark, sf_dir, "documents").select("doc_id")

    def build(batches):
        import pandas as pd

        for pdf in batches:
            htmls = []
            for doc_id in pdf["doc_id"]:
                r = doc_id % 10
                tgt = {1: doc_id + 1, 2: doc_id + 1, 3: doc_id - 3,
                       4: doc_id + 1, 5: doc_id - 1}.get(r)
                meta = (f'<meta http-equiv="refresh" content="0; '
                        f'url=https://g.example.com/p{tgt}">'
                        if tgt is not None else "")
                htmls.append((f"<html><head>{meta}</head>"
                              "<body>x</body></html>").encode())
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "html": htmls})

    pages = docs.mapInPandas(build, schema="doc_id long, html binary")
    equiv = http_equiv_pages(pages, payload_col="html",
                             passthrough=("doc_id",))
    edges = (equiv.filter(F.col("refresh_url").isNotNull())
             .select(F.concat(F.lit("https://g.example.com/p"),
                              F.col("doc_id").cast("string")).alias("src"),
                     F.col("refresh_url").alias("dst")))
    return resolve_redirects(edges, max_hops=16).orderBy("src")


def q_lang_mismatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declared-vs-detected language consistency (a strong spam /
    mojibake / template-reuse signal: markup claiming one language
    over text reading as another).  Declared comes from REAL
    ``<html lang>`` attributes via the http-equiv kernel — docs with
    id % 7 == 0 omit the attribute (NULL declared, never a mismatch),
    docs with id % 13 == 0 declare the wrong constant 'zz' — and
    detected is the shipping marker-argmax lang_id over the doc's own
    text.  ``mismatch = declared IS NOT NULL AND declared !=
    detected`` (the zh rows mismatch by construction: the latin
    marker set cannot confirm a zh declaration)."""
    from ocr_spark.functions.text import with_lang_id
    from ocr_spark.operators.extract import http_equiv_pages

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text", "lang")

    def build(batches):
        import pandas as pd

        for pdf in batches:
            htmls = []
            for doc_id, lang in zip(pdf["doc_id"], pdf["lang"]):
                if doc_id % 7 == 0:
                    attr = ""
                elif doc_id % 13 == 0:
                    attr = ' lang="zz"'
                else:
                    attr = f' lang="{lang}"'
                htmls.append(
                    f"<html{attr}><body>x</body></html>".encode())
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "html": htmls})

    pages = docs.select("doc_id", "lang").mapInPandas(
        build, schema="doc_id long, html binary")
    declared = http_equiv_pages(pages, passthrough=("doc_id",)) \
        .select("doc_id", F.col("html_lang").alias("declared"))
    detected = with_lang_id(docs).select(
        "doc_id", F.col("lang_pred").alias("detected"))
    return (
        declared.join(detected, "doc_id")
        .withColumn(
            "mismatch",
            F.col("declared").isNotNull()
            & (F.col("declared") != F.col("detected")))
        .orderBy("doc_id")
    )


def q_redirect_resolve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Redirect-chain resolution by pointer doubling
    (operators/web.py:resolve_redirects).  Every id-group of 10 plants
    a 3-hop chain p(d)|d%10=1 -> p(d+1) -> p(d+2) -> p(d-1) (terminal,
    no out-edge) and a 2-cycle p(d)|d%10=4 <-> p(d+1): resolved srcs
    land on the chain terminal with EXACT hop counts (3/2/1), loop
    members come back unresolved with NULL final_url/hops.  The engine
    runs log2(16)=4 pointer-doubling rounds over the skinny (src, ptr,
    hops) table; the oracle walks the same functional edge list with a
    hop-capped recursive CTE — resolution = the last reachable node is
    not itself a redirect source.  Mirrors the reference's notion that
    a document's identity is its FINAL landing url (its service
    processes the fetched file, not interior redirect hops)."""
    from ocr_spark.operators.web import resolve_redirects

    docs = _t(spark, sf_dir, "documents").select("doc_id")
    r = F.col("doc_id") % 10
    dst_id = (F.when(r.isin(1, 2, 4), F.col("doc_id") + 1)
              .when(r == 3, F.col("doc_id") - 3)
              .when(r == 5, F.col("doc_id") - 1))
    edges = docs.filter(r.isin(1, 2, 3, 4, 5)).select(
        F.concat(F.lit("https://r.example.com/p"),
                 F.col("doc_id").cast("string")).alias("src"),
        F.concat(F.lit("https://r.example.com/p"),
                 dst_id.cast("string")).alias("dst"),
    )
    return resolve_redirects(edges, max_hops=16).orderBy("src")


def q_winnowing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TRUE winnowing fingerprint selection (Schleimer/Wilkerson/Aiken
    SIGMOD'03, the MOSS algorithm — functions/text.py:
    with_winnow_fingerprints): minimum k-gram hash per sliding window
    of w, rightmost tie-break, distinct (pos, hash) set — the
    position-robust guarantee the bottom-k `fingerprint` sketch lacks.
    One row per selected fingerprint.  Zero shuffle; the oracle
    re-derives the same windows, minima and tie-breaks over the same
    60-bit md5 hash family with list comprehensions."""
    from ocr_spark.functions.text import with_winnow_fingerprints

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    out = with_winnow_fingerprints(docs, "text", "fps", k=3, w=4)
    return (out.select("doc_id", F.explode("fps").alias("f"))
            .select("doc_id", F.col("f.pos").alias("pos"),
                    F.col("f.h").alias("h"))
            .orderBy("doc_id", "pos"))


def q_kn_bigram_lm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interpolated Kneser-Ney bigram LM perplexity per document
    (functions/quality.py:kneser_ney_logprob) — the production n-gram
    smoother (continuation-probability back-off) vs bigram_lm's add-1
    baseline.  One skinny bigram-type aggregate feeds all four model
    tables; corpus text never shuffles.  The oracle re-derives
    discount/continuation arithmetic with identical operand order."""
    from ocr_spark.functions.quality import kneser_ney_logprob

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return kneser_ney_logprob(docs).orderBy("doc_id")


def q_ks_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact two-sample Kolmogorov-Smirnov drift statistic between two
    synthetic 'crawls' (even vs odd doc ids) over the n_chars
    distribution (operators/snapshot.py:ks_drift) — the binning-free
    companion to dist_drift's PSI.  The global ECDF cumsum runs as the
    two-pass distributed prefix sum (range buckets + broadcast
    offsets), never a single global window task.  Top-5 ECDF-gap
    values; row 1 is the KS statistic."""
    from ocr_spark.operators.snapshot import ks_drift

    docs = _t(spark, sf_dir, "documents").select("doc_id", "n_chars")
    a = docs.where(F.col("doc_id") % 2 == 0)
    b = docs.where(F.col("doc_id") % 2 == 1)
    return ks_drift(a, b, "n_chars", bucket_width=100, top=5)


def q_cross_ppl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CROSS-corpus bigram perplexity (functions/quality.py:
    cross_bigram_logprob) — the true CCNet configuration: the add-1
    bigram LM trains on EVEN doc ids and scores ODD docs it never saw,
    unseen pairs taking the add-1 floor via left joins.  Held-out
    perplexity without self-scoring optimism."""
    from ocr_spark.functions.quality import cross_bigram_logprob

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    train = docs.where(F.col("doc_id") % 2 == 0)
    score = docs.where(F.col("doc_id") % 2 == 1)
    return cross_bigram_logprob(train, score).orderBy("doc_id")


def q_min_k_prob(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Min-K% probability membership/contamination signal (Shi et al.
    2024; functions/quality.py:min_k_prob): per doc, the mean logprob
    of its 20% least-probable tokens under the corpus-trained unigram
    — the bottom-k selection is a per-row array sort + slice + fold,
    never a per-(doc, token) window."""
    from ocr_spark.functions.quality import min_k_prob

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return min_k_prob(docs).orderBy("doc_id")


def q_stylometry(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Burrows' Delta stylometric distance (functions/model.py:
    burrows_delta) over every 25th document: mean |z-difference| of
    relative frequencies of the corpus's 30 most frequent terms —
    same-template detection by function-word style, orthogonal to
    content dedup.  Explicit sigma = sqrt(avg(f^2) - avg(f)^2) so the
    oracle replays the identical expression tree."""
    from ocr_spark.functions.model import burrows_delta

    docs = (_t(spark, sf_dir, "documents")
            .where(F.col("doc_id") % 25 == 0).select("doc_id", "text"))
    return burrows_delta(docs).orderBy("doc_a", "doc_b")


def q_winnow_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MOSS-style near-dup pairs from winnowing fingerprints
    (operators/dedup.py:winnow_pairs): equi-join on selected hashes
    with a broadcast hot-hash df cap, shared-count >= 3 — the
    composition SIGMOD'03 §4 deploys; detects every shared run of
    >= k + w - 1 tokens, unlike the sampling generators."""
    from ocr_spark.operators.dedup import winnow_pairs

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return winnow_pairs(docs).orderBy("doc_a", "doc_b")


def q_heaps_fit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Heaps'-law vocabulary-growth fit (functions/colloc.py:heaps_fit):
    OLS of ln(cumulative vocab) on ln(cumulative tokens) in doc-id
    order; cumulative distinct made prefix-summable by first-occurrence
    (min doc) attribution, both series through the two-pass distributed
    prefix sum."""
    from ocr_spark.functions.colloc import heaps_fit

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return heaps_fit(docs)


def q_good_turing(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Good-Turing frequency-of-frequencies smoothing table
    (functions/quality.py:good_turing_counts): adjusted counts
    r* = (r+1) N_{r+1}/N_r over the 20 lowest observed frequencies
    (the GT-trustworthy region; this corpus's spectrum starts at
    r~26).  One corpus-sized aggregate; everything else on the tiny
    counts-of-counts table."""
    from ocr_spark.functions.quality import good_turing_counts

    docs = _t(spark, sf_dir, "documents").select("text")
    return good_turing_counts(docs).orderBy("r")


def q_term_dispersion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gries' DP dispersion for the top-20 corpus terms
    (functions/colloc.py:term_dispersion): |v_i*S - s_i*V| summed as
    exact decimal integers over the common denominator (order-free,
    bit-reproducible), absent-doc tail folded in closed form.  The
    oracle mirrors the integer sums in HUGEINT."""
    from ocr_spark.functions.colloc import term_dispersion

    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    return term_dispersion(docs, top=20)


def q_skipgram_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Word2vec SGNS training pairs with DETERMINISTIC negative
    sampling (operators/corpus.py:skipgram_pairs) over every 10th
    document: window-2 skip-grams, 2 negatives per pair drawn by
    evaluating the corpus unigram inverse-CDF at a 60-bit hash of
    (doc, pos, cpos, slot) — no RNG, so the oracle re-derives every
    negative by the same closed form (global-window CDF + range
    containment join)."""
    from ocr_spark.operators.corpus import skipgram_pairs

    docs = (_t(spark, sf_dir, "documents")
            .where(F.col("doc_id") % 10 == 0).select("doc_id", "text"))
    return skipgram_pairs(docs, window=2, n_neg=2).orderBy(
        "doc_id", "pos", "cpos", "neg_slot")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Driver-contract registry.

    ORDER IS LOAD-BEARING: the driver's CORRECTNESS gate samples the
    FIRST 50 entries, so the registry leads with queries that have
    never produced a driver-green row (plus two long-green sentinels,
    flagship_extract / pdf_extract, as canaries for the shared fixture
    path).  Rotation policy: each round, consult CORRECTNESS_r*.json,
    move the freshly-certified block behind the remaining
    never-certified tail, and promote the next 48 uncertified entries
    — successive rounds sweep the whole contract through the driver's
    own gate.  Round-5 front: 48 never-driver-certified queries
    (compositions first: curate_corpus, packed_batches, image_dedup,
    caption_align, ...), then the never-certified remainder, then the
    65 queries certified in rounds 1-4.  Parity for EVERY entry
    (ordered or not) is independently enforced by
    tests/test_oracle_parity.py.
    """
    return {
        # --- sentinels (long-green canaries)
        "flagship_extract": q_flagship_extract,
        "pdf_extract": q_pdf_extract,
        # --- round-5 certification front: never driver-certified
        "ocr_decode": q_ocr_decode,
        "lang_id_cyrillic": q_lang_id_cyrillic,
        "lang_confusion_script": q_lang_confusion_script,
        "stream_extract_parity": q_stream_extract_parity,
        "stream_sessionize": q_stream_sessionize,
        "curate_corpus": q_curate_corpus,
        "packed_batches": q_packed_batches,
        "image_dedup": q_image_dedup,
        "caption_align": q_caption_align,
        "pagerank": q_pagerank,
        "bm25": q_bm25,
        "asof_join": q_asof_join,
        "record_linkage": q_record_linkage,
        "audio_segments": q_audio_segments,
        "winnow_pairs": q_winnow_pairs,
        "bitext_mine": q_bitext_mine,
        "bitext_mine_exact": q_bitext_mine_exact,
        "bloom_dedup": q_bloom_dedup,
        "range_join": q_range_join,
        "warc_extract": q_warc_extract,
        "wet_export": q_wet_export,
        "jsonl_ingest": q_jsonl_ingest,
        "trust_rank": q_trust_rank,
        "hits": q_hits,
        "kcore": q_kcore,
        "label_propagation": q_label_propagation,
        "triangle_count": q_triangle_count,
        "cdx_index": q_cdx_index,
        "outlinks": q_outlinks,
        "anchor_agg": q_anchor_agg,
        "postings": q_postings,
        "posting_deltas": q_posting_deltas,
        "snippets": q_snippets,
        "hybrid_rerank": q_hybrid_rerank,
        "rrf_fusion": q_rrf_fusion,
        "retrieval_eval": q_retrieval_eval,
        "gazetteer": q_gazetteer,
        "entity_graph": q_entity_graph,
        "subword_vocab": q_subword_vocab,
        "subword_segment": q_subword_segment,
        "bpe_encode": q_bpe_encode,
        "kn_bigram_lm": q_kn_bigram_lm,
        "cross_ppl": q_cross_ppl,
        "min_k_prob": q_min_k_prob,
        "good_turing": q_good_turing,
        "heaps_fit": q_heaps_fit,
        "term_dispersion": q_term_dispersion,
        "stylometry": q_stylometry,
        "texttiling": q_texttiling,
        "table_extract": q_table_extract,
        "html_markdown": q_html_markdown,
        "k_anonymity": q_k_anonymity,
        "hll_count": q_hll_count,
        # --- never driver-certified remainder (next rotation)
        "search_keys": q_search_keys,
        "chunk_text": q_chunk_text,
        "chunk_tokens": q_chunk_tokens,
        "sections": q_sections,
        "collocations": q_collocations,
        "bpe_pairs": q_bpe_pairs,
        "bigram_lm": q_bigram_lm,
        "readability": q_readability,
        "unicode_clean": q_unicode_clean,
        "corpus_stats": q_corpus_stats,
        "crawl_delta": q_crawl_delta,
        "index_delta": q_index_delta,
        "capture_history": q_capture_history,
        "search_results": q_search_results,
        "doc_attributes": q_doc_attributes,
        "sentences": q_sentences,
        "domain_quality": q_domain_quality,
        "wat_export": q_wat_export,
        "sitemap": q_sitemap,
        "feed": q_feed,
        "incremental_extract": q_incremental_extract,
        "canonical_collapse": q_canonical_collapse,
        "weighted_sample": q_weighted_sample,
        "epoch_shuffle": q_epoch_shuffle,
        "epoch_mix": q_epoch_mix,
        "dsir_select": q_dsir_select,
        "data_split": q_data_split,
        "length_buckets": q_length_buckets,
        "skipgram_pairs": q_skipgram_pairs,
        "shard_plan": q_shard_plan,
        "shard_manifest": q_shard_manifest,
        "url_normalize": q_url_normalize,
        "domain_topk": q_domain_topk,
        "url_blocklist": q_url_blocklist,
        "url_templates": q_url_templates,
        "crawl_schedule": q_crawl_schedule,
        "crawl_delay": q_crawl_delay,
        "robots_filter": q_robots_filter,
        "zorder_layout": q_zorder_layout,
        "k_suppress": q_k_suppress,
        "redirect_resolve": q_redirect_resolve,
        "microdata": q_microdata,
        "rel_links": q_rel_links,
        "hreflang_clusters": q_hreflang_clusters,
        "publish_date": q_publish_date,
        "social_cards": q_social_cards,
        "amp_collapse": q_amp_collapse,
        "rake_keyphrases": q_rake_keyphrases,
        "cocitation": q_cocitation,
        "meta_robots": q_meta_robots,
        "link_depth": q_link_depth,
        "scholarly_ids": q_scholarly_ids,
        "id_linkage": q_id_linkage,
        "measurements": q_measurements,
        "triplets": q_triplets,
        "cloze_qa": q_cloze_qa,
        "entity_contexts": q_entity_contexts,
        "code_switch": q_code_switch,
        "license": q_license,
        "table_records": q_table_records,
        "section_qa": q_section_qa,
        "anchor_classify": q_anchor_classify,
        "compressibility": q_compressibility,
        "article_stitch": q_article_stitch,
        "redirect_graph": q_redirect_graph,
        "lang_mismatch": q_lang_mismatch,
        "pdf_text_fix": q_pdf_text_fix,
        "host_lang_entropy": q_host_lang_entropy,
        "format_signals": q_format_signals,
        "jl_project": q_jl_project,
        "reciprocal_links": q_reciprocal_links,
        "graph_components": q_graph_components,
        "graph_prior": q_graph_prior,
        "exif": q_exif,
        "png_decode": q_png_decode,
        "image_ahash": q_image_ahash,
        "ahash_near_dup": q_ahash_near_dup,
        "image_dhash": q_image_dhash,
        "png_palette": q_png_palette,
        "gif_structure": q_gif_structure,
        "content_type": q_content_type,
        "fim_transform": q_fim_transform,
        "span_corrupt": q_span_corrupt,
        "label_centroids": q_label_centroids,
        "feature_hash": q_feature_hash,
        "hash_retrieval": q_hash_retrieval,
        "centroid_outliers": q_centroid_outliers,
        "quality_calibration": q_quality_calibration,
        "code_corpus": q_code_corpus,
        "srt_cues": q_srt_cues,
        "markdown_strip": q_markdown_strip,
        "dist_drift": q_dist_drift,
        "ks_drift": q_ks_drift,
        "audio_decode": q_audio_decode,
        "trailing_window": q_trailing_window,
        "daily_events": q_daily_events,
        "length_outliers": q_length_outliers,
        "soft404": q_soft404,
        "entropy": q_entropy,
        "http_dates": q_http_dates,
        "interval_union": q_interval_union,
        "funnel": q_funnel,
        "retention": q_retention,
        "percentiles": q_percentiles,
        "rollup_metrics": q_rollup_metrics,
        "pivot_tokens": q_pivot_tokens,
        "melt_tokens": q_melt_tokens,
        "word_blocklist": q_word_blocklist,
        "template_strip": q_template_strip,
        "para_dedup": q_para_dedup,
        "cms_topk": q_cms_topk,
        "charset_detect": q_charset_detect,
        "domain_split": q_domain_split,
        "revisit_policy": q_revisit_policy,
        "model_score": q_model_score,
        "zipf_fit": q_zipf_fit,
        "oov_rate": q_oov_rate,
        "http_headers": q_http_headers,
        "robots_sitemaps": q_robots_sitemaps,
        "orders_above_avg": q_orders_above_avg,
        # --- driver-certified in rounds 1-4
        "pdf_layout": q_pdf_layout,
        "html_meta": q_html_meta,
        "jsonld": q_jsonld,
        "profile_extract": q_profile_extract,
        "extract_metrics": q_extract_metrics,
        "dedup_exact": q_dedup_exact,
        "line_dedup": q_line_dedup,
        "substr_dedup": q_substr_dedup,
        "dedup_keep_latest": q_dedup_keep_latest,
        "minhash_lsh_pairs": q_minhash_lsh_pairs,
        "edit_verify": q_edit_verify,
        "cross_dedup": q_cross_dedup,
        "snapshot_update": q_snapshot_update,
        "cdc_chunks": q_cdc_chunks,
        "ngram_jaccard": q_ngram_jaccard,
        "containment": q_containment,
        "tfidf_near_dup": q_tfidf_near_dup,
        "lsh_jaccard": q_lsh_jaccard,
        "dedup_clusters": q_dedup_clusters,
        "cluster_split": q_cluster_split,
        "split_leakage": q_split_leakage,
        "cluster_best": q_cluster_best,
        "simhash_near_dup": q_simhash_near_dup,
        "embed_near_dup": q_embed_near_dup,
        "embed_near_dup_lsh": q_embed_near_dup_lsh,
        "span_qa": q_span_qa,
        "cosine_topk": q_cosine_topk,
        "ann_topk": q_ann_topk,
        "ann_topk_ivf": q_ann_topk_ivf,
        "ann_recall": q_ann_recall,
        "ivf_recall": q_ivf_recall,
        "ann_topk_ivfpq": q_ann_topk_ivfpq,
        "semantic_dedup": q_semantic_dedup,
        "pq_encode": q_pq_encode,
        "pq_error": q_pq_error,
        "text_stats": q_text_stats,
        "repetition_stats": q_repetition_stats,
        "quality_filter": q_quality_filter,
        "lm_score": q_lm_score,
        "tfidf": q_tfidf,
        "ccnet_buckets": q_ccnet_buckets,
        "pii_scrub": q_pii_scrub,
        "mojibake_fix": q_mojibake_fix,
        "lang_id": q_lang_id,
        "lang_confusion": q_lang_confusion,
        "lang_id_cjk": q_lang_id_cjk,
        "fingerprint": q_fingerprint,
        "winnowing": q_winnowing,
        "token_count": q_token_count,
        "stratified_sample": q_stratified_sample,
        "token_budget_mix": q_token_budget_mix,
        "pack_sequences": q_pack_sequences,
        "decontaminate": q_decontaminate,
        "media_decode": q_media_decode,
        "frame_sample": q_frame_sample,
        "pricing_summary": q_pricing_summary,
        "top_customers": q_top_customers,
        "regional_revenue": q_regional_revenue,
        "customers_no_orders": q_customers_no_orders,
        "setop_except": q_setop_except,
        "json_extract": q_json_extract,
        "running_window": q_events_sessionless_window,
        "sessionize": q_sessionize,
    }


def _winnow_defaults() -> tuple[int, int, int, int]:
    """(k, w, max_df, min_shared) read off the ENGINE signatures —
    ``with_winnow_fingerprints`` (k, w) and ``winnow_pairs``
    (max_df, min_shared) — so the oracle constants below track the
    engine defaults instead of being re-stated literals.  The
    q_winnowing / q_winnow_pairs call sites pass no overrides."""
    import inspect

    from ocr_spark.functions.text import with_winnow_fingerprints
    from ocr_spark.operators.dedup import winnow_pairs as _wp

    sig_f = inspect.signature(with_winnow_fingerprints).parameters
    sig_p = inspect.signature(_wp).parameters
    return (sig_f["k"].default, sig_f["w"].default,
            sig_p["max_df"].default, sig_p["min_shared"].default)


_WINNOW_K, _WINNOW_W, _WINNOW_MAX_DF, _WINNOW_MIN_SHARED = \
    _winnow_defaults()


def _winnow_sel_sql(toks: str) -> str:
    """Shared DuckDB CTE chain deriving the winnowing (doc_id, pos, h)
    selection over ``documents`` (mirrors text.with_winnow_fingerprints
    at its defaults) — terminal CTE ``wfp``.  Used by both the
    winnowing and winnow_pairs oracles so the selection arithmetic
    exists once.  The shingle-build and window-slice literals below
    are spelled for k=3 / w=4; the assert fails loudly if the engine
    defaults ever drift from what this SQL encodes."""
    assert (_WINNOW_K, _WINNOW_W) == (3, 4), (
        "engine winnow defaults changed; update _winnow_sel_sql "
        f"literals (k={_WINNOW_K}, w={_WINNOW_W})")
    return f"""
          tok AS (
            SELECT doc_id, text,
              CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                   ELSE {toks} END AS tl
            FROM documents),
          g AS (
            SELECT doc_id,
              CASE WHEN len(tl) >= 3 THEN
                     list_transform(range(1, len(tl) - 1),
                       i -> tl[i] || ' ' || tl[i+1] || ' ' || tl[i+2])
                   WHEN len(trim(text)) > 0
                     THEN [array_to_string(tl, ' ')]
                   ELSE CAST([] AS VARCHAR[]) END AS sh
            FROM tok),
          h AS (
            SELECT doc_id,
              list_transform(sh,
                s -> ('0x' || substr(md5(s), 1, 15))::BIGINT) AS hs
            FROM g),
          sel AS (
            SELECT doc_id, list_transform(
              range(1, greatest(1, len(hs) - 3) + 1),
              i -> {{'pos': CAST(i + len(hs[i:i+3])
                      - list_position(list_reverse(hs[i:i+3]),
                                      list_min(hs[i:i+3])) AS INT),
                    'h': list_min(hs[i:i+3])}}) AS fps
            FROM h WHERE len(hs) > 0),
          wfp AS (
            SELECT DISTINCT doc_id, f['pos'] AS pos, f['h'] AS h
            FROM (SELECT doc_id, unnest(fps) AS f FROM sel))"""


def _shingles_sql_k(k: int) -> str:
    """DuckDB k-word shingle fragment over a pre-materialized ``toksl``
    token-list column + ``text`` — the general-k form of the k=3
    fragment in oracle_sql(), matching functions.text.word_shingles
    (distinct; whole-doc shingle for docs shorter than k words)."""
    joined = " || ' ' || ".join(f"toksl[i+{j}]" if j else "toksl[i]"
                                for j in range(k))
    return (
        f"list_distinct(CASE WHEN len(toksl) >= {k} THEN "
        f"list_transform(range(1, len(toksl) - {k - 2}), i -> {joined}) "
        "WHEN len(trim(text)) > 0 THEN [array_to_string(toksl, ' ')] "
        "ELSE [] END)"
    )


def _mix_threshold_cases() -> str:
    from ocr_spark.operators.corpus import sample_thresholds

    return " ".join(
        f"WHEN '{s}' THEN {t}"
        for s, t in sorted(sample_thresholds(MIX_FRACTIONS).items())
    )


def _mix_budget_sources() -> str:
    return ", ".join(f"'{s}'" for s in sorted(MIX_BUDGETS))


def _epoch_cases() -> tuple[str, str]:
    from ocr_spark.operators.corpus import epoch_weights

    spec = sorted(epoch_weights(EPOCH_WEIGHTS).items())
    base = " ".join(f"WHEN '{s}' THEN {b}" for s, (b, _) in spec)
    thr = " ".join(f"WHEN '{s}' THEN {t}" for s, (_, t) in spec)
    return base, thr


def _mix_budget_cases() -> str:
    return " ".join(
        f"WHEN '{s}' THEN {b}" for s, b in sorted(MIX_BUDGETS.items())
    )


def _jl_project_sql(out_dim: int = 8, dim: int = 64, seed: int = 7) -> str:
    """DuckDB twin of jl_project: one UNION ALL branch per output
    component, list_dot_product over the identical rational-literal
    Gaussian rows (same left-to-right double accumulation)."""
    from ocr_spark.operators.similarity import _hyperplanes

    rows = _hyperplanes(dim, out_dim, seed)
    branches = []
    for j, row in enumerate(rows):
        arr = "[" + ", ".join(repr(x) for x in row) + "]"
        branches.append(
            f"SELECT vec_id, {j} AS dim_idx, "
            f"round(list_dot_product(embedding::DOUBLE[], {arr}), 9) "
            f"AS value FROM embeddings"
        )
    return ("\n          UNION ALL\n          ".join(branches)
            + "\n          ORDER BY vec_id, dim_idx")


def _lsh_bucket_sql(n_planes: int, dim: int = 64) -> str:
    """DuckDB expression for the engine's LSH bucket id: identical
    rational hyperplane literals (similarity._hyperplanes) -> identical
    sign pattern -> identical bucket."""
    from ocr_spark.operators.similarity import _hyperplanes

    terms = []
    for i, plane in enumerate(_hyperplanes(dim, n_planes, seed=42)):
        arr = "[" + ", ".join(repr(x) for x in plane) + "]"
        terms.append(
            f"(CASE WHEN list_dot_product(embedding::DOUBLE[], {arr}) >= 0 "
            f"THEN {1 << i} ELSE 0 END)"
        )
    return " + ".join(terms)


def _embed_near_dup_lsh_sql() -> str:
    cos = (
        "list_dot_product(l.emb, r.emb) / "
        "(sqrt(list_dot_product(l.emb, l.emb)) * "
        "sqrt(list_dot_product(r.emb, r.emb)))"
    )
    return f"""
      WITH b AS (
        SELECT vec_id, embedding::DOUBLE[] AS emb,
               {_lsh_bucket_sql(n_planes=4)} AS bucket
        FROM embeddings)
      SELECT l.vec_id AS id_a, r.vec_id AS id_b,
             round({cos}, 6) AS cos_sim
      FROM b l JOIN b r ON l.bucket = r.bucket AND l.vec_id < r.vec_id
      WHERE round({cos}, 6) >= {EMBED_LSH_THRESHOLD}
    """


def _triplets_sql(t_pos: float = 0.3, t_neg: float = 0.0) -> str:
    cos = (
        "list_dot_product(l.emb, r.emb) / "
        "(sqrt(list_dot_product(l.emb, l.emb)) * "
        "sqrt(list_dot_product(r.emb, r.emb)))"
    )
    return f"""
      WITH b AS (
        SELECT vec_id, embedding::DOUBLE[] AS emb,
               {_lsh_bucket_sql(n_planes=4)} AS bucket
        FROM embeddings),
      sims AS (
        SELECT l.vec_id AS anchor, r.vec_id AS o, round({cos}, 6) AS s
        FROM b l JOIN b r
        ON l.bucket = r.bucket AND l.vec_id <> r.vec_id),
      pos AS (
        SELECT anchor, o, s, row_number() OVER (
          PARTITION BY anchor ORDER BY s DESC, o) AS rn
        FROM sims WHERE s >= {t_pos}),
      neg AS (
        SELECT anchor, o, s, row_number() OVER (
          PARTITION BY anchor ORDER BY s DESC, o) AS rn
        FROM sims WHERE s <= {t_neg})
      SELECT p.anchor, p.o AS positive, p.s AS pos_sim,
             n.o AS negative, n.s AS neg_sim
      FROM pos p JOIN neg n ON p.anchor = n.anchor
      WHERE p.rn = 1 AND n.rn = 1
      ORDER BY p.anchor
    """


def _hybrid_rerank_sql(k_candidates: int = 50, k: int = 10) -> str:
    from ocr_spark.operators.similarity import _hyperplanes

    qv = _hyperplanes(64, 1, seed=99)[0]
    lit = "[" + ", ".join(repr(float(x)) for x in qv) + "]::DOUBLE[]"
    toks = "string_split_regex(trim(text), '\\s+')"
    terms = ", ".join(f"'{t}'" for t in BM25_QUERY)
    tf_cols = ", ".join(
        f"sum(CASE WHEN term = '{t}' THEN 1 ELSE 0 END) AS tf_{i}"
        for i, t in enumerate(BM25_QUERY))
    df_cols = ", ".join(
        f"(SELECT count(DISTINCT CASE WHEN term = '{t}' "
        f"THEN doc_id END) FROM ex) AS df_{i}"
        for i, t in enumerate(BM25_QUERY))
    score = " ".join(
        f"+ ln((n_docs - df_{i} + 0.5) / (df_{i} + 0.5) + 1)"
        f" * (CAST(tf_{i} AS DOUBLE) * 2.2"
        f" / (CAST(tf_{i} AS DOUBLE)"
        f" + 1.2 * (0.25 + 0.75 * l.dl / avgdl)))"
        for i in range(len(BM25_QUERY)))
    return f"""
      WITH tok AS (
        SELECT doc_id,
          CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
               ELSE {toks} END AS tl
        FROM documents),
      lens AS (SELECT doc_id, len(tl) AS dl FROM tok),
      ex AS (
        SELECT doc_id, t AS term
        FROM (SELECT doc_id, unnest(tl) AS t FROM tok)
        WHERE t IN ({terms})),
      tfs AS (SELECT doc_id, {tf_cols} FROM ex GROUP BY doc_id),
      st AS (
        SELECT (SELECT count(*) FROM lens) AS n_docs,
               (SELECT avg(dl) FROM lens) AS avgdl, {df_cols}),
      cands AS (
        SELECT l.doc_id, round(0.0 {score}, 6) AS score
        FROM lens l JOIN tfs USING (doc_id), st
        ORDER BY score DESC, l.doc_id LIMIT {k_candidates}),
      scored AS (
        SELECT e.vec_id AS doc_id, c.score AS bm25_score,
               round(list_dot_product(e.emb, {lit}) /
                     (sqrt(list_dot_product(e.emb, e.emb)) *
                      sqrt(list_dot_product({lit}, {lit}))), 6)
                 AS cos_sim
        FROM (SELECT vec_id, embedding::DOUBLE[] AS emb
              FROM embeddings) e
        JOIN cands c ON c.doc_id = e.vec_id)
      SELECT doc_id, bm25_score, cos_sim,
             CAST(row_number() OVER (
               ORDER BY cos_sim DESC, doc_id) AS INT) AS rank
      FROM scored QUALIFY rank <= {k}
      ORDER BY rank
    """


def _kcore_sql(k: int = 4, rounds: int = 12) -> str:
    """The peel loop unrolled as chained CTE rounds (same trick as
    the pagerank oracle): degree aggregate -> keep set -> restricted
    edge list, exactly ``rounds`` times."""
    parts = ["""
      WITH m AS (SELECT count(*) AS mm FROM documents),
      raw AS (
        SELECT doc_id AS u, (doc_id + 1) % mm AS v FROM documents, m
        UNION ALL
        SELECT doc_id, (doc_id + j.j) % 50
        FROM documents, (VALUES (1), (2), (3)) j(j)
        WHERE doc_id < 50
        UNION ALL
        SELECT doc_id, 50 + (doc_id - 50 + j.j) % 50
        FROM documents, (VALUES (1), (2)) j(j)
        WHERE doc_id >= 50 AND doc_id < 100),
      e0 AS MATERIALIZED (
        SELECT DISTINCT u, v FROM (
          SELECT u, v FROM raw WHERE u <> v
          UNION ALL
          SELECT v, u FROM raw WHERE u <> v))"""]
    # MATERIALIZED is load-bearing: DuckDB inlines plain CTEs, and
    # each round references the previous one three times -> 3^rounds
    # scan expansion without it (observed as fd exhaustion)
    for r in range(1, rounds + 1):
        parts.append(f"""
      keep{r} AS MATERIALIZED (SELECT u FROM e{r - 1}
                  GROUP BY u HAVING count(*) >= {k}),
      e{r} AS MATERIALIZED (SELECT a.u, a.v FROM e{r - 1} a
               JOIN keep{r} x ON a.u = x.u
               JOIN keep{r} y ON a.v = y.u)""")
    parts.append(f"""
      SELECT u AS node, CAST(count(*) AS BIGINT) AS degree
      FROM e{rounds} GROUP BY u ORDER BY node""")
    return ",".join(parts[:1] + parts[1:-1]) + parts[-1]


def _lsh_margins_sql(n_planes: int, dim: int = 64) -> str:
    """DuckDB list literal of the query's per-plane margins — the same
    rational hyperplane literals (and order) as _lsh_bucket_sql."""
    from ocr_spark.operators.similarity import _hyperplanes

    els = []
    for plane in _hyperplanes(dim, n_planes, seed=42):
        arr = "[" + ", ".join(repr(x) for x in plane) + "]"
        els.append(f"list_dot_product(emb, {arr})")
    return "[" + ", ".join(els) + "]"


def _ann_topk_sql() -> str:
    """DuckDB twin of q_ann_topk at multi_probe=1: the probe set is the
    exact bucket plus the 1-bit flip of the smallest-|margin| plane
    (margins ranked at round-6, ties by plane index — the engine ranks
    the identical rational values).  A corpus vector lives in exactly
    one bucket, so the two probed buckets cannot yield duplicate
    (query, neighbor) rows — no dedup step needed on either side."""
    cos = (
        "list_dot_product(q.emb, c.emb) / "
        "(sqrt(list_dot_product(q.emb, q.emb)) * "
        "sqrt(list_dot_product(c.emb, c.emb)))"
    )
    n_planes = 6
    return f"""
      WITH b AS (
        SELECT vec_id, embedding::DOUBLE[] AS emb,
               {_lsh_bucket_sql(n_planes=n_planes)} AS bucket
        FROM embeddings),
      qm AS (
        SELECT vec_id, emb, bucket,
               list_sort(list_transform(range(0, {n_planes}),
                 i -> {{'a': round(abs(({_lsh_margins_sql(n_planes)})[i+1]), 6),
                        'i': i}}))[1].i AS flip
        FROM b WHERE vec_id < 8),
      probes AS (
        SELECT vec_id, emb,
               unnest([bucket, xor(bucket, 1 << flip)]) AS bucket
        FROM qm),
      scored AS (
        SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id, {cos} AS cos_sim
        FROM probes q JOIN b c ON q.bucket = c.bucket AND q.vec_id != c.vec_id),
      ranked AS (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY round(cos_sim, 6) DESC, neighbor_id ASC) AS rank
        FROM scored)
      SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5
    """


def _bitext_lsh_sql(n_planes: int = 6, k: int = 4,
                    threshold: float = 1.10) -> str:
    """DuckDB twin of q_bitext_mine at kernel='lsh', multi_probe=1:
    both directions' candidate sets are re-derived from the same
    rational hyperplane literals (exact bucket + smallest-|margin|
    1-bit flip on the query side; corpus side exact bucket only, so
    no duplicate pairs), ranked on round-6 cosines with the engine's
    (cos desc, id asc) tie-break, cut at k, then the identical
    neighborhood-mean / mutual-best / round-5 margin algebra as the
    exact-kernel oracle."""
    bucket = _lsh_bucket_sql(n_planes=n_planes)
    flip = (f"list_sort(list_transform(range(0, {n_planes}), "
            f"i -> {{'a': round(abs(({_lsh_margins_sql(n_planes)})[i+1]), 6),"
            f" 'i': i}}))[1].i")
    cos = ("list_dot_product(q.emb, c.emb) / "
           "(sqrt(list_dot_product(q.emb, q.emb)) * "
           "sqrt(list_dot_product(c.emb, c.emb)))")
    return f"""
      WITH b AS (
        SELECT vec_id, embedding::DOUBLE[] AS emb, {bucket} AS bucket
        FROM embeddings),
      s AS (SELECT * FROM b WHERE vec_id % 2 = 0),
      t AS (SELECT * FROM b WHERE vec_id % 2 = 1),
      sp AS (
        SELECT vec_id, emb,
               unnest([bucket, xor(bucket, 1 << flip)]) AS bucket
        FROM (SELECT vec_id, emb, bucket, {flip} AS flip FROM s)),
      tp AS (
        SELECT vec_id, emb,
               unnest([bucket, xor(bucket, 1 << flip)]) AS bucket
        FROM (SELECT vec_id, emb, bucket, {flip} AS flip FROM t)),
      fr AS (
        SELECT x, y, cos, row_number() OVER (
                 PARTITION BY x ORDER BY cos DESC, y ASC) AS r
        FROM (SELECT q.vec_id AS x, c.vec_id AS y, round({cos}, 6) AS cos
              FROM sp q JOIN t c ON q.bucket = c.bucket)),
      br AS (
        SELECT x, y, cos, row_number() OVER (
                 PARTITION BY y ORDER BY cos DESC, x ASC) AS r
        FROM (SELECT q.vec_id AS y, c.vec_id AS x, round({cos}, 6) AS cos
              FROM tp q JOIN s c ON q.bucket = c.bucket)),
      fk AS (SELECT * FROM fr WHERE r <= {k}),
      bk AS (SELECT * FROM br WHERE r <= {k}),
      fm AS (SELECT x, avg(cos) AS m FROM fk GROUP BY x),
      bm AS (SELECT y, avg(cos) AS m FROM bk GROUP BY y),
      mutual AS (
        SELECT f.x, f.y, f.cos FROM fk f
        JOIN bk b2 ON f.x = b2.x AND f.y = b2.y
        WHERE f.r = 1 AND b2.r = 1),
      mg AS (
        SELECT m.x AS src_id, m.y AS tgt_id, m.cos AS cos_sim,
               round(m.cos / ((fm.m + bm.m) / 2), 5) AS margin
        FROM mutual m JOIN fm ON fm.x = m.x JOIN bm ON bm.y = m.y)
      SELECT src_id, tgt_id, cos_sim, margin FROM mg
      WHERE margin >= {threshold} ORDER BY src_id
    """


def _ann_topk_ivf_sql() -> str:
    """DuckDB twin of q_ann_topk_ivf: identical rational centroid
    literals -> identical affinity order (round-6 dot desc, centroid id
    asc) -> identical assignment (rn=1) and probe set (rn<=2)."""
    from ocr_spark.operators.similarity import ivf_centroids

    rows = ", ".join(
        "(%d, [%s]::DOUBLE[])" % (cid, ", ".join(repr(x) for x in cvec))
        for cid, cvec in enumerate(ivf_centroids(dim=64, n_centroids=8, seed=7))
    )
    cos = (
        "list_dot_product(q.emb, a.emb) / "
        "(sqrt(list_dot_product(q.emb, q.emb)) * "
        "sqrt(list_dot_product(a.emb, a.emb)))"
    )
    return f"""
      WITH c(cid, cvec) AS (VALUES {rows}),
      e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      aff AS (
        SELECT e.vec_id, e.emb, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY round(list_dot_product(e.emb, c.cvec), 6) DESC,
                          c.cid ASC) AS rn
        FROM e CROSS JOIN c),
      assign AS (SELECT vec_id, emb, cid FROM aff WHERE rn = 1),
      probes AS (SELECT vec_id, emb, cid FROM aff
                 WHERE rn <= 2 AND vec_id < 8),
      scored AS (
        SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id,
               {cos} AS cos_sim
        FROM probes q JOIN assign a
          ON q.cid = a.cid AND q.vec_id != a.vec_id),
      ranked AS (
        SELECT query_id, neighbor_id,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY round(cos_sim, 6) DESC, neighbor_id ASC) AS rank
        FROM scored)
      SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5
    """


def _semantic_dedup_sql() -> str:
    """DuckDB twin of q_semantic_dedup: identical rational centroid
    literals -> identical assignment (rn=1) and round-6 cent_sim; the
    keep rule is the same (cent_sim, id)-domination join over same-list
    round-6-cosine >= threshold pairs."""
    from ocr_spark.operators.similarity import ivf_centroids

    rows = ", ".join(
        "(%d, [%s]::DOUBLE[])" % (cid, ", ".join(repr(x) for x in cvec))
        for cid, cvec in enumerate(ivf_centroids(dim=64, n_centroids=8, seed=7))
    )
    cos = (
        "list_dot_product(a.emb, b.emb) / "
        "(sqrt(list_dot_product(a.emb, a.emb)) * "
        "sqrt(list_dot_product(b.emb, b.emb)))"
    )
    return f"""
      WITH c(cid, cvec) AS (VALUES {rows}),
      e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      aff AS (
        SELECT e.vec_id, e.emb, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY round(list_dot_product(e.emb, c.cvec), 6) DESC,
                          c.cid ASC) AS rn
        FROM e CROSS JOIN c),
      assign AS (
        SELECT a.vec_id, a.emb, a.cid,
               round(list_dot_product(a.emb, c.cvec)
                 / sqrt(list_dot_product(a.emb, a.emb)), 6) AS cent_sim
        FROM aff a JOIN c ON a.cid = c.cid WHERE a.rn = 1),
      dom AS (
        SELECT DISTINCT b.vec_id
        FROM assign a JOIN assign b
          ON a.cid = b.cid AND a.vec_id != b.vec_id
        WHERE round({cos}, 6) >= {SEMDEDUP_THRESHOLD}
          AND (a.cent_sim < b.cent_sim
               OR (a.cent_sim = b.cent_sim AND a.vec_id < b.vec_id)))
      SELECT s.vec_id, CAST(s.cid AS INTEGER) AS ivf_list, s.cent_sim,
             (d.vec_id IS NULL) AS kept
      FROM assign s LEFT JOIN dom d ON s.vec_id = d.vec_id
    """


def _pq_encode_sql() -> str:
    """DuckDB twin of q_pq_encode: the identical rational codebook
    literals as a (subspace, centroid, vector) VALUES table, squared-L2
    by an in-order list_sum fold (same accumulation order as the
    engine's aggregate at round-6), argmin via row_number, codes
    pivoted back to one column per subspace."""
    from ocr_spark.operators.similarity import pq_codebooks

    books = pq_codebooks(dim=64, m=8, k=8, seed=13)
    sub = 64 // len(books)
    rows = ", ".join(
        "(%d, %d, [%s]::DOUBLE[])"
        % (j, cid, ", ".join(repr(x) for x in cvec))
        for j, book in enumerate(books)
        for cid, cvec in enumerate(book)
    )
    dist = (f"list_sum(list_transform(range(1, {sub + 1}), i -> "
            f"(e.emb[c.j * {sub} + i] - c.cvec[i]) "
            f"* (e.emb[c.j * {sub} + i] - c.cvec[i])))")
    pivots = ", ".join(
        f"CAST(max(CASE WHEN j = {j} THEN cid END) AS INT) AS code_{j}"
        for j in range(len(books))
    )
    return f"""
      WITH cb(j, cid, cvec) AS (VALUES {rows}),
      e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      scored AS (
        SELECT e.vec_id, c.j, c.cid,
               row_number() OVER (PARTITION BY e.vec_id, c.j
                 ORDER BY round({dist}, 6) ASC, c.cid ASC) AS rn
        FROM e CROSS JOIN cb c)
      SELECT vec_id, {pivots}
      FROM scored WHERE rn = 1 GROUP BY vec_id
    """


def _ann_topk_ivfpq_sql() -> str:
    """DuckDB twin of q_ann_topk_ivfpq: IVF assignment/probing from the
    rational centroid literals (as _ann_topk_ivf_sql), PQ codes from
    the rational codebook literals (as _pq_encode_sql), per-query LUT
    distances by the same in-order round-6 fold, and the ADC total as
    an EXPLICIT d0+d1+...+d7 expression (not a SQL aggregate) so the
    outer addition order matches the engine's sequential j-fold."""
    from ocr_spark.operators.similarity import ivf_centroids, pq_codebooks

    cents = ", ".join(
        "(%d, [%s]::DOUBLE[])" % (cid, ", ".join(repr(x) for x in cvec))
        for cid, cvec in enumerate(ivf_centroids(dim=64, n_centroids=8, seed=7))
    )
    books = pq_codebooks(dim=64, m=8, k=8, seed=13)
    m = len(books)
    sub = 64 // m
    cbrows = ", ".join(
        "(%d, %d, [%s]::DOUBLE[])"
        % (j, cid, ", ".join(repr(x) for x in cvec))
        for j, book in enumerate(books)
        for cid, cvec in enumerate(book)
    )

    def dist(emb: str) -> str:
        return (f"list_sum(list_transform(range(1, {sub + 1}), i -> "
                f"({emb}[b.j * {sub} + i] - b.cbvec[i]) "
                f"* ({emb}[b.j * {sub} + i] - b.cbvec[i])))")

    wides = ", ".join(
        f"max(CASE WHEN j = {j} THEN d END) AS d{j}" for j in range(m))
    adc_sum = " + ".join(f"d{j}" for j in range(m))
    return f"""
      WITH c(cid, cvec) AS (VALUES {cents}),
      cb(j, ccid, cbvec) AS (VALUES {cbrows}),
      e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      aff AS (
        SELECT e.vec_id, e.emb, c.cid,
               row_number() OVER (PARTITION BY e.vec_id
                 ORDER BY round(list_dot_product(e.emb, c.cvec), 6) DESC,
                          c.cid ASC) AS rn
        FROM e CROSS JOIN c),
      assign AS (SELECT vec_id, cid FROM aff WHERE rn = 1),
      probes AS (SELECT vec_id, cid FROM aff WHERE rn <= 2 AND vec_id < 8),
      pqs AS (
        SELECT e.vec_id, b.j, b.ccid,
               row_number() OVER (PARTITION BY e.vec_id, b.j
                 ORDER BY round({dist('e.emb')}, 6) ASC, b.ccid ASC) AS rn
        FROM e CROSS JOIN cb b),
      codes AS (SELECT vec_id, j, ccid FROM pqs WHERE rn = 1),
      lut AS (
        SELECT q.vec_id AS query_id, b.j, b.ccid,
               round({dist('q.emb')}, 6) AS d
        FROM (SELECT * FROM e WHERE vec_id < 8) q CROSS JOIN cb b),
      cand AS (
        SELECT q.vec_id AS query_id, a.vec_id AS neighbor_id
        FROM probes q JOIN assign a
          ON q.cid = a.cid AND q.vec_id != a.vec_id),
      dj AS (
        SELECT cand.query_id, cand.neighbor_id, co.j, l.d
        FROM cand
        JOIN codes co ON co.vec_id = cand.neighbor_id
        JOIN lut l ON l.query_id = cand.query_id
                  AND l.j = co.j AND l.ccid = co.ccid),
      wide AS (
        SELECT query_id, neighbor_id, {wides}
        FROM dj GROUP BY query_id, neighbor_id),
      adc AS (
        SELECT query_id, neighbor_id,
               round({adc_sum}, 6) AS adc_dist
        FROM wide),
      ranked AS (
        SELECT query_id, neighbor_id, adc_dist,
               row_number() OVER (PARTITION BY query_id
                 ORDER BY adc_dist ASC, neighbor_id ASC) AS rank
        FROM adc)
      SELECT query_id, neighbor_id, adc_dist, rank
      FROM ranked WHERE rank <= 5
    """


def _pq_error_sql() -> str:
    """DuckDB twin of q_pq_error: the chosen code's distance IS the
    per-subspace round-6 minimum, summed in explicit j order (the same
    left-to-right addition as the engine's expression chain)."""
    from ocr_spark.operators.similarity import pq_codebooks

    books = pq_codebooks(dim=64, m=8, k=8, seed=13)
    m = len(books)
    sub = 64 // m
    rows = ", ".join(
        "(%d, %d, [%s]::DOUBLE[])"
        % (j, cid, ", ".join(repr(x) for x in cvec))
        for j, book in enumerate(books)
        for cid, cvec in enumerate(book)
    )
    dist = (f"list_sum(list_transform(range(1, {sub + 1}), i -> "
            f"(e.emb[c.j * {sub} + i] - c.cvec[i]) "
            f"* (e.emb[c.j * {sub} + i] - c.cvec[i])))")
    wides = ", ".join(
        f"max(CASE WHEN j = {j} THEN dj END) AS d{j}" for j in range(m))
    total = " + ".join(f"d{j}" for j in range(m))
    return f"""
      WITH cb(j, cid, cvec) AS (VALUES {rows}),
      e AS (SELECT vec_id, embedding::DOUBLE[] AS emb FROM embeddings),
      d AS (
        SELECT e.vec_id, c.j, round({dist}, 6) AS dd
        FROM e CROSS JOIN cb c),
      mins AS (SELECT vec_id, j, min(dd) AS dj FROM d GROUP BY vec_id, j),
      wide AS (SELECT vec_id, {wides} FROM mins GROUP BY vec_id)
      SELECT vec_id, round({total}, 6) AS sq_err
      FROM wide ORDER BY vec_id
    """


def _script_lang_parts() -> tuple[str, str]:
    """Shared DuckDB fragments for the full with_lang_id classifier:
    (sc_cols, case_expr) where sc_cols computes every script/marker
    count over a ``text`` column and case_expr is the complete
    decision CASE (CJK scripts -> Arabic/Cyrillic/Devanagari with
    sub-script orthography + disjoint-marker discrimination -> latin
    marker argmax -> und).  Script ranges, decisive letter sets, and
    marker lists are imported from the engine so both sides share one
    closed table.  Used by the lang_id_cjk AND lang_id_cyrillic
    oracles — the classifier SQL exists once."""
    from ocr_spark.functions.text import (ARABIC_RANGES, CJK_ALL_RANGES,
                                          CJK_MIN_CHARS, CYRILLIC_MARKERS,
                                          CYRILLIC_RANGES,
                                          DEVANAGARI_MARKERS,
                                          DEVANAGARI_RANGES, FA_ONLY_CHARS,
                                          HAN_RANGES, HANGUL_RANGES,
                                          KANA_RANGES, LANG_MARKERS,
                                          RU_ONLY_CHARS, UK_ONLY_CHARS,
                                          UR_ONLY_CHARS)

    def cnt(ranges: str) -> str:
        return (f"length(text) - length(regexp_replace(text, "
                f"'[{ranges}]', '', 'g'))")

    toks = "string_split_regex(trim(text), '\\s+')"
    marker_counts = ", ".join(
        f"len(list_filter({toks}, t -> list_contains("
        f"{[m for m in LANG_MARKERS[lang]]}, t))) AS c_{lang}"
        for lang in LANG_MARKERS
    )
    subscript_counts = ", ".join(
        f"len(list_filter({toks}, t -> list_contains("
        f"{[m for m in ms]}, t))) AS m_{tag}"
        for tag, ms in [("bg", CYRILLIC_MARKERS["bg"]),
                        ("rum", CYRILLIC_MARKERS["ru"]),
                        ("mr", DEVANAGARI_MARKERS["mr"]),
                        ("him", DEVANAGARI_MARKERS["hi"])]
    )
    sc_cols = f"""
          {cnt(KANA_RANGES)} AS n_kana,
          {cnt(HANGUL_RANGES)} AS n_hangul,
          {cnt(HAN_RANGES)} AS n_han,
          {cnt(ARABIC_RANGES)} AS n_arab,
          {cnt(CYRILLIC_RANGES)} AS n_cyr,
          {cnt(DEVANAGARI_RANGES)} AS n_deva,
          {cnt(CJK_ALL_RANGES)} AS n_cjk,
          {cnt(UK_ONLY_CHARS)} AS n_uk,
          {cnt(UR_ONLY_CHARS)} AS n_ur,
          {cnt(FA_ONLY_CHARS)} AS n_fa,
          {cnt(RU_ONLY_CHARS)} AS n_ruo,
          {marker_counts},
          {subscript_counts}"""
    case_expr = f"""
        CASE WHEN n_kana >= {CJK_MIN_CHARS} THEN 'ja'
             WHEN n_hangul >= {CJK_MIN_CHARS} THEN 'ko'
             WHEN n_han >= {CJK_MIN_CHARS} THEN 'zh'
             WHEN n_arab >= {CJK_MIN_CHARS} THEN
               (CASE WHEN n_ur > 0 THEN 'ur'
                     WHEN n_fa > 0 THEN 'fa' ELSE 'ar' END)
             WHEN n_cyr >= {CJK_MIN_CHARS} THEN
               (CASE WHEN n_uk > 0 THEN 'uk'
                     WHEN n_ruo > 0 THEN 'ru'
                     WHEN m_bg > m_rum THEN 'bg' ELSE 'ru' END)
             WHEN n_deva >= {CJK_MIN_CHARS} THEN
               (CASE WHEN m_mr > m_him THEN 'mr' ELSE 'hi' END)
             WHEN c_en > 0 AND c_en >= c_es AND c_en >= c_de AND c_en >= c_fr THEN 'en'
             WHEN c_es > 0 AND c_es > c_en AND c_es >= c_de AND c_es >= c_fr THEN 'es'
             WHEN c_de > 0 AND c_de > c_en AND c_de > c_es AND c_de >= c_fr THEN 'de'
             WHEN c_fr > 0 AND c_fr > c_en AND c_fr > c_es AND c_fr > c_de THEN 'fr'
             ELSE 'und' END"""
    return sc_cols, case_expr


def _lang_id_cjk_sql() -> str:
    """DuckDB twin of q_lang_id_cjk; classifier fragments shared with
    the lang_id_cyrillic oracle via _script_lang_parts."""
    from ocr_spark.functions.text import CJK_ALL_RANGES

    sc_cols, case_expr = _script_lang_parts()
    non_cjk = f"regexp_replace(text, '[{CJK_ALL_RANGES}]', ' ', 'g')"
    return f"""
      WITH aug AS (
        SELECT doc_id,
          CASE doc_id % 11
            WHEN 0 THEN '{CJK_SENTS['ko']}'
            WHEN 1 THEN '{CJK_SENTS['zh']}'
            WHEN 2 THEN '{CJK_SENTS['ja']}'
            WHEN 3 THEN '{CJK_SENTS['ar']}'
            WHEN 4 THEN '{CJK_SENTS['ru']}'
            WHEN 5 THEN '{CJK_SENTS['hi']}'
            WHEN 6 THEN '{CJK_SENTS['uk']}'
            WHEN 7 THEN '{CJK_SENTS['fa']}'
            WHEN 8 THEN '{CJK_SENTS['ur']}'
            ELSE text END AS text
        FROM documents),
      sc AS (
        SELECT doc_id, text, {sc_cols}
        FROM aug)
      SELECT doc_id,
        {case_expr} AS lang_pred,
        (CASE WHEN len(trim({non_cjk})) = 0 THEN 0
              ELSE len(string_split_regex(trim({non_cjk}), '\\s+')) END
         + n_cjk) AS n_tokens
      FROM sc
    """


def _lang_id_cyrillic_sql() -> str:
    """DuckDB twin of q_lang_id_cyrillic: the identical %7
    sentence/true-lang substitution, then the shared classifier CASE."""
    sc_cols, case_expr = _script_lang_parts()
    return f"""
      WITH aug AS (
        SELECT doc_id,
          CASE doc_id % 7
            WHEN 0 THEN '{SUBSCRIPT_SENTS['ru_ortho']}'
            WHEN 1 THEN '{SUBSCRIPT_SENTS['ru_marker']}'
            WHEN 2 THEN '{SUBSCRIPT_SENTS['bg']}'
            WHEN 3 THEN '{CJK_SENTS['uk']}'
            WHEN 4 THEN '{CJK_SENTS['hi']}'
            WHEN 5 THEN '{SUBSCRIPT_SENTS['mr']}'
            ELSE text END AS text,
          CASE doc_id % 7
            WHEN 0 THEN 'ru' WHEN 1 THEN 'ru' WHEN 2 THEN 'bg'
            WHEN 3 THEN 'uk' WHEN 4 THEN 'hi' WHEN 5 THEN 'mr'
            ELSE lang END AS true_lang
        FROM documents),
      sc AS (
        SELECT doc_id, true_lang, text, {sc_cols}
        FROM aug)
      SELECT doc_id, true_lang,
        {case_expr} AS lang_pred,
        true_lang = ({case_expr}) AS correct
      FROM sc ORDER BY doc_id
    """


def _repetition_frags() -> dict[str, str]:
    """Shared DuckDB fragments for the repetition-signal oracles.
    Semantics must mirror ocr_spark.functions.quality exactly: same
    tokenization, same empty-input guards, same round(...,4)."""
    toks = "string_split_regex(trim(text), '\\s+')"
    lines = "list_filter(str_split(text, chr(10)), x -> len(trim(x)) > 0)"
    return {
        "grams": (
            f"CASE WHEN len(trim(text)) > 0 AND len({toks}) >= 2 THEN "
            f"list_transform(range(1, len({toks})), "
            f"i -> {toks}[i] || ' ' || {toks}[i+1]) "
            f"ELSE [] END"
        ),
        "dup_tok": (
            f"CASE WHEN len(trim(text)) = 0 THEN 0.0 ELSE "
            f"round(1 - len(list_distinct({toks})) / len({toks}), 4) END"
        ),
        # max element frequency via distinct x count — O(distinct*n)
        # per doc, fine at oracle scale; the engine's sorted run-length
        # fold is the scale-path equivalent
        "top_bigram": (
            "CASE WHEN len(g) > 0 THEN round(list_max("
            "list_transform(list_distinct(g), "
            "x -> len(list_filter(g, y -> y = x)))) / len(g), 4) "
            "ELSE 0.0 END"
        ),
        "dup_line": (
            f"CASE WHEN len({lines}) > 0 THEN "
            f"round(1 - len(list_distinct({lines})) / len({lines}), 4) "
            f"ELSE 0.0 END"
        ),
        "toks": toks,
    }


def _repetition_stats_sql() -> str:
    f = _repetition_frags()
    return f"""
      WITH t AS (SELECT doc_id, text, {f['grams']} AS g FROM documents)
      SELECT doc_id,
        {f['dup_tok']} AS dup_token_ratio,
        {f['top_bigram']} AS top_bigram_ratio,
        {f['dup_line']} AS dup_line_ratio
      FROM t
    """


def _quality_filter_sql() -> str:
    """DuckDB twin of quality.with_quality_filter; thresholds imported
    from QUALITY_THRESHOLDS so engine and oracle cannot drift."""
    from ocr_spark.functions.quality import QUALITY_THRESHOLDS as q

    f = _repetition_frags()
    toks = f["toks"]
    compact = "regexp_replace(text, '\\s', '', 'g')"
    avg_len = (f"CASE WHEN len({toks}) > 0 THEN "
               f"round(length({compact}) / len({toks}), 4) ELSE 0.0 END")
    na_ratio = (f"CASE WHEN length({compact}) > 0 THEN "
                f"round(length(regexp_replace({compact}, '[A-Za-z0-9]', '', 'g'))"
                f" / length({compact}), 4) ELSE 0.0 END")
    return f"""
      WITH t AS (SELECT doc_id, text, {f['grams']} AS g FROM documents),
      s AS (
        SELECT doc_id,
          CASE WHEN len(trim(text)) = 0 THEN 0 ELSE len({toks}) END AS n_tokens,
          {avg_len} AS avg_token_len,
          {na_ratio} AS non_alnum_ratio,
          {f['dup_tok']} AS dup_token_ratio,
          {f['top_bigram']} AS top_bigram_ratio,
          {f['dup_line']} AS dup_line_ratio
        FROM t),
      r AS (
        SELECT *,
          CASE WHEN n_tokens < {q['min_tokens']} THEN 'too_short'
               WHEN n_tokens > {q['max_tokens']} THEN 'too_long'
               WHEN avg_token_len < {q['min_avg_token_len']}
                 OR avg_token_len > {q['max_avg_token_len']} THEN 'token_len'
               WHEN non_alnum_ratio > {q['max_non_alnum_ratio']} THEN 'symbol_noise'
               WHEN dup_token_ratio > {q['max_dup_token_ratio']} THEN 'repetitive_tokens'
               WHEN top_bigram_ratio > {q['max_top_bigram_ratio']} THEN 'repetitive_bigrams'
               WHEN dup_line_ratio > {q['max_dup_line_ratio']} THEN 'repetitive_lines'
               ELSE 'ok' END AS drop_reason
        FROM s)
      SELECT doc_id, n_tokens, dup_token_ratio, top_bigram_ratio,
             CASE WHEN drop_reason = 'ok' THEN 1 ELSE 0 END AS keep,
             drop_reason
      FROM r
    """


def _snapshot_update_sql() -> str:
    """DuckDB twin of q_snapshot_update: the snapshot construction
    (twins / reversed / verbatim), the base digest set, union-banded
    affine-MinHash cross pairs, and the quality CASE chained as CTEs
    with the engine's exact_dup > near_dup > quality precedence."""
    from ocr_spark.functions.quality import QUALITY_THRESHOLDS as q
    from ocr_spark.operators.dedup import MINHASH_P, minhash_affine_coeffs

    f = _repetition_frags()
    toks = f["toks"]
    shingles_col = (
        "list_distinct(CASE WHEN len(toksl) >= 3 THEN "
        "list_transform(range(1, len(toksl) - 1), "
        "i -> toksl[i] || ' ' || toksl[i+1] || ' ' || toksl[i+2]) "
        "WHEN len(trim(text)) > 0 THEN [array_to_string(toksl, ' ')] "
        "ELSE [] END)"
    )
    aff_els = ", ".join(
        f"list_min(list_transform(bl, b -> ({a} * b + {c}) % {MINHASH_P}))"
        for a, c in minhash_affine_coeffs(16))
    compact = "regexp_replace(text, '\\s', '', 'g')"
    avg_len = (f"CASE WHEN len({toks}) > 0 THEN "
               f"round(length({compact}) / len({toks}), 4) ELSE 0.0 END")
    na_ratio = (f"CASE WHEN length({compact}) > 0 THEN "
                f"round(length(regexp_replace({compact}, '[A-Za-z0-9]', '', 'g'))"
                f" / length({compact}), 4) ELSE 0.0 END")
    return f"""
      WITH newdocs AS (
        SELECT doc_id + 1000000 AS doc_id,
               ltrim(substring(text, instr(text, ' ') + 1, 10000000)) AS text
        FROM documents
        WHERE instr(ltrim(substring(text, instr(text, ' ') + 1, 10000000)),
                    ' ') > 0
        UNION ALL
        SELECT doc_id + 2000000,
               array_to_string(list_reverse(
                 CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                      ELSE {toks} END), ' ')
        FROM documents
        UNION ALL
        SELECT doc_id + 3000000, text FROM documents WHERE doc_id % 10 = 0
      ),
      dig AS (SELECT DISTINCT md5(text) AS d FROM documents),
      allb AS (
        SELECT doc_id, text FROM documents
        UNION ALL SELECT doc_id, text FROM newdocs),
      tok AS (SELECT doc_id, text, {toks} AS toksl FROM allb),
      sh AS (SELECT doc_id, {shingles_col} AS shl FROM tok),
      bas AS (
        SELECT doc_id,
          list_transform(shl,
            s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % {MINHASH_P}) AS bl
        FROM sh WHERE len(shl) > 0
      ), sigs AS (SELECT doc_id, [{aff_els}] AS sig FROM bas
      ), banded AS (
        SELECT doc_id, b.band,
          array_to_string(list_transform(sig[b.band * 2 + 1 : b.band * 2 + 2],
                          x -> x::VARCHAR), '|') AS band_sig
        FROM sigs, (SELECT unnest(range(0, 8)) AS band) b
      ),
      near AS (
        SELECT DISTINCT l.doc_id
        FROM banded l JOIN banded r
          ON l.band = r.band AND l.band_sig = r.band_sig
        WHERE l.doc_id >= 1000000 AND r.doc_id < 1000000),
      t AS (SELECT doc_id, text, {f['grams']} AS g FROM newdocs),
      s AS (
        SELECT doc_id, md5(text) AS nd,
          CASE WHEN len(trim(text)) = 0 THEN 0 ELSE len({toks}) END AS n_tokens,
          {avg_len} AS avg_token_len,
          {na_ratio} AS non_alnum_ratio,
          {f['dup_tok']} AS dup_token_ratio,
          {f['top_bigram']} AS top_bigram_ratio,
          {f['dup_line']} AS dup_line_ratio
        FROM t),
      r AS (
        SELECT doc_id,
          CASE WHEN nd IN (SELECT d FROM dig) THEN 'exact_dup'
               WHEN doc_id IN (SELECT doc_id FROM near) THEN 'near_dup'
               WHEN n_tokens < {q['min_tokens']} THEN 'too_short'
               WHEN n_tokens > {q['max_tokens']} THEN 'too_long'
               WHEN avg_token_len < {q['min_avg_token_len']}
                 OR avg_token_len > {q['max_avg_token_len']} THEN 'token_len'
               WHEN non_alnum_ratio > {q['max_non_alnum_ratio']}
                 THEN 'symbol_noise'
               WHEN dup_token_ratio > {q['max_dup_token_ratio']}
                 THEN 'repetitive_tokens'
               WHEN top_bigram_ratio > {q['max_top_bigram_ratio']}
                 THEN 'repetitive_bigrams'
               WHEN dup_line_ratio > {q['max_dup_line_ratio']}
                 THEN 'repetitive_lines'
               ELSE 'ok' END AS reason
        FROM s)
      SELECT doc_id, (reason = 'ok') AS accepted, reason
      FROM r ORDER BY doc_id
    """


def _dsir_sql() -> str:
    """DuckDB twin of q_dsir_select: same tokenizer, same 60-bit md5
    bucket hash, same add-1 log-ratio arithmetic, keep decided from the
    identically-rounded weight."""
    toks = "string_split_regex(trim(text), '\\s+')"
    srcs = ", ".join(f"'{s}'" for s in DSIR_TARGET_SOURCES)
    return f"""
      WITH tok AS (
        SELECT doc_id,
               CASE WHEN source IN ({srcs}) THEN 1 ELSE 0 END AS t,
               CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                    ELSE {toks} END AS tl
        FROM documents),
      ex AS (SELECT doc_id, t, unnest(tl) AS tok FROM tok),
      bk AS (
        SELECT doc_id, t,
               ('0x' || substr(md5('dsir|' || tok), 1, 15))::BIGINT % 256 AS b
        FROM ex),
      bc AS (SELECT b, count(*) AS c_raw, sum(t) AS c_tgt FROM bk GROUP BY b),
      tot AS (SELECT CAST(sum(c_raw) AS BIGINT) AS n_raw,
                     CAST(sum(c_tgt) AS BIGINT) AS n_tgt FROM bc),
      lr AS (
        SELECT b,
               ln((c_tgt + 1) / CAST((SELECT n_tgt FROM tot) + 256 AS DOUBLE))
             - ln((c_raw + 1) / CAST((SELECT n_raw FROM tot) + 256 AS DOUBLE))
               AS lrv
        FROM bc),
      sc AS (
        SELECT bk.doc_id, sum(lr.lrv) AS lw, count(*) AS n_tok
        FROM bk JOIN lr USING (b) GROUP BY bk.doc_id)
      SELECT d.doc_id,
             CAST(coalesce(sc.n_tok, 0) AS BIGINT) AS n_tokens,
             round(sc.lw, 6) AS log_w,
             CAST(round(sc.lw, 6) > 0 AS INT) AS keep
      FROM (SELECT DISTINCT doc_id FROM documents) d
      LEFT JOIN sc ON d.doc_id = sc.doc_id
    """


def _data_split_sql() -> str:
    from ocr_spark.operators.corpus import split_thresholds

    cuts = split_thresholds(SPLIT_SHARES)
    h = "('0x' || substr(md5('split|' || doc_id::VARCHAR), 1, 15))::BIGINT"
    case = " ".join(f"WHEN {h} < {ub} THEN '{name}'"
                    for name, ub in cuts[:-1])
    return f"""
      SELECT doc_id, source,
             CASE {case} ELSE '{cuts[-1][0]}' END AS split
      FROM documents
    """


def _varint_sql(x: str) -> str:
    """DuckDB twin of operators.index._varint_bytes: the same chained
    integer-range CASE (1 byte per 7 payload bits) — bit-exact in both
    engines, no float log2 boundary hazard."""
    whens = " ".join(f"WHEN {x} < {1 << (7 * i)} THEN {i}"
                     for i in range(1, 8))
    return f"(CASE {whens} ELSE 8 END)"


def _search_keys_sql() -> str:
    """DuckDB twin of q_search_keys: identical variant literals, the
    identical fold table imported from the engine (one source of
    truth), same lower -> translate -> collapse-to-space -> trim."""
    from ocr_spark.functions.text import _FOLD_DST, _FOLD_SRC

    toks = "string_split_regex(trim(text), '\\s+')"
    variants = ("['Café ', 'À LA ', 'SEÑOR ', 'naïve ', 'Zürich-', "
                "'plain ']")
    return f"""
      WITH t AS (
        SELECT doc_id,
          {variants}[CAST(doc_id % 6 + 1 AS INT)]
            || array_to_string(
                 (CASE WHEN len(trim(text)) = 0
                  THEN CAST([] AS VARCHAR[]) ELSE {toks} END)[1:3], '_')
            AS raw_title
        FROM documents)
      SELECT doc_id, raw_title,
        trim(regexp_replace(
          translate(lower(raw_title), '{_FOLD_SRC}', '{_FOLD_DST}'),
          '[^a-z0-9]+', ' ', 'g')) AS key
      FROM t ORDER BY doc_id
    """


def _cluster_split_case(hash_sql: str) -> str:
    """The cluster_split CASE over a SQL hash expression — cut points
    from the SAME split_thresholds() integer literals the engine
    compares against (float->int happens once, in Python)."""
    from ocr_spark.operators.corpus import split_thresholds

    cuts = split_thresholds(SPLIT_SHARES)
    whens = " ".join(f"WHEN {hash_sql} < {ub} THEN '{name}'"
                     for name, ub in cuts[:-1])
    return f"CASE {whens} ELSE '{cuts[-1][0]}' END"


def _bloom_dedup_sql() -> str:
    """DuckDB twin of q_bloom_dedup: rebuilds the 8192-bit bitmap with
    the same three salted md5 positions and the same 32-bit-word bit_or
    fold, so even Bloom false positives match bit-for-bit."""
    m = 1 << 13

    def pos(i: int) -> str:
        return (f"('0x' || substr(md5('bloom{i}|' || nrm), 1, 15))::BIGINT"
                f" % {m}")

    inserts = "\n          UNION ALL\n          ".join(
        f"SELECT {pos(i)} AS pos FROM lines WHERE doc_id % 2 = 0"
        for i in range(3))
    probes = ",\n               ".join(f"{pos(i)} AS p{i}" for i in range(3))
    hit = "\n           AND ".join(
        f"coalesce((w{i}.bits & (1::BIGINT << CAST(pr.p{i} % 32 AS INT)))"
        f" <> 0, FALSE)" for i in range(3))
    joins = "\n        ".join(
        f"LEFT JOIN words w{i} ON w{i}.word = pr.p{i} // 32"
        for i in range(3))
    return f"""
      WITH aug AS (
        SELECT doc_id,
               text || chr(10) || '{_BLOOM_BP}' || chr(10) ||
               'page footer ref ' || doc_id AS mt
        FROM documents),
      ls AS (SELECT doc_id, string_split(mt, chr(10)) AS arr FROM aug),
      lines0 AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(arr) + 1),
                      i -> {{'pos': i, 'ln': arr[i]}})) AS u
        FROM ls),
      lines AS (
        SELECT doc_id, u.pos AS pos, u.ln AS ln, trim(u.ln) AS nrm
        FROM lines0),
      ppos AS (
          {inserts}),
      words AS (
        SELECT pos // 32 AS word,
               bit_or(1::BIGINT << CAST(pos % 32 AS INT)) AS bits
        FROM ppos GROUP BY 1),
      probe AS (
        SELECT doc_id, pos, ln,
               {probes}
        FROM lines WHERE doc_id % 2 = 1),
      flg AS (
        SELECT pr.doc_id, pr.pos, pr.ln,
               {hit} AS hit
        FROM probe pr
        {joins})
      SELECT doc_id,
             coalesce(string_agg(ln, chr(10) ORDER BY pos)
                      FILTER (WHERE NOT hit), '') AS text,
             CAST(count(*) FILTER (WHERE NOT hit) AS BIGINT)
               AS n_lines_kept,
             CAST(count(*) FILTER (WHERE hit) AS BIGINT)
               AS n_lines_dropped
      FROM flg GROUP BY doc_id
    """


def _mojibake_chain_sql(expr: str) -> str:
    """The oracle's repair: the SAME ordered replace chain the engine
    applies, generated from the same MOJIBAKE_PAIRS table (no pattern
    contains a quote, so plain literal interpolation is safe)."""
    from ocr_spark.functions.text import MOJIBAKE_PAIRS

    for m, f in MOJIBAKE_PAIRS:
        expr = f"replace({expr}, '{m}', '{f}')"
    return expr


def _wat_export_sql() -> str:
    """DuckDB twin of q_wat_export: identical JSON-escape pass (RE2
    replacement spelling: 2-backslash pattern -> 4-backslash
    replacement doubles a backslash; backslash-backslash-quote emits
    a backslash before a quote), identical envelope concat, identical
    WARC framing.  Built with chr() constants so no quoting layer can
    corrupt the backslash counts."""
    bs, q, crlf = chr(92), chr(34), "chr(13) || chr(10)"

    def js(x: str) -> str:
        return (f"('{q}' || regexp_replace(regexp_replace({x}, "
                f"'{bs}{bs}', '{bs}{bs}{bs}{bs}', 'g'), "
                f"'{q}', '{bs}{bs}{q}', 'g') || '{q}')")

    toks = "string_split_regex(trim(text), '\\s+')"
    return f"""
      WITH b AS (
        SELECT
          'https://corpus.example.com/d/' || doc_id::VARCHAR AS url,
          strftime(TIMESTAMP '2024-01-01 00:00:00'
                   + to_minutes(doc_id), '%Y-%m-%dT%H:%M:%SZ') AS d,
          array_to_string((CASE WHEN len(trim(text)) = 0
              THEN CAST([] AS VARCHAR[]) ELSE {toks} END)[1:3], ' ')
            || CASE WHEN doc_id % 5 = 0
                    THEN ' say "q" {bs} end' ELSE '' END AS title,
          CASE WHEN doc_id % 3 = 0 THEN CAST([] AS VARCHAR[])
               WHEN doc_id % 3 = 1 THEN
                 ['https://out.example.com/a/' || doc_id::VARCHAR]
               ELSE ['https://out.example.com/a/' || doc_id::VARCHAR,
                     'https://out.example.com/b/' || doc_id::VARCHAR]
          END AS ol
        FROM documents),
      p AS (
        SELECT url, d,
          '{{"url":' || {js('url')}
          || ',"date":' || {js('d')}
          || ',"title":' || {js('title')}
          || ',"n_outlinks":' || len(ol)::VARCHAR
          || ',"outlinks":[' || coalesce(array_to_string(
               list_transform(ol, x -> {js('x')}), ','), '') || ']}}' AS pl
        FROM b)
      SELECT url,
        'WARC/1.0' || {crlf}
        || 'WARC-Type: metadata' || {crlf}
        || 'WARC-Target-URI: ' || url || {crlf}
        || 'WARC-Date: ' || d || {crlf}
        || 'WARC-Record-ID: <urn:md5:' || md5(url || '|' || d) || '>'
        || {crlf}
        || 'WARC-Block-Digest: sha256:' || sha256(pl) || {crlf}
        || 'Content-Type: application/json' || {crlf}
        || 'Content-Length: ' || octet_length(encode(pl))::VARCHAR
        || {crlf} || {crlf} || pl || {crlf} || {crlf} AS wat
      FROM p ORDER BY url
    """


def _pii_counts_raw_sql() -> str:
    """Sequential PII counts over RAW document text (no injection
    CASE) — the doc_attributes tagging twin of _pii_scrub_sql."""
    from ocr_spark.functions.scrub import PII_PATTERNS

    counts = []
    scrub = "text"
    for name, pat, repl in PII_PATTERNS:
        counts.append(f"len(regexp_extract_all({scrub}, '{pat}')) AS n_{name}")
        scrub = f"regexp_replace({scrub}, '{pat}', '{repl}', 'g')"
    return f"SELECT doc_id, {', '.join(counts)} FROM documents"


def _pii_scrub_sql() -> str:
    """DuckDB twin of q_pii_scrub: identical injection CASE, identical
    pattern text (PII_PATTERNS is written in the Java/RE2-common regex
    subset precisely so both engines run the same strings), identical
    redaction order — and, like the engine, each kind is COUNTED on the
    text after the previous kinds were redacted, so counts equal actual
    replacements (no cross-kind double counting)."""
    from ocr_spark.functions.scrub import PII_PATTERNS

    cases = " ".join(
        f"WHEN {k} THEN text || '{s}'" for k, s in PII_SAMPLES.items())
    counts = []
    scrub = "text"
    for name, pat, repl in PII_PATTERNS:
        counts.append(f"len(regexp_extract_all({scrub}, '{pat}')) AS n_{name}")
        scrub = f"regexp_replace({scrub}, '{pat}', '{repl}', 'g')"
    return f"""
      WITH aug AS (
        SELECT doc_id, CASE doc_id % 4 {cases} ELSE text END AS text
        FROM documents)
      SELECT doc_id, {', '.join(counts)}, {scrub} AS scrubbed FROM aug
    """


def _url_sql_frags() -> dict[str, str]:
    """Shared DuckDB fragments for the url-operator oracles: the same
    synthetic url CASE as _synth_urls and step-for-step twins of
    web.url_normalize / url_host / registered_domain."""
    from ocr_spark.operators.web import _SECOND_LEVEL, TRACKING_PARAMS

    url_case = """
      CASE doc_id % 6
        WHEN 0 THEN 'HTTP://WWW.Example' || (doc_id % 50)::VARCHAR
                 || '.COM:80/a/b/?utm_source=feed&z=1&a=2#sec'
        WHEN 1 THEN 'https://news.site' || (doc_id % 50)::VARCHAR
                 || '.co.uk:443/story/' || doc_id::VARCHAR || '/'
        WHEN 2 THEN 'http://host' || (doc_id % 50)::VARCHAR
                 || '.org/path?fbclid=abc' || doc_id::VARCHAR
        WHEN 3 THEN 'https://blog.host' || (doc_id % 50)::VARCHAR
                 || '.net/x?b=2&a=1&ref=tw'
        WHEN 4 THEN 'host' || (doc_id % 50)::VARCHAR || '.com/plain'
        ELSE 'https://a.b.c.example' || (doc_id % 50)::VARCHAR
                 || '.com/?utm_medium=em#'
      END
    """
    tracking = ", ".join(f"'{p}'" for p in TRACKING_PARAMS)
    second = ", ".join(f"'{s}'" for s in _SECOND_LEVEL)
    host = ("lower(regexp_extract(regexp_replace(regexp_replace(url, "
            "'^[A-Za-z][A-Za-z0-9+.-]*://', ''), '^[^/@?#]*@', ''), "
            "'^([^/:?#]*)', 1))")
    domain = f"""
      CASE WHEN len(string_split({host}, '.')) <= 1 THEN {host}
           WHEN len(string_split({host}, '.')) >= 3
                AND string_split({host}, '.')[-2] IN ({second})
           THEN string_split({host}, '.')[-3] || '.' ||
                string_split({host}, '.')[-2] || '.' ||
                string_split({host}, '.')[-1]
           ELSE string_split({host}, '.')[-2] || '.' ||
                string_split({host}, '.')[-1]
      END
    """
    norm = f"""
      WITH nf AS (
        SELECT doc_id, score, url,
               regexp_extract(url, '^([^#]*)', 1) AS no_frag
        FROM u),
      sp AS (
        SELECT doc_id, score, url,
          lower(regexp_extract(no_frag, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1))
            AS scheme,
          regexp_replace(no_frag, '^[A-Za-z][A-Za-z0-9+.-]*://', '') AS aft
        FROM nf),
      au AS (
        SELECT doc_id, score, url, scheme,
          lower(regexp_extract(aft, '^([^/?]*)', 1)) AS auth0,
          substring(aft, length(regexp_extract(aft, '^([^/?]*)', 1)) + 1)
            AS rest
        FROM sp),
      parts AS (
        SELECT doc_id, score, url, scheme,
          CASE WHEN scheme = 'http' AND auth0 LIKE '%:80'
                 THEN regexp_replace(auth0, ':80$', '')
               WHEN scheme = 'https' AND auth0 LIKE '%:443'
                 THEN regexp_replace(auth0, ':443$', '')
               ELSE auth0 END AS auth,
          regexp_extract(rest, '^([^?]*)', 1) AS path0,
          CASE WHEN instr(rest, '?') > 0
               THEN substring(rest, instr(rest, '?') + 1) ELSE '' END AS q
        FROM au),
      np AS (
        SELECT doc_id, score, url, scheme, auth,
          CASE WHEN length(path0) > 1 AND path0 LIKE '%/'
               THEN regexp_replace(path0, '/$', '') ELSE path0 END AS path,
          array_to_string(list_sort(list_filter(string_split(q, '&'),
            p -> len(p) > 0
              AND NOT starts_with(split_part(p, '=', 1), 'utm_')
              AND split_part(p, '=', 1) NOT IN ({tracking}))), '&') AS sq
        FROM parts)
      SELECT doc_id, score, url,
        (CASE WHEN scheme != '' THEN scheme || '://' || auth ELSE auth END)
        || path
        || (CASE WHEN length(sq) > 0 THEN '?' || sq ELSE '' END) AS url_norm
      FROM np
    """
    return {"url_case": url_case, "host": host, "domain": domain,
            "norm": norm}


def _url_normalize_sql() -> str:
    f = _url_sql_frags()
    # the norm fragment carries url through, so host/domain (which
    # reference the raw url) evaluate over n directly — no re-join
    return f"""
      WITH u AS (
        SELECT doc_id, length(text) AS score, {f['url_case']} AS url
        FROM documents),
      n AS ({f['norm']})
      SELECT doc_id, url_norm, {f['host']} AS host, {f['domain']} AS domain
      FROM n
    """


def _domain_topk_sql() -> str:
    """The naive single-window form — identical output to the engine's
    two-phase salted top-k by the superset property."""
    f = _url_sql_frags()
    return f"""
      WITH u AS (
        SELECT doc_id, CAST(length(text) AS INT) AS score,
               {f['url_case']} AS url
        FROM documents),
      h AS (SELECT doc_id, score, url, {f['domain']} AS domain FROM u),
      r AS (
        SELECT doc_id, domain, score,
               row_number() OVER (PARTITION BY domain
                 ORDER BY score DESC, doc_id ASC) AS rn
        FROM h)
      SELECT doc_id, domain, score FROM r WHERE rn <= 3
    """


def _url_blocklist_sql() -> str:
    """DuckDB twin of q_url_blocklist: same synthetic urls, same
    domain fragment, a step-for-step path twin of web.url_path, and
    the blocklist as a VALUES table probed with a correlated EXISTS
    (NULL prefix = whole domain, else starts_with on the path)."""
    f = _url_sql_frags()
    rows = ", ".join(
        "(%s, %s)" % (f"'{d}'", "NULL" if p is None else f"'{p}'")
        for d, p in URL_BLOCKLIST
    )
    path = ("""
      CASE WHEN regexp_extract(regexp_replace(regexp_replace(
                  regexp_extract(url, '^([^#]*)', 1),
                  '^[A-Za-z][A-Za-z0-9+.-]*://', ''),
                '^[^/?#]*', ''), '^([^?]*)', 1) = ''
           THEN '/'
           ELSE regexp_extract(regexp_replace(regexp_replace(
                  regexp_extract(url, '^([^#]*)', 1),
                  '^[A-Za-z][A-Za-z0-9+.-]*://', ''),
                '^[^/?#]*', ''), '^([^?]*)', 1)
      END
    """)
    return f"""
      WITH u AS (
        SELECT doc_id, length(text) AS score, {f['url_case']} AS url
        FROM documents),
      b(bd, bp) AS (VALUES {rows}),
      h AS (SELECT doc_id, {f['domain']} AS domain, {path} AS path FROM u)
      SELECT doc_id, domain,
             EXISTS(SELECT 1 FROM b
                    WHERE b.bd = h.domain
                      AND (b.bp IS NULL OR starts_with(h.path, b.bp)))
               AS blocked
      FROM h
    """


def _crawl_schedule_sql() -> str:
    """DuckDB twin of q_crawl_schedule: the naive per-host row_number
    over (salted hash, doc_id) — identical to the engine's two-pass
    prefix-sum form because the bucket id is a prefix of the sort
    key."""
    f = _url_sql_frags()
    return f"""
      WITH u AS (
        SELECT doc_id, length(text) AS score, {f['url_case']} AS url
        FROM documents),
      h AS (
        SELECT doc_id, {f['host']} AS host,
               ('0x' || substr(md5('crawl|' || doc_id::VARCHAR),
                               1, 15))::BIGINT AS hh
        FROM u),
      r AS (
        SELECT doc_id, host,
               row_number() OVER (PARTITION BY host
                 ORDER BY hh, doc_id) - 1 AS rk
        FROM h)
      SELECT doc_id, host, rk // 2 AS fetch_round,
             CAST(rk % 2 AS INT) AS fetch_slot
      FROM r
    """


def _curate_corpus_sql() -> str:
    """DuckDB twin of q_curate_corpus: every stage's existing oracle
    chained as CTEs over the same derived corpus.  Extraction is the
    probe-verified closed form (cookie paragraph always kept, body
    paragraph iff non-blank, tail paragraph always); quality thresholds
    import from QUALITY_THRESHOLDS; clustering is the recursive-CTE
    transitive closure over the SAME affine-MinHash candidate edges;
    decontamination / mix / pack reuse their fragment forms."""
    from ocr_spark.functions.quality import QUALITY_THRESHOLDS as q
    from ocr_spark.operators.dedup import MINHASH_P, minhash_affine_coeffs

    f = _repetition_frags()
    toks = f["toks"]
    compact = "regexp_replace(text, '\\s', '', 'g')"
    avg_len = (f"CASE WHEN len({toks}) > 0 THEN "
               f"round(length({compact}) / len({toks}), 4) ELSE 0.0 END")
    na_ratio = (f"CASE WHEN length({compact}) > 0 THEN "
                f"round(length(regexp_replace({compact}, '[A-Za-z0-9]', '', 'g'))"
                f" / length({compact}), 4) ELSE 0.0 END")
    shingles_col = (
        "list_distinct(CASE WHEN len(toksl) >= 3 THEN "
        "list_transform(range(1, len(toksl) - 1), "
        "i -> toksl[i] || ' ' || toksl[i+1] || ' ' || toksl[i+2]) "
        "WHEN len(trim(text)) > 0 THEN [array_to_string(toksl, ' ')] "
        "ELSE [] END)"
    )
    aff_els = ", ".join(
        f"list_min(list_transform(bl, b -> ({a} * b + {c}) % {MINHASH_P}))"
        for a, c in minhash_affine_coeffs(16))
    return f"""
      WITH RECURSIVE base AS (
        SELECT doc_id, source, text FROM documents
        UNION ALL
        SELECT doc_id + 1000000 AS doc_id, source,
               ltrim(substring(text, instr(text, ' ') + 1, 10000000)) AS text
        FROM documents
        WHERE instr(ltrim(substring(text, instr(text, ' ') + 1, 10000000)), ' ') > 0
      ), ext AS (
        SELECT doc_id, source,
          '{_LD_COOKIE}' ||
          CASE WHEN len(trim(text)) > 0 THEN chr(10) || text ELSE '' END ||
          chr(10) ||
          (CASE WHEN doc_id % 3 = 0 THEN '{_LD_NEWS}'
                ELSE 'ref code ' || doc_id END) AS text
        FROM base
      ), qs AS (
        SELECT doc_id, source, text, {f['grams']} AS g FROM ext
      ), qstats AS (
        SELECT doc_id, source, text,
          CASE WHEN len(trim(text)) = 0 THEN 0 ELSE len({toks}) END AS n_tokens,
          {avg_len} AS avg_token_len,
          {na_ratio} AS non_alnum_ratio,
          {f['dup_tok']} AS dup_token_ratio,
          {f['top_bigram']} AS top_bigram_ratio,
          {f['dup_line']} AS dup_line_ratio
        FROM qs
      ), qual AS (
        SELECT doc_id, source, text FROM qstats
        WHERE n_tokens >= {q['min_tokens']} AND n_tokens <= {q['max_tokens']}
          AND avg_token_len >= {q['min_avg_token_len']}
          AND avg_token_len <= {q['max_avg_token_len']}
          AND non_alnum_ratio <= {q['max_non_alnum_ratio']}
          AND dup_token_ratio <= {q['max_dup_token_ratio']}
          AND top_bigram_ratio <= {q['max_top_bigram_ratio']}
          AND dup_line_ratio <= {q['max_dup_line_ratio']}
      ), ls AS (
        SELECT doc_id, string_split(text, chr(10)) AS arr FROM qual
      ), lines0 AS (
        SELECT doc_id,
               unnest(list_transform(range(1, len(arr) + 1),
                      i -> {{'pos': i, 'ln': arr[i]}})) AS u
        FROM ls
      ), lines AS (
        SELECT doc_id, u.pos AS pos, u.ln AS ln, trim(u.ln) AS nrm FROM lines0
      ), banned AS (
        SELECT nrm FROM lines WHERE length(nrm) >= 10
        GROUP BY nrm HAVING count(DISTINCT doc_id) >= 2
      ), flagged AS (
        SELECT l.doc_id, l.pos, l.ln, b.nrm IS NOT NULL AS is_banned
        FROM lines l LEFT JOIN banned b USING (nrm)
      ), ld AS (
        SELECT doc_id,
               coalesce(string_agg(ln, chr(10) ORDER BY pos)
                        FILTER (WHERE NOT is_banned), '') AS text
        FROM flagged GROUP BY doc_id
      ), corpus AS (
        SELECT ld.doc_id, q2.source, ld.text
        FROM ld JOIN qual q2 USING (doc_id)
      ), ctok AS (
        SELECT doc_id, text, {toks} AS toksl FROM corpus
      ), csh AS (
        SELECT doc_id, {shingles_col} AS shl FROM ctok
      ), bas AS (
        SELECT doc_id,
          list_transform(shl,
            s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % {MINHASH_P}) AS bl
        FROM csh WHERE len(shl) > 0
      ), sigs AS (SELECT doc_id, [{aff_els}] AS sig FROM bas
      ), banded AS (
        SELECT doc_id, b.band,
          array_to_string(list_transform(sig[b.band * 2 + 1 : b.band * 2 + 2],
                          x -> x::VARCHAR), '|') AS band_sig
        FROM sigs, (SELECT unnest(range(0, 8)) AS band) b
      ), cand AS (
        SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
        FROM banded l JOIN banded r
          ON l.band = r.band AND l.band_sig = r.band_sig
         AND l.doc_id < r.doc_id
      ), edges AS (
        SELECT id_a AS s, id_b AS d FROM cand
        UNION
        SELECT id_b AS s, id_a AS d FROM cand
      ), reach(node, x) AS (
        SELECT s, s FROM edges
        UNION
        SELECT reach.node, e.d FROM reach JOIN edges e ON reach.x = e.s
      ), labels AS (
        SELECT node, min(x) AS cluster_id FROM reach GROUP BY node
      ), kept AS (
        SELECT c.doc_id, c.source, c.text
        FROM corpus c LEFT JOIN labels l ON c.doc_id = l.node
        WHERE coalesce(l.cluster_id, c.doc_id) = c.doc_id
      ), bt AS (
        SELECT doc_id + 5000000 AS bench_id,
          array_to_string(({toks})[1:60], ' ') AS text
        FROM documents WHERE doc_id % 23 = 5
      ), btok AS (SELECT bench_id, text, {toks} AS toksl FROM bt
      ), bg AS (
        SELECT bench_id, unnest({_shingles_sql_k(5)}) AS gram FROM btok
      ), ktok AS (SELECT doc_id, text, {toks} AS toksl FROM kept
      ), kg AS (
        SELECT doc_id, unnest({_shingles_sql_k(5)}) AS gram FROM ktok
      ), contam AS (
        SELECT doc_id FROM kg JOIN bg USING (gram)
        GROUP BY doc_id, bench_id HAVING count(*) >= 3
      ), clean AS (
        SELECT * FROM kept
        WHERE doc_id NOT IN (SELECT doc_id FROM contam)
      ), tb AS (
        SELECT doc_id, source,
          CAST(CASE WHEN len(trim(text)) = 0 THEN 0
               ELSE len({toks}) END AS BIGINT) AS n_tokens,
          ('0x' || substr(md5('|' || doc_id::VARCHAR), 1, 15))::BIGINT AS h
        FROM clean WHERE source IN ({_mix_budget_sources()})
      ), mixrun AS (
        SELECT doc_id, source, n_tokens, h,
          CAST(sum(n_tokens) OVER (PARTITION BY source
               ORDER BY h % 64, h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum_tokens
        FROM tb
      ), mix AS (
        SELECT doc_id, source, n_tokens, h FROM mixrun
        WHERE cum_tokens <= CASE source {_mix_budget_cases()} ELSE 0 END
      ), prun AS (
        SELECT doc_id, source, n_tokens,
          CAST(sum(n_tokens) OVER (ORDER BY h % 64, h, doc_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS cum
        FROM mix WHERE n_tokens > 0
      )
      SELECT doc_id, source, n_tokens,
        cum - n_tokens AS start_off,
        CAST((cum - n_tokens) // 2048 AS BIGINT) AS seq_first,
        CAST((cum - 1) // 2048 AS BIGINT) AS seq_last,
        CAST((cum - 1) // 2048 - (cum - n_tokens) // 2048 + 1
             AS BIGINT) AS n_seqs
      FROM prun
    """


def _outlinks_edges_sql() -> str:
    """Closed-form (doc_id, dst, anchor) edge set of the q_outlinks
    synthetic pages — shared by the outlinks and anchor_agg oracles."""
    toks = "string_split_regex(trim(text), '\\s+')"
    return f"""
          WITH tok AS (
            SELECT doc_id,
              CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                   ELSE {toks} END AS tl
            FROM documents),
          sans AS (
            SELECT doc_id, tl[1:5] AS t5,
              list_transform(tl[1:5],
                t -> regexp_replace(t, '[^A-Za-z0-9]', '', 'g')) AS ss
            FROM tok),
          tok_links AS (
            SELECT doc_id, u['dst'] AS dst, u['anchor'] AS anchor FROM (
              SELECT doc_id,
                unnest(list_transform(range(1, len(ss) + 1),
                  i -> {{'dst': 'https://w' || CAST(i - 1 AS VARCHAR)
                               || '.example.org/t'
                               || CASE WHEN ss[i] = '' THEN ''
                                       ELSE '/' || ss[i] END,
                        'anchor': t5[i]}})) AS u
              FROM sans)),
          fixed AS (
            SELECT doc_id, u['dst'] AS dst, u['anchor'] AS anchor FROM (
              SELECT doc_id, unnest([
                {{'dst': 'https://src' || CAST(doc_id AS VARCHAR)
                        || '.example.com/rel/0', 'anchor': 'r'}},
                {{'dst': 'https://src' || CAST(doc_id AS VARCHAR)
                        || '.example.com/dir/page.html?q=2',
                  'anchor': 'q'}}
              ]) AS u FROM tok))
          SELECT DISTINCT doc_id, dst, anchor FROM (
            SELECT doc_id, dst, anchor FROM tok_links
            UNION ALL SELECT doc_id, dst, anchor FROM fixed)
    """


def _surt_sql(url_expr: str) -> str:
    """DuckDB twin of web.surt_key over an already-normalized url
    expression: reversed host labels (www. dropped, port kept),
    ')' + path?query ('/' when empty)."""
    rest = (f"regexp_replace({url_expr}, "
            "'^[A-Za-z][A-Za-z0-9+.-]*://', '')")
    hostport = f"regexp_extract({rest}, '^[^/?]*')"
    return (
        "array_to_string(list_reverse(string_split("
        f"regexp_replace(split_part({hostport}, ':', 1), '^www\\.', ''),"
        " '.')), ',')"
        f" || regexp_extract({hostport}, ':[0-9]+$')"
        " || ')' || "
        f"(CASE WHEN regexp_replace({rest}, '^[^/?]*', '') = '' THEN '/'"
        f" ELSE regexp_replace({rest}, '^[^/?]*', '') END)"
    )


def _cdx_index_sql() -> str:
    f = _url_sql_frags()
    return f"""
      WITH u AS (
        SELECT doc_id, length(text) AS score, {f['url_case']} AS url
        FROM documents),
      n AS ({f['norm']})
      SELECT {_surt_sql('n.url_norm')} AS surt,
             '20240615' || lpad((n.doc_id % 24)::VARCHAR, 2, '0')
                        || lpad((n.doc_id % 60)::VARCHAR, 2, '0')
                        || '00' AS ts,
             n.url_norm AS url_norm,
             md5(d.text) AS digest,
             CAST(strlen(d.text) AS INT) AS length,
             n.doc_id AS doc_id
      FROM n JOIN documents d ON n.doc_id = d.doc_id
    """


def oracle_sql() -> dict[str, str]:
    stop_list = "['the','a','of','and','to','in','is','it','that','for']"
    markers = {
        "en": "['the','and','of','to','is','that','for','with']",
        "es": "['el','la','de','que','los','las','una','por']",
        "de": "['der','die','das','und','ist','nicht','ein','mit']",
        "fr": "['le','la','les','des','est','une','dans','pour']",
    }
    # shared DuckDB fragments ------------------------------------------------
    toks = "string_split_regex(trim(text), '\\s+')"
    # marker-argmax language id, shared by lang_id and lang_mismatch
    lang_counts = f"""
            SELECT doc_id,
              len(list_filter({toks}, t -> list_contains({markers['en']}, t))) AS c_en,
              len(list_filter({toks}, t -> list_contains({markers['es']}, t))) AS c_es,
              len(list_filter({toks}, t -> list_contains({markers['de']}, t))) AS c_de,
              len(list_filter({toks}, t -> list_contains({markers['fr']}, t))) AS c_fr
            FROM documents"""
    lang_case = """
            CASE WHEN c_en > 0 AND c_en >= c_es AND c_en >= c_de AND c_en >= c_fr THEN 'en'
                 WHEN c_es > 0 AND c_es > c_en AND c_es >= c_de AND c_es >= c_fr THEN 'es'
                 WHEN c_de > 0 AND c_de > c_en AND c_de > c_es AND c_de >= c_fr THEN 'de'
                 WHEN c_fr > 0 AND c_fr > c_en AND c_fr > c_es AND c_fr > c_de THEN 'fr'
                 ELSE 'und' END"""
    shingles = (
        f"list_distinct(CASE WHEN len({toks}) >= 3 THEN "
        f"list_transform(range(1, len({toks}) - 1), "
        f"i -> {toks}[i] || ' ' || {toks}[i+1] || ' ' || {toks}[i+2]) "
        f"WHEN len(trim(text)) > 0 THEN [array_to_string({toks}, ' ')] "
        f"ELSE [] END)"
    )
    # same shingle expression over a pre-materialized token-list column
    shingles_col = (
        "list_distinct(CASE WHEN len(toksl) >= 3 THEN "
        "list_transform(range(1, len(toksl) - 1), "
        "i -> toksl[i] || ' ' || toksl[i+1] || ' ' || toksl[i+2]) "
        "WHEN len(trim(text)) > 0 THEN [array_to_string(toksl, ' ')] "
        "ELSE [] END)"
    )
    near_dup_union = """
        WITH base AS (
          SELECT doc_id, text FROM documents
          UNION ALL
          SELECT doc_id + 1000000 AS doc_id,
                 ltrim(substring(text, instr(text, ' ') + 1, 10000000)) AS text
          FROM documents
          WHERE instr(ltrim(substring(text, instr(text, ' ') + 1, 10000000)), ' ') > 0
        )
    """

    # affine MinHash twin (hash_mode='md5_affine'): ONE 60-bit md5 base
    # hash per shingle, then the SAME integer coefficient literals the
    # engine folds with — signatures match bit-for-bit, 16x less md5
    # on both sides than the legacy per-index-digest family
    from ocr_spark.operators.dedup import MINHASH_P, minhash_affine_coeffs

    aff_els = ", ".join(
        f"list_min(list_transform(bl, b -> ({a} * b + {c}) % {MINHASH_P}))"
        for a, c in minhash_affine_coeffs(16))

    def aff_banded(src_cte: str) -> str:
        return f"""
        , bas AS (
          SELECT doc_id,
            list_transform(shl,
              s -> ('0x' || substr(md5(s), 1, 15))::BIGINT % {MINHASH_P}) AS bl
          {src_cte}
        ), sigs AS (SELECT doc_id, [{aff_els}] AS sig FROM bas
        ), banded AS (
          SELECT doc_id, b.band,
            array_to_string(list_transform(sig[b.band * 2 + 1 : b.band * 2 + 2],
                            x -> x::VARCHAR), '|') AS band_sig
          FROM sigs, (SELECT unnest(range(0, 8)) AS band) b
        )"""
    d = {
        "flagship_extract": (
            "SELECT doc_id, text FROM documents ORDER BY doc_id"
        ),
        # closed-form PDF oracle: the PDF layout (8 tokens/line, 4
        # lines/block, page-0-only) is reconstructed arithmetically;
        # doc_id%17=0 rows are empty PDFs -> processing_error
        "pdf_extract": f"""
          WITH tok AS (
            SELECT doc_id,
              CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                   ELSE {toks} END AS toksl
            FROM documents),
          ln AS (
            SELECT doc_id,
              list_transform(range(0, CAST(ceil(len(toksl) / 8.0) AS INT)),
                i -> array_to_string(toksl[i*8+1 : i*8+8], ' ')) AS ls
            FROM tok)
          SELECT doc_id,
            CASE WHEN doc_id % 17 = 0 THEN ''
                 ELSE array_to_string(ls, chr(10)) END AS text,
            CASE WHEN doc_id % 17 = 0 THEN 'processing_error'
                 ELSE 'ok' END AS status,
            CASE WHEN doc_id % 17 = 0 THEN 0
                 ELSE CAST(ceil(len(ls) / 4.0) AS INT) END AS n_blocks
          FROM ln ORDER BY doc_id
        """,
        "pdf_layout": f"""
          WITH tok AS (
            SELECT doc_id,
              CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                   ELSE list_transform({toks}, t -> substr(t, 1, 12)) END AS tl
            FROM documents),
          parts AS (
            SELECT doc_id,
              CASE WHEN len(tl) >= 4
                   THEN tl[1 : CAST(ceil(len(tl) / 2.0) AS INT)]
                   ELSE tl END AS lefts,
              CASE WHEN len(tl) >= 4
                   THEN tl[CAST(ceil(len(tl) / 2.0) AS INT) + 1 : len(tl)]
                   ELSE CAST([] AS VARCHAR[]) END AS rights
            FROM tok)
          SELECT doc_id,
            'DOC ' || CAST(doc_id AS VARCHAR) || ' TITLE'
              || CASE WHEN len(lefts) > 0
                      THEN chr(10) || array_to_string(lefts, chr(10))
                      ELSE '' END
              || CASE WHEN len(rights) > 0
                      THEN chr(10) || array_to_string(rights, chr(10))
                      ELSE '' END AS text,
            'ok' AS status,
            CAST(1 + (CASE WHEN len(lefts) > 0 THEN 1 ELSE 0 END)
                   + (CASE WHEN len(rights) > 0 THEN 1 ELSE 0 END)
                 AS INT) AS n_blocks
          FROM parts ORDER BY doc_id
        """,
        "html_meta": f"""
          WITH tok AS (
            SELECT doc_id,
              CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                   ELSE {toks} END AS tl
            FROM documents)
          SELECT doc_id,
            trim('Doc ' || CAST(doc_id AS VARCHAR) || ' | '
                 || array_to_string(tl[1:2], ' ')) AS title,
            array_to_string(tl[1:8], ' ') AS description,
            'https://canon.example.com/d/' || CAST(doc_id AS VARCHAR)
              AS canonical,
            CASE WHEN doc_id % 2 = 0 AND len(tl) > 0
                 THEN 'OG ' || tl[1] ELSE NULL END AS og_title,
            trim('H1 ' || array_to_string(tl[1:2], ' ')) AS h1
          FROM tok ORDER BY doc_id
        """,
        # JSON-LD: the builder's entities reconstructed closed-form
        # (json.dumps/loads round-trips the markup-free token strings
        # verbatim); the malformed block's index depends on whether the
        # @graph block preceded it
        "jsonld": f"""
          WITH tok AS (
            SELECT doc_id,
              CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                   ELSE {toks} END AS tl
            FROM documents),
          nz AS (SELECT doc_id, tl FROM tok WHERE len(tl) > 0)
          SELECT doc_id, CAST(0 AS INT) AS script_idx,
                 CAST(0 AS INT) AS entity_idx,
                 'Article' AS etype,
                 array_to_string(tl[1:4], ' ') AS name,
                 CAST(len(tl) AS BIGINT) AS word_count, 'ok' AS status
          FROM nz
          UNION ALL
          SELECT doc_id, CAST(1 AS INT), CAST(0 AS INT), 'Person', tl[1],
                 CAST(NULL AS BIGINT), 'ok'
          FROM nz WHERE doc_id % 3 = 0 AND len(tl) >= 2
          UNION ALL
          SELECT doc_id, CAST(1 AS INT), CAST(1 AS INT), 'Organization',
                 tl[2], CAST(NULL AS BIGINT), 'ok'
          FROM nz WHERE doc_id % 3 = 0 AND len(tl) >= 2
          UNION ALL
          SELECT doc_id,
                 CAST(CASE WHEN doc_id % 3 = 0 AND len(tl) >= 2
                      THEN 2 ELSE 1 END AS INT),
                 CAST(0 AS INT), CAST(NULL AS VARCHAR),
                 CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT), 'parse_error'
          FROM nz WHERE doc_id % 17 = 0
        """,
        "profile_extract": f"""
          SELECT doc_id, lang,
            CASE WHEN len({toks}) >
                   (CASE WHEN lang = 'es' THEN 3 ELSE 16 END)
                 AND len(trim(text)) > 0
                 THEN text ELSE '' END AS text
          FROM documents ORDER BY doc_id
        """,
        # CAST the sums: DuckDB sum(BIGINT) returns HUGEINT, which the
        # driver's value-hash renders as a float (9707.0 vs 9707) — the
        # one source of round-1 hash mismatches on value-identical rows.
        "extract_metrics": (
            "SELECT lang, count(*) AS n_docs, count(*) AS n_ok, "
            "count(*) AS sum_blocks, "
            "CAST(sum(strlen(text)) AS BIGINT) AS sum_bytes_out "
            "FROM documents GROUP BY lang ORDER BY lang"
        ),
        "dedup_exact": (
            "WITH g AS (SELECT md5(text) AS digest, min(doc_id) AS doc_id, "
            "count(*) AS dup_count FROM documents GROUP BY md5(text)) "
            "SELECT d.doc_id, g.dup_count FROM documents d "
            "JOIN g ON d.doc_id = g.doc_id"
        ),
        "line_dedup": f"""
          WITH src AS (
            SELECT doc_id,
                   '{_LD_COOKIE}' || chr(10) || text || chr(10) ||
                   (CASE WHEN doc_id % 3 = 0 THEN '{_LD_NEWS}'
                         ELSE 'ref code ' || doc_id END) AS mt
            FROM documents),
          ls AS (SELECT doc_id, string_split(mt, chr(10)) AS arr FROM src),
          lines0 AS (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(arr) + 1),
                          i -> {{'pos': i, 'ln': arr[i]}})) AS u
            FROM ls),
          lines AS (
            SELECT doc_id, u.pos AS pos, u.ln AS ln, trim(u.ln) AS nrm
            FROM lines0),
          banned AS (
            SELECT nrm FROM lines WHERE length(nrm) >= 10
            GROUP BY nrm HAVING count(DISTINCT doc_id) >= 2),
          flagged AS (
            SELECT l.doc_id, l.pos, l.ln, b.nrm IS NOT NULL AS is_banned
            FROM lines l LEFT JOIN banned b USING (nrm))
          SELECT doc_id,
                 coalesce(string_agg(ln, chr(10) ORDER BY pos)
                          FILTER (WHERE NOT is_banned), '') AS text,
                 CAST(count(*) FILTER (WHERE NOT is_banned) AS BIGINT)
                   AS n_lines_kept,
                 CAST(count(*) FILTER (WHERE is_banned) AS BIGINT)
                   AS n_lines_dropped
          FROM flagged GROUP BY doc_id
        """,
        "substr_dedup": f"""
          WITH src AS (
            SELECT doc_id,
                   text ||
                   (CASE WHEN doc_id % 5 = 0
                         THEN ' {_SD_DISC}' ELSE '' END) ||
                   (CASE WHEN doc_id % 7 = 0
                         THEN ' {_SD_PROMO}' ELSE '' END) AS mt
            FROM documents),
          toks AS (
            SELECT doc_id, string_split_regex(trim(mt), '\\s+') AS a
            FROM src),
          g0 AS (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(a) - 3),
                          i -> {{'i': i,
                                 'g': array_to_string(a[i:i+4], ' ')}}))
                     AS u
            FROM toks),
          grams AS (SELECT doc_id, u.i AS i, u.g AS g FROM g0),
          dup AS (SELECT g FROM grams GROUP BY g HAVING count(*) >= 2),
          cov0 AS (SELECT doc_id, unnest(range(i, i + 5)) AS j
                   FROM grams JOIN dup USING (g)),
          cov AS (SELECT DISTINCT doc_id, j FROM cov0),
          tr0 AS (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(a) + 1),
                          j -> {{'j': j, 'tok': a[j]}})) AS u
            FROM toks),
          tokrows AS (SELECT doc_id, u.j AS j, u.tok AS tok FROM tr0),
          kept AS (
            SELECT t.doc_id, t.j, t.tok
            FROM tokrows t LEFT JOIN cov c
              ON t.doc_id = c.doc_id AND t.j = c.j
            WHERE c.doc_id IS NULL),
          re AS (SELECT doc_id, string_agg(tok, ' ' ORDER BY j) AS text,
                        count(*) AS n FROM kept GROUP BY doc_id)
          SELECT toks.doc_id,
                 coalesce(re.text, '') AS text,
                 CAST(coalesce(re.n, 0) AS BIGINT) AS n_tokens_kept,
                 CAST(len(toks.a) - coalesce(re.n, 0) AS BIGINT)
                   AS n_tokens_dropped
          FROM toks LEFT JOIN re USING (doc_id)
        """,
        "dedup_keep_latest": (
            "SELECT user_id, event_id, event_type FROM ("
            "  SELECT user_id, event_id, event_type, "
            "    row_number() OVER (PARTITION BY user_id "
            "      ORDER BY ts DESC, event_id DESC) AS rn FROM events) "
            "WHERE rn = 1"
        ),
        # tokens/shingles materialized stepwise: inlining the shingle
        # expression re-splits the text per list element (measured 200+s
        # at sf0.1 in both engines for the nested-minhash form)
        "minhash_lsh_pairs": near_dup_union + f"""
        , tok AS (SELECT doc_id, text, {toks} AS toksl FROM base)
        , sh AS (SELECT doc_id, {shingles_col} AS shl FROM tok)
        {aff_banded('FROM sh WHERE len(shl) > 0')}
        SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
        FROM banded l JOIN banded r
          ON l.band = r.band AND l.band_sig = r.band_sig
         AND l.doc_id < r.doc_id
        """,
        # the same candidate CTE re-scored by DuckDB's native
        # levenshtein on 200-char prefixes
        "edit_verify": near_dup_union + f"""
        , tok AS (SELECT doc_id, text, {toks} AS toksl FROM base)
        , sh AS (SELECT doc_id, {shingles_col} AS shl FROM tok)
        {aff_banded('FROM sh WHERE len(shl) > 0')}
        , cand AS (
          SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
          FROM banded l JOIN banded r
            ON l.band = r.band AND l.band_sig = r.band_sig
           AND l.doc_id < r.doc_id)
        SELECT c.id_a, c.id_b,
          levenshtein(substr(a.text, 1, 200), substr(b.text, 1, 200))
            AS edit_dist,
          CASE WHEN greatest(len(substr(a.text, 1, 200)),
                             len(substr(b.text, 1, 200))) = 0 THEN 1.0
               ELSE round(1 - levenshtein(substr(a.text, 1, 200),
                                          substr(b.text, 1, 200)) * 1.0
                          / greatest(len(substr(a.text, 1, 200)),
                                     len(substr(b.text, 1, 200))), 6)
          END AS edit_sim
        FROM cand c
        JOIN base a ON a.doc_id = c.id_a
        JOIN base b ON b.doc_id = c.id_b
        ORDER BY c.id_a, c.id_b
        """,
        # cross-corpus candidates: signatures are a pure function of
        # text, so banding the union and splitting sides by id range
        # equals the engine's separate per-side banding
        "cross_dedup": near_dup_union + f"""
        , tok AS (SELECT doc_id, text, {toks} AS toksl FROM base)
        , sh AS (SELECT doc_id, {shingles_col} AS shl FROM tok)
        {aff_banded('FROM sh WHERE len(shl) > 0')}
        SELECT DISTINCT l.doc_id AS new_id, r.doc_id AS base_id
        FROM banded l JOIN banded r
          ON l.band = r.band AND l.band_sig = r.band_sig
        WHERE l.doc_id >= 1000000 AND r.doc_id < 1000000
        """,
        # the staged snapshot-admission composition: exact digest ->
        # LSH near-dup (union-banding == the engine's per-side banding)
        # -> quality, with the same reason precedence
        "snapshot_update": _snapshot_update_sql(),
        # CDC chunking: boundary = salted md5-60(token) % 16 == 0;
        # running boundary count = chunk id; digest over the in-order
        # space-join — every step closed-form in both engines
        "cdc_chunks": f"""
          WITH b2 AS (
            SELECT doc_id, text FROM documents
            UNION ALL
            SELECT doc_id + 1000000, 'INSERTED ' || text
            FROM documents WHERE len(trim(text)) > 0),
          tok AS (
            SELECT doc_id,
              CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                   ELSE {toks} END AS tl
            FROM b2),
          ex AS (
            SELECT doc_id, p.i AS pos, p.t AS t
            FROM (SELECT doc_id, unnest(list_transform(
                    range(1, len(tl) + 1),
                    i -> {{'i': CAST(i - 1 AS INT), 't': tl[i]}})) AS p
                  FROM tok)),
          fl AS (
            SELECT doc_id, pos, t,
              CASE WHEN ('0x' || substr(md5('cdc|' || t), 1, 15))::BIGINT
                        % 16 = 0 THEN 1 ELSE 0 END AS b
            FROM ex),
          cid AS (
            SELECT doc_id, pos, t,
              CAST(sum(b) OVER (PARTITION BY doc_id ORDER BY pos) AS INT)
                AS chunk_idx
            FROM fl)
          SELECT doc_id, chunk_idx,
                 CAST(count(*) AS BIGINT) AS n_tokens,
                 md5(string_agg(t, ' ' ORDER BY pos)) AS chunk_digest
          FROM cid GROUP BY doc_id, chunk_idx
          ORDER BY doc_id, chunk_idx
        """,
        # sparse tf-idf cosine: same smoothed idf as the tfidf oracle;
        # max_df prunes the vocabulary (vectors, not just numerators)
        "tfidf_near_dup": near_dup_union + f"""
        , ex AS (
          SELECT doc_id,
            unnest(CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                   ELSE {toks} END) AS term
          FROM base),
        tf AS (SELECT doc_id, term, CAST(count(*) AS BIGINT) AS tf
               FROM ex GROUP BY doc_id, term),
        dfq AS (SELECT term, count(DISTINCT doc_id) AS df_t
                FROM ex GROUP BY term
                HAVING count(DISTINCT doc_id) <= 150),
        nn AS (SELECT count(*) AS n FROM base),
        w AS (SELECT doc_id, tf.term,
                     tf * (ln((n + 1) / (df_t + 1)) + 1) AS w
              FROM tf JOIN dfq USING (term) CROSS JOIN nn),
        norms AS (SELECT doc_id, sqrt(sum(w * w)) AS nrm
                  FROM w GROUP BY doc_id),
        dots AS (SELECT l.doc_id AS id_a, r.doc_id AS id_b,
                        sum(l.w * r.w) AS dot
                 FROM w l JOIN w r
                   ON l.term = r.term AND l.doc_id < r.doc_id
                 GROUP BY 1, 2)
        SELECT id_a, id_b,
               round(dot / (na.nrm * nb.nrm), 6) AS cosine
        FROM dots
        JOIN norms na ON na.doc_id = id_a
        JOIN norms nb ON nb.doc_id = id_b
        WHERE round(dot / (na.nrm * nb.nrm), 6) >= 0.6
        """,
        "lsh_jaccard": near_dup_union + f"""
        , tok AS (SELECT doc_id, text, {toks} AS toksl FROM base)
        , sh AS (SELECT doc_id, {shingles_col} AS shl FROM tok)
        , sh2 AS (SELECT doc_id, shl FROM sh WHERE len(shl) > 0)
        {aff_banded('FROM sh2')}, cand AS (
          SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
          FROM banded l JOIN banded r
            ON l.band = r.band AND l.band_sig = r.band_sig
           AND l.doc_id < r.doc_id
        )
        SELECT id_a, id_b,
               round(len(list_intersect(a.shl, b.shl))
                 / (len(a.shl) + len(b.shl) - len(list_intersect(a.shl, b.shl))),
                 6) AS jaccard
        FROM cand
        JOIN sh2 a ON a.doc_id = id_a
        JOIN sh2 b ON b.doc_id = id_b
        WHERE len(list_intersect(a.shl, b.shl))
              / (len(a.shl) + len(b.shl) - len(list_intersect(a.shl, b.shl)))
              >= 0.5
        """,
        # clusters = transitive closure over the SAME LSH candidate
        # edges the engine feeds to connected components; min reachable
        # id == the star-algorithm label, closed-form in a recursive CTE
        "dedup_clusters": near_dup_union.replace(
            "WITH base AS", "WITH RECURSIVE base AS", 1
        ) + f"""
        , tok AS (SELECT doc_id, text, {toks} AS toksl FROM base)
        , sh AS (SELECT doc_id, {shingles_col} AS shl FROM tok)
        {aff_banded('FROM sh WHERE len(shl) > 0')}, cand AS (
          SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
          FROM banded l JOIN banded r
            ON l.band = r.band AND l.band_sig = r.band_sig
           AND l.doc_id < r.doc_id
        ), edges AS (
          SELECT id_a AS s, id_b AS d FROM cand
          UNION
          SELECT id_b AS s, id_a AS d FROM cand
        ), reach(node, x) AS (
          SELECT s, s FROM edges
          UNION
          SELECT reach.node, e.d FROM reach JOIN edges e ON reach.x = e.s
        ), labels AS (
          SELECT node, min(x) AS cluster_id FROM reach GROUP BY node
        ), assign AS (
          SELECT b.doc_id, coalesce(l.cluster_id, b.doc_id) AS cluster_id
          FROM base b LEFT JOIN labels l ON b.doc_id = l.node
        )
        SELECT doc_id, cluster_id,
               count(*) OVER (PARTITION BY cluster_id) AS cluster_size
        FROM assign
        """,
        # leakage-safe split: the SAME transitive closure, then the
        # split CASE hashes the CLUSTER id (salt 'clsplit') so every
        # member of a near-dup cluster inherits one split
        "cluster_split": near_dup_union.replace(
            "WITH base AS", "WITH RECURSIVE base AS", 1
        ) + f"""
        , tok AS (SELECT doc_id, text, {toks} AS toksl FROM base)
        , sh AS (SELECT doc_id, {shingles_col} AS shl FROM tok)
        {aff_banded('FROM sh WHERE len(shl) > 0')}, cand AS (
          SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
          FROM banded l JOIN banded r
            ON l.band = r.band AND l.band_sig = r.band_sig
           AND l.doc_id < r.doc_id
        ), edges AS (
          SELECT id_a AS s, id_b AS d FROM cand
          UNION
          SELECT id_b AS s, id_a AS d FROM cand
        ), reach(node, x) AS (
          SELECT s, s FROM edges
          UNION
          SELECT reach.node, e.d FROM reach JOIN edges e ON reach.x = e.s
        ), labels AS (
          SELECT node, min(x) AS cluster_id FROM reach GROUP BY node
        ), assign AS (
          SELECT b.doc_id, coalesce(l.cluster_id, b.doc_id) AS cluster_id
          FROM base b LEFT JOIN labels l ON b.doc_id = l.node
        )
        SELECT doc_id, cluster_id,
               count(*) OVER (PARTITION BY cluster_id) AS cluster_size,
               {_cluster_split_case(
                   "('0x' || substr(md5('clsplit|' || cluster_id::VARCHAR),"
                   " 1, 15))::BIGINT")} AS split
        FROM assign
        """,
        # the leakage audit: same candidates + closure; per-doc vs
        # per-cluster split hashes, cross-split pairs counted per method
        "split_leakage": near_dup_union.replace(
            "WITH base AS", "WITH RECURSIVE base AS", 1
        ) + f"""
        , tok AS (SELECT doc_id, text, {toks} AS toksl FROM base)
        , sh AS (SELECT doc_id, {shingles_col} AS shl FROM tok)
        {aff_banded('FROM sh WHERE len(shl) > 0')}, cand AS (
          SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
          FROM banded l JOIN banded r
            ON l.band = r.band AND l.band_sig = r.band_sig
           AND l.doc_id < r.doc_id
        ), edges AS (
          SELECT id_a AS s, id_b AS d FROM cand
          UNION
          SELECT id_b AS s, id_a AS d FROM cand
        ), reach(node, x) AS (
          SELECT s, s FROM edges
          UNION
          SELECT reach.node, e.d FROM reach JOIN edges e ON reach.x = e.s
        ), labels AS (
          SELECT node, min(x) AS cluster_id FROM reach GROUP BY node
        ), assign AS (
          SELECT b.doc_id, coalesce(l.cluster_id, b.doc_id) AS cluster_id
          FROM base b LEFT JOIN labels l ON b.doc_id = l.node
        ), naive AS (
          SELECT doc_id,
            {_cluster_split_case(
                "('0x' || substr(md5('split|' || doc_id::VARCHAR),"
                " 1, 15))::BIGINT")} AS split
          FROM base
        ), safe AS (
          SELECT doc_id,
            {_cluster_split_case(
                "('0x' || substr(md5('clsplit|' || cluster_id::VARCHAR),"
                " 1, 15))::BIGINT")} AS split
          FROM assign
        )
        SELECT 'doc_hash' AS method,
          CAST(sum(CASE WHEN a.split <> b.split THEN 1 ELSE 0 END)
               AS BIGINT) AS n_cross_split_pairs,
          CAST(count(*) AS BIGINT) AS n_pairs
        FROM cand JOIN naive a ON a.doc_id = id_a
                  JOIN naive b ON b.doc_id = id_b
        UNION ALL
        SELECT 'cluster_hash',
          CAST(sum(CASE WHEN a.split <> b.split THEN 1 ELSE 0 END)
               AS BIGINT),
          CAST(count(*) AS BIGINT)
        FROM cand JOIN safe a ON a.doc_id = id_a
                  JOIN safe b ON b.doc_id = id_b
        ORDER BY method
        """,
        # keep-best representative: same closure, argmax(len, -id) per
        # cluster
        "cluster_best": near_dup_union.replace(
            "WITH base AS", "WITH RECURSIVE base AS", 1
        ) + f"""
        , tok AS (SELECT doc_id, text, {toks} AS toksl FROM base)
        , sh AS (SELECT doc_id, {shingles_col} AS shl FROM tok)
        {aff_banded('FROM sh WHERE len(shl) > 0')}, cand AS (
          SELECT DISTINCT l.doc_id AS id_a, r.doc_id AS id_b
          FROM banded l JOIN banded r
            ON l.band = r.band AND l.band_sig = r.band_sig
           AND l.doc_id < r.doc_id
        ), edges AS (
          SELECT id_a AS s, id_b AS d FROM cand
          UNION
          SELECT id_b AS s, id_a AS d FROM cand
        ), reach(node, x) AS (
          SELECT s, s FROM edges
          UNION
          SELECT reach.node, e.d FROM reach JOIN edges e ON reach.x = e.s
        ), labels AS (
          SELECT node, min(x) AS cluster_id FROM reach GROUP BY node
        ), assign AS (
          SELECT b.doc_id, coalesce(l.cluster_id, b.doc_id) AS cluster_id,
                 length(b.text) AS len
          FROM base b LEFT JOIN labels l ON b.doc_id = l.node
        ), ranked AS (
          SELECT cluster_id, doc_id, len,
                 row_number() OVER (PARTITION BY cluster_id
                   ORDER BY len DESC, doc_id ASC) AS rn,
                 count(*) OVER (PARTITION BY cluster_id) AS cluster_size
          FROM assign)
        SELECT cluster_id, doc_id AS rep_doc_id, len AS rep_len,
               cluster_size
        FROM ranked WHERE rn = 1
        """,
        "ngram_jaccard": near_dup_union + f"""
        , tok AS (SELECT doc_id, text, {toks} AS toksl FROM base)
        , sh AS (
          SELECT doc_id, {shingles_col} AS shl FROM tok
        ), sh2 AS (SELECT doc_id, shl FROM sh WHERE len(shl) > 0),
        sizes AS (SELECT doc_id, len(shl) AS n_sh FROM sh2),
        exploded AS (SELECT doc_id, unnest(shl) AS shingle FROM sh2),
        -- hot-shingle guard (max_df=100), mirrored from the engine:
        -- shingles in >100 docs are excluded from intersection counts
        capped AS (
          SELECT doc_id, shingle FROM exploded
          WHERE shingle NOT IN (
            SELECT shingle FROM exploded
            GROUP BY shingle HAVING count(*) > 100)
        ),
        inter AS (
          SELECT l.doc_id AS id_a, r.doc_id AS id_b, count(*) AS n_inter
          FROM capped l JOIN capped r
            ON l.shingle = r.shingle AND l.doc_id < r.doc_id
          GROUP BY 1, 2
        )
        SELECT id_a, id_b,
               round(n_inter / (sa.n_sh + sb.n_sh - n_inter), 6) AS jaccard
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE n_inter / (sa.n_sh + sb.n_sh - n_inter) >= 0.5
        """,
        # asymmetric containment twin: same capped intersection join,
        # numerator over FULL set sizes per side, kept when either
        # rounded direction clears 0.6 (the engine filters on the
        # rounded columns, so the oracle does too)
        "containment": near_dup_union + f"""
        , tok AS (SELECT doc_id, text, {toks} AS toksl FROM base)
        , sh AS (
          SELECT doc_id, {shingles_col} AS shl FROM tok
        ), sh2 AS (SELECT doc_id, shl FROM sh WHERE len(shl) > 0),
        sizes AS (SELECT doc_id, len(shl) AS n_sh FROM sh2),
        exploded AS (SELECT doc_id, unnest(shl) AS shingle FROM sh2),
        capped AS (
          SELECT doc_id, shingle FROM exploded
          WHERE shingle NOT IN (
            SELECT shingle FROM exploded
            GROUP BY shingle HAVING count(*) > 100)
        ),
        inter AS (
          SELECT l.doc_id AS id_a, r.doc_id AS id_b, count(*) AS n_inter
          FROM capped l JOIN capped r
            ON l.shingle = r.shingle AND l.doc_id < r.doc_id
          GROUP BY 1, 2
        )
        SELECT id_a, id_b,
               round(n_inter / sa.n_sh, 6) AS contain_a,
               round(n_inter / sb.n_sh, 6) AS contain_b
        FROM inter
        JOIN sizes sa ON sa.doc_id = id_a
        JOIN sizes sb ON sb.doc_id = id_b
        WHERE greatest(round(n_inter / sa.n_sh, 6),
                       round(n_inter / sb.n_sh, 6)) >= 0.6
        """,
        # simhash oracle: same 60-bit md5-derived token hash, simhash
        # reassembled bit-by-bit, pairs brute-forced (the oracle checks
        # output, not the engine's blocking strategy)
        "simhash_near_dup": near_dup_union + f"""
        , hs AS (
          SELECT doc_id,
            CASE WHEN len(trim(text)) = 0 THEN CAST([] AS BIGINT[])
                 ELSE list_transform({toks},
                        t -> ('0x' || substr(md5(t), 1, 15))::BIGINT)
            END AS hl
          FROM base),
        sim AS (
          SELECT doc_id,
            list_sum(list_transform(range(0, 60), b ->
              CASE WHEN list_sum(list_transform(hl,
                     h -> 2 * ((h >> b) & 1) - 1)) > 0
                   THEN (1::BIGINT << b) ELSE 0 END))::BIGINT AS sh
          FROM hs)
        SELECT l.doc_id AS id_a, r.doc_id AS id_b,
               bit_count(xor(l.sh, r.sh))::INT AS hamming
        FROM sim l JOIN sim r ON l.doc_id < r.doc_id
        WHERE bit_count(xor(l.sh, r.sh)) <= 4
        """,
        "span_qa": f"""
          SELECT 'p' AS kind, count(*) AS n_spans,
                 CAST(sum(strlen(text)) AS BIGINT) AS covered_bytes
          FROM documents
          WHERE len(trim(text)) > 0 AND len({toks}) >= 2
        """,
        "embed_near_dup_lsh": _embed_near_dup_lsh_sql(),
        "triplets": _triplets_sql(),
        "hybrid_rerank": _hybrid_rerank_sql(),
        "ann_topk": _ann_topk_sql(),
        "ann_topk_ivf": _ann_topk_ivf_sql(),
        "ann_topk_ivfpq": _ann_topk_ivfpq_sql(),
        "semantic_dedup": _semantic_dedup_sql(),
        "pq_encode": _pq_encode_sql(),
        "pq_error": _pq_error_sql(),
        "embed_near_dup": f"""
          SELECT l.vec_id AS id_a, r.vec_id AS id_b,
                 round(list_dot_product(l.embedding::DOUBLE[], r.embedding::DOUBLE[])
                   / (sqrt(list_dot_product(l.embedding::DOUBLE[], l.embedding::DOUBLE[]))
                    * sqrt(list_dot_product(r.embedding::DOUBLE[], r.embedding::DOUBLE[]))), 4)
                 AS cos_sim
          FROM embeddings l JOIN embeddings r ON l.vec_id < r.vec_id
          WHERE round(list_dot_product(l.embedding::DOUBLE[], r.embedding::DOUBLE[])
                   / (sqrt(list_dot_product(l.embedding::DOUBLE[], l.embedding::DOUBLE[]))
                    * sqrt(list_dot_product(r.embedding::DOUBLE[], r.embedding::DOUBLE[]))), 4)
                >= {EMBED_BRUTE_THRESHOLD}
        """,
        "cosine_topk": """
          WITH scored AS (
            SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
                   list_dot_product(q.embedding::DOUBLE[], c.embedding::DOUBLE[])
                     / (sqrt(list_dot_product(q.embedding::DOUBLE[], q.embedding::DOUBLE[]))
                      * sqrt(list_dot_product(c.embedding::DOUBLE[], c.embedding::DOUBLE[])))
                   AS cos_sim
            FROM embeddings q JOIN embeddings c ON q.vec_id != c.vec_id
            WHERE q.vec_id < 8
          ), ranked AS (
            SELECT query_id, neighbor_id,
                   row_number() OVER (PARTITION BY query_id
                     ORDER BY round(cos_sim, 6) DESC, neighbor_id ASC) AS rank
            FROM scored)
          SELECT query_id, neighbor_id, rank FROM ranked WHERE rank <= 5
        """,
        # ann_topk: LSH hyperplanes are numpy-seeded -> rows-only
        "text_stats": f"""
          SELECT doc_id,
            CASE WHEN len(trim(text)) = 0 THEN 0 ELSE len({toks}) END AS n_tokens,
            CASE WHEN len({toks}) > 0
              THEN round(length(regexp_replace(text, '\\s', '', 'g'))
                         / len({toks}), 4) ELSE 0.0 END AS avg_token_len,
            CASE WHEN len({toks}) > 0
              THEN round(len(list_filter({toks},
                     t -> list_contains({stop_list}, t))) / len({toks}), 4)
              ELSE 0.0 END AS stopword_ratio,
            CASE WHEN length(regexp_replace(text, '\\s', '', 'g')) > 0
              THEN round(length(regexp_replace(
                       regexp_replace(text, '\\s', '', 'g'),
                       '[A-Za-z0-9]', '', 'g'))
                   / length(regexp_replace(text, '\\s', '', 'g')), 4)
              ELSE 0.0 END AS non_alnum_ratio,
            len(regexp_extract_all(text,
                '[a-z0-9]+|[A-Z][a-z0-9]*|[^A-Za-z0-9\\s]')) AS bpe_count,
            CAST(round(
              (CASE WHEN len({toks}) > 0 AND
                round(length(regexp_replace(text, '\\s', '', 'g')) / len({toks}), 4)
                  BETWEEN 2.5 AND 10.0 THEN 0.4 ELSE 0.0 END)
            + (CASE WHEN len({toks}) > 0 AND
                round(len(list_filter({toks}, t -> list_contains({stop_list}, t)))
                  / len({toks}), 4) >= 0.05 THEN 0.3 ELSE 0.0 END)
            + (CASE WHEN length(regexp_replace(text, '\\s', '', 'g')) > 0 AND
                round(length(regexp_replace(regexp_replace(text, '\\s', '', 'g'),
                  '[A-Za-z0-9]', '', 'g'))
                  / length(regexp_replace(text, '\\s', '', 'g')), 4) <= 0.2
                THEN 0.3 ELSE 0.0 END), 4) AS DOUBLE) AS quality_score
          FROM documents
        """,
        "repetition_stats": _repetition_stats_sql(),
        "quality_filter": _quality_filter_sql(),
        "lm_score": f"""
          WITH tok AS (
            SELECT doc_id,
              CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                   ELSE {toks} END AS tl
            FROM documents),
          ex AS (SELECT doc_id, unnest(tl) AS tok FROM tok),
          vocab AS (SELECT tok, count(*) AS c FROM ex GROUP BY tok),
          tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total,
                         count(*) AS v_size FROM vocab),
          sc AS (
            SELECT e.doc_id,
              ln((v.c + 1) / CAST((SELECT n_total FROM tot)
                                  + (SELECT v_size FROM tot) AS DOUBLE)) AS lp
            FROM ex e JOIN vocab v USING (tok)),
          per AS (SELECT doc_id, avg(lp) AS a, count(*) AS n
                  FROM sc GROUP BY doc_id)
          SELECT t.doc_id,
            CAST(coalesce(p.n, 0) AS BIGINT) AS n_tokens,
            round(p.a, 6) AS avg_lp,
            round(exp(-p.a), 6) AS ppl
          FROM tok t LEFT JOIN per p USING (doc_id)
          ORDER BY t.doc_id
        """,
        "tfidf": f"""
          WITH tok AS (
            SELECT doc_id,
              CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                   ELSE {toks} END AS tl
            FROM documents),
          ex AS (SELECT doc_id, unnest(tl) AS term FROM tok),
          tf AS (SELECT doc_id, term, count(*) AS tfc
                 FROM ex GROUP BY doc_id, term),
          dfq AS (SELECT term, count(DISTINCT doc_id) AS dft
                  FROM ex GROUP BY term),
          nn AS (SELECT count(*) AS n FROM documents),
          sc AS (
            SELECT tf.doc_id, tf.term,
                   tf.tfc * (ln(((SELECT n FROM nn) + 1)
                                / CAST(dfq.dft + 1 AS DOUBLE)) + 1) AS s
            FROM tf JOIN dfq USING (term)),
          rk AS (
            SELECT doc_id, term, s,
                   row_number() OVER (PARTITION BY doc_id
                     ORDER BY s DESC, term ASC) AS rn
            FROM sc)
          SELECT doc_id, CAST(rn AS INT) AS rank, term,
                 round(s, 6) AS tfidf
          FROM rk WHERE rn <= 5
        """,
        "ccnet_buckets": f"""
          WITH tok AS (
            SELECT doc_id, lang,
              CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                   ELSE {toks} END AS tl
            FROM documents),
          ex AS (SELECT doc_id, unnest(tl) AS tok FROM tok),
          vocab AS (SELECT tok, count(*) AS c FROM ex GROUP BY tok),
          tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total,
                         count(*) AS v_size FROM vocab),
          sc AS (
            SELECT e.doc_id,
              ln((v.c + 1) / CAST((SELECT n_total FROM tot)
                                  + (SELECT v_size FROM tot) AS DOUBLE)) AS lp
            FROM ex e JOIN vocab v USING (tok)),
          per AS (SELECT doc_id, avg(lp) AS a FROM sc GROUP BY doc_id),
          scored AS (
            SELECT t.doc_id, t.lang, round(exp(-p.a), 6) AS ppl6
            FROM tok t LEFT JOIN per p USING (doc_id)),
          samp AS (
            SELECT lang, ppl6 FROM scored
            WHERE ppl6 IS NOT NULL
              AND ('0x' || substr(md5('ccnet|' || doc_id::VARCHAR), 1, 15))
                  ::BIGINT < {_CCNET_SAMPLE_THR}),
          thr AS (
            SELECT lang,
                   round(quantile_cont(ppl6, {_CCNET_P[0]!r}), 6) AS t1,
                   round(quantile_cont(ppl6, {_CCNET_P[1]!r}), 6) AS t2
            FROM samp GROUP BY lang)
          SELECT s.doc_id, s.lang, s.ppl6 AS ppl,
                 CASE WHEN s.ppl6 IS NULL OR t.t1 IS NULL THEN NULL
                      WHEN s.ppl6 <= t.t1 THEN 'head'
                      WHEN s.ppl6 <= t.t2 THEN 'middle'
                      ELSE 'tail' END AS bucket
          FROM scored s LEFT JOIN thr t USING (lang)
        """,
        "pii_scrub": _pii_scrub_sql(),
        "mojibake_fix": f"""
          WITH src AS (
            SELECT doc_id,
                   text || (CASE WHEN doc_id % 3 = 0
                                 THEN ' {_MJ_BROKEN}' ELSE '' END) AS mt
            FROM documents)
          SELECT doc_id, {_mojibake_chain_sql('mt')} AS text,
                 {_mojibake_chain_sql('mt')} <> mt AS changed
          FROM src
        """,
        "lang_id": f"""
          WITH c AS ({lang_counts})
          SELECT doc_id, {lang_case} AS lang_pred
          FROM c
        """,
        # declared from the planted <html lang> arithmetic, detected =
        # the SAME marker-argmax CASE lang_id ships (shared fragment)
        "lang_mismatch": f"""
          WITH c AS ({lang_counts}),
          det AS (SELECT doc_id, {lang_case} AS detected FROM c),
          dec AS (
            SELECT doc_id,
              CASE WHEN doc_id % 7 = 0 THEN NULL
                   WHEN doc_id % 13 = 0 THEN 'zz'
                   ELSE lang END AS declared
            FROM documents)
          SELECT d.doc_id, d.declared, t.detected,
                 d.declared IS NOT NULL AND d.declared <> t.detected
                   AS mismatch
          FROM dec d JOIN det t ON d.doc_id = t.doc_id
          ORDER BY d.doc_id
        """,
        "lang_id_cjk": _lang_id_cjk_sql(),
        # glyph OCR: closed-form — the decoder must reproduce the
        # planted string from pixels; the oracle re-derives the string
        # (ASCII filter BEFORE upper, so both engines' case rules
        # agree) and its non-space glyph count
        "ocr_decode": f"""
          WITH tok AS (
            SELECT doc_id,
              CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                   ELSE {toks} END AS tl
            FROM documents),
          p AS (
            SELECT doc_id,
              trim(regexp_replace(
                upper(regexp_replace(array_to_string(tl[1:4], ' '),
                                     '[^A-Za-z0-9 ]', '', 'g')),
                ' +', ' ', 'g')) AS s
            FROM tok),
          pl AS (SELECT doc_id, coalesce(nullif(s, ''), 'NA') AS planted
                 FROM p)
          SELECT doc_id,
            CASE WHEN doc_id % 17 = 0 THEN NULL ELSE planted END AS text,
            CASE WHEN doc_id % 17 = 0 THEN NULL
                 ELSE CAST(length(replace(planted, ' ', '')) AS INT)
            END AS n_glyphs,
            CASE WHEN doc_id % 17 = 0 THEN 'processing_error'
                 ELSE 'ok' END AS status
          FROM pl ORDER BY doc_id
        """,
        "lang_id_cyrillic": _lang_id_cyrillic_sql(),
        # confusion over the same-script label space: plain aggregation
        # of the lang_id_cyrillic twin
        "lang_confusion_script": f"""
          WITH p AS ({_lang_id_cyrillic_sql()}),
          g AS (SELECT true_lang, lang_pred, CAST(count(*) AS BIGINT) AS n
                FROM p GROUP BY true_lang, lang_pred)
          SELECT true_lang, lang_pred, n,
                 round(n / sum(n) OVER (PARTITION BY true_lang), 6)
                   AS hit_rate
          FROM g ORDER BY true_lang, lang_pred
        """,
        "frame_sample": """
          WITH m AS (
            SELECT CAST(doc_id AS VARCHAR) AS media_id, text,
                   1 + ('0x' || substr(sha256(text), 11, 2))::INT % 30 AS nf
            FROM documents)
          SELECT media_id, CAST(f.idx AS INT) AS frame_idx,
                 substr(sha256(text || ':' || f.idx), 1, 16) AS frame_digest,
                 'ok' AS status
          FROM m, unnest(range(0, nf, 5)) AS f(idx)
        """,
        # png_decode: per-channel means of the (base + 3i + c) % 256
        # pixel ramp, recomputed arithmetically — integer channel sums
        # divided by pixel count give the identical IEEE double on both
        # engines, no rounding step needed
        "png_decode": """
          WITH d AS (
            SELECT CAST(doc_id AS VARCHAR) AS media_id,
                   8 + doc_id % 16 AS w, 4 + doc_id % 9 AS h,
                   doc_id % 256 AS b
            FROM documents)
          SELECT media_id, 'image' AS kind,
            CAST(w AS INT) AS width, CAST(h AS INT) AS height,
            list_sum(list_transform(range(0, w*h), i -> (b + 3*i) % 256))
              / (w*h) AS mean_r,
            list_sum(list_transform(range(0, w*h), i -> (b + 3*i + 1) % 256))
              / (w*h) AS mean_g,
            list_sum(list_transform(range(0, w*h), i -> (b + 3*i + 2) % 256))
              / (w*h) AS mean_b,
            'ok' AS status
          FROM d
        """,
        # aHash: pixels are constant per 2x2 block, so the oracle works
        # on the 64 block values directly; the bit test 64*v > sum(v)
        # is the cross-multiplied form of "block mean > global mean"
        # (equal-size blocks), identical to the decoder's integer test
        "image_ahash": """
          WITH dd AS (
            SELECT doc_id, doc_id - doc_id % 2 AS d0 FROM documents),
          blk AS (
            SELECT dd.doc_id, g.b,
              CASE WHEN dd.doc_id % 2 = 1 AND g.b = dd.d0 % 64
                   THEN 255 - (((dd.d0 + 1) * (g.b + 3)
                                * (dd.d0 + 1) * (g.b + 3)
                                + 5 * g.b + dd.d0) % 256)
                   ELSE ((dd.d0 + 1) * (g.b + 3)
                         * (dd.d0 + 1) * (g.b + 3)
                         + 5 * g.b + dd.d0) % 256
              END AS v
            FROM dd, (SELECT unnest(range(0, 64)) AS b) g),
          tot AS (SELECT doc_id, sum(v) AS s FROM blk GROUP BY doc_id),
          bits AS (
            SELECT blk.doc_id, blk.b,
                   CASE WHEN 64 * blk.v > t.s THEN 1 ELSE 0 END AS bit
            FROM blk JOIN tot t ON blk.doc_id = t.doc_id),
          bstr AS (
            SELECT doc_id,
                   string_agg(CAST(bit AS VARCHAR), '' ORDER BY b)
                     AS ahash_bits
            FROM bits GROUP BY doc_id),
          nib AS (
            SELECT doc_id, b // 4 AS ni,
                   sum(bit * CASE b % 4 WHEN 0 THEN 8 WHEN 1 THEN 4
                             WHEN 2 THEN 2 ELSE 1 END) AS nv
            FROM bits GROUP BY doc_id, b // 4),
          hexs AS (
            SELECT doc_id,
                   string_agg(substr('0123456789abcdef',
                                     CAST(nv AS INT) + 1, 1),
                              '' ORDER BY ni) AS ahash_hex
            FROM nib GROUP BY doc_id)
          SELECT CAST(bstr.doc_id AS VARCHAR) AS media_id,
                 CAST(16 AS INT) AS width, CAST(16 AS INT) AS height,
                 bstr.ahash_bits, hexs.ahash_hex, 'ok' AS status
          FROM bstr JOIN hexs ON bstr.doc_id = hexs.doc_id
        """,
        # png_palette: indexed-color means re-derived through the
        # closed-form palette; error docs get the exact out-of-range
        # message with max index = min(base+n-1, 255)
        "png_palette": """
          WITH d AS (
            SELECT CAST(doc_id AS VARCHAR) AS media_id,
                   8 + doc_id % 8 AS w, 6 + doc_id % 5 AS h,
                   doc_id % 256 AS base,
                   (doc_id % 17 = 0) AS corrupt
            FROM documents)
          SELECT media_id,
            CASE WHEN corrupt THEN NULL ELSE 'image' END AS kind,
            CASE WHEN corrupt THEN NULL ELSE CAST(w AS INT) END AS width,
            CASE WHEN corrupt THEN NULL ELSE CAST(h AS INT) END AS height,
            CASE WHEN corrupt THEN NULL ELSE
              list_sum(list_transform(range(0, w*h),
                       i -> ((base + i) % 256 * 37) % 256)) / (w*h)
            END AS mean_r,
            CASE WHEN corrupt THEN NULL ELSE
              list_sum(list_transform(range(0, w*h),
                       i -> ((base + i) % 256 * 59) % 256)) / (w*h)
            END AS mean_g,
            CASE WHEN corrupt THEN NULL ELSE
              list_sum(list_transform(range(0, w*h),
                       i -> ((base + i) % 256 * 83) % 256)) / (w*h)
            END AS mean_b,
            CASE WHEN corrupt THEN 'processing_error' ELSE 'ok' END
              AS status,
            CASE WHEN corrupt THEN
              'ValueError: palette index '
              || least(base + w*h - 1, 255)
              || ' out of range (PLTE has 32 entries)'
            ELSE NULL END AS error_msg
          FROM d
        """,
        # label_propagation: symmetrized quadratic-map graph, three
        # unrolled majority rounds with row_number argmax (cnt DESC,
        # label ASC = the engine's max(struct(cnt, -label)) tie-break)
        "label_propagation": """
          WITH mm AS (SELECT max(doc_id) + 1 AS m FROM documents),
          cand AS (
            SELECT doc_id,
              (doc_id * doc_id + 1) % (SELECT m FROM mm) AS k1,
              (doc_id * 13 + 5) % (SELECT m FROM mm) AS k2
            FROM documents),
          e0 AS (
            SELECT src, dst FROM (
              SELECT c.doc_id AS src, d.doc_id AS dst
              FROM cand c JOIN documents d ON d.doc_id = c.k1
              UNION ALL
              SELECT c.doc_id AS src, d.doc_id AS dst
              FROM cand c JOIN documents d ON d.doc_id = c.k2
              WHERE c.doc_id % 3 <> 0
            ) WHERE src <> dst),
          e AS (
            SELECT DISTINCT u, v FROM (
              SELECT src AS u, dst AS v FROM e0
              UNION ALL
              SELECT dst AS u, src AS v FROM e0)
            WHERE u <> v),
          base AS (
            SELECT u AS node,
              CASE WHEN u % 10 < 2 THEN CAST(u % 3 AS INT) END
                AS seed_label
            FROM (SELECT DISTINCT u FROM e)),
          l0 AS (SELECT node, seed_label AS label FROM base),
          l1 AS (
            SELECT b.node, coalesce(b.seed_label, v.vote) AS label
            FROM base b LEFT JOIN (
              SELECT node, lbl AS vote FROM (
                SELECT e.u AS node, l.label AS lbl,
                  row_number() OVER (PARTITION BY e.u
                    ORDER BY count(*) DESC, l.label ASC) AS rn
                FROM e JOIN l0 l ON l.node = e.v
                WHERE l.label IS NOT NULL
                GROUP BY e.u, l.label) WHERE rn = 1) v
            ON v.node = b.node),
          l2 AS (
            SELECT b.node, coalesce(b.seed_label, v.vote) AS label
            FROM base b LEFT JOIN (
              SELECT node, lbl AS vote FROM (
                SELECT e.u AS node, l.label AS lbl,
                  row_number() OVER (PARTITION BY e.u
                    ORDER BY count(*) DESC, l.label ASC) AS rn
                FROM e JOIN l1 l ON l.node = e.v
                WHERE l.label IS NOT NULL
                GROUP BY e.u, l.label) WHERE rn = 1) v
            ON v.node = b.node),
          l3 AS (
            SELECT b.node, coalesce(b.seed_label, v.vote) AS label
            FROM base b LEFT JOIN (
              SELECT node, lbl AS vote FROM (
                SELECT e.u AS node, l.label AS lbl,
                  row_number() OVER (PARTITION BY e.u
                    ORDER BY count(*) DESC, l.label ASC) AS rn
                FROM e JOIN l2 l ON l.node = e.v
                WHERE l.label IS NOT NULL
                GROUP BY e.u, l.label) WHERE rn = 1) v
            ON v.node = b.node)
          SELECT b.node AS doc_id, CAST(l3.label AS INT) AS label,
                 b.seed_label IS NOT NULL AS is_seed
          FROM base b JOIN l3 ON b.node = l3.node
        """,
        # dist_drift: fixed buckets, Laplace-smoothed shares, same
        # double arithmetic for (p-q)*ln(p/q)
        "dist_drift": """
          WITH bk AS (
            SELECT doc_id % 2 = 0 AS is_a,
              CASE WHEN n_chars < 500 THEN 0
                   WHEN n_chars < 1000 THEN 1
                   WHEN n_chars < 2000 THEN 2
                   WHEN n_chars < 4000 THEN 3
                   WHEN n_chars < 8000 THEN 4
                   ELSE 5 END AS bucket
            FROM documents),
          ca AS (SELECT bucket, count(*) AS n_a FROM bk
                 WHERE is_a GROUP BY 1),
          cb AS (SELECT bucket, count(*) AS n_b FROM bk
                 WHERE NOT is_a GROUP BY 1),
          tot AS (SELECT
                    (SELECT count(*) FROM bk WHERE is_a) AS ta,
                    (SELECT count(*) FROM bk WHERE NOT is_a) AS tb),
          frame AS (SELECT unnest(range(0, 6)) AS bucket),
          j AS (
            SELECT f.bucket,
                   coalesce(ca.n_a, 0) AS n_a,
                   coalesce(cb.n_b, 0) AS n_b,
                   CAST(coalesce(ca.n_a, 0) + 1 AS DOUBLE)
                     / (t.ta + 6) AS p,
                   CAST(coalesce(cb.n_b, 0) + 1 AS DOUBLE)
                     / (t.tb + 6) AS q
            FROM frame f
            LEFT JOIN ca ON f.bucket = ca.bucket
            LEFT JOIN cb ON f.bucket = cb.bucket
            CROSS JOIN tot t)
          SELECT CAST(bucket AS INT) AS bucket,
                 CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b,
                 round(p, 6) AS p_share, round(q, 6) AS q_share,
                 round((p - q) * ln(p / q), 6) AS psi
          FROM j
        """,
        # ks_drift: exact ECDFs via a window cumsum (the oracle may use
        # the global window the engine's two-pass prefix sum avoids);
        # identical long cumulative counts, identically-ordered double
        # divisions, shared round(6), tie-break on v
        "ks_drift": """
          WITH va AS (SELECT n_chars AS v, count(*) AS n_a FROM documents
                      WHERE doc_id % 2 = 0 AND n_chars IS NOT NULL
                      GROUP BY 1),
          vb AS (SELECT n_chars AS v, count(*) AS n_b FROM documents
                 WHERE doc_id % 2 = 1 AND n_chars IS NOT NULL GROUP BY 1),
          j AS (SELECT coalesce(va.v, vb.v) AS v,
                       coalesce(n_a, 0) AS n_a, coalesce(n_b, 0) AS n_b
                FROM va FULL JOIN vb ON va.v = vb.v),
          c AS (SELECT v,
                  CAST(sum(n_a) OVER (ORDER BY v) AS BIGINT) AS cum_a,
                  CAST(sum(n_b) OVER (ORDER BY v) AS BIGINT) AS cum_b
                FROM j),
          t AS (SELECT CAST(sum(n_a) AS BIGINT) AS ta,
                       CAST(sum(n_b) AS BIGINT) AS tb FROM j)
          SELECT v, cum_a, cum_b,
            round(cum_a / t.ta, 6) AS f_a,
            round(cum_b / t.tb, 6) AS f_b,
            round(abs(cum_a / t.ta - cum_b / t.tb), 6) AS ks
          FROM c CROSS JOIN t
          ORDER BY ks DESC, v ASC LIMIT 5
        """,
        # markdown_strip: the imported pattern table under RE2
        "markdown_strip": _markdown_strip_sql(),
        # srt_cues: every cue extent re-derived arithmetically; error
        # docs collapse to the single parse_error row
        "srt_cues": """
          WITH d AS (
            SELECT doc_id, 1 + doc_id % 6 AS nf,
                   (doc_id % 17 = 0) AS corrupt
            FROM documents),
          ok AS (
            SELECT CAST(d.doc_id AS VARCHAR) AS media_id,
                   CAST(t.i + 1 AS INT) AS cue_idx,
                   CAST(t.i * 2000 + d.doc_id % 997 AS BIGINT) AS start_ms,
                   CAST(t.i * 2000 + d.doc_id % 997
                        + 1500 + (t.i % 3) * 250 AS BIGINT) AS end_ms,
                   CAST(1500 + (t.i % 3) * 250 AS BIGINT) AS dur_ms,
                   'line ' || d.doc_id || ' ' || t.i || ' 0'
                     || CASE WHEN (t.i + d.doc_id) % 2 = 1
                        THEN ' line ' || d.doc_id || ' ' || t.i || ' 1'
                        ELSE '' END AS text,
                   CAST(1 + (t.i + d.doc_id) % 2 AS INT) AS n_lines,
                   'ok' AS status, CAST(NULL AS VARCHAR) AS error_msg
            FROM d, unnest(range(0, d.nf)) AS t(i)
            WHERE NOT d.corrupt),
          bad AS (
            SELECT CAST(doc_id AS VARCHAR) AS media_id,
                   CAST(NULL AS INT) AS cue_idx,
                   CAST(NULL AS BIGINT) AS start_ms,
                   CAST(NULL AS BIGINT) AS end_ms,
                   CAST(NULL AS BIGINT) AS dur_ms,
                   CAST(NULL AS VARCHAR) AS text,
                   CAST(NULL AS INT) AS n_lines,
                   'parse_error' AS status,
                   'ValueError: bad timing line in block 1' AS error_msg
            FROM d WHERE corrupt)
          SELECT * FROM ok UNION ALL SELECT * FROM bad
        """,
        # code_corpus: the content_type route condition and the FIM
        # arithmetic chained as CTEs over the same built text
        "code_corpus": """
          WITH built AS (
            SELECT doc_id,
              text || CASE
                WHEN doc_id % 4 = 1 THEN chr(10) || 'def f(x):'
                  || chr(10) || '    return x + 1'
                  || chr(10) || 'import os'
                  || chr(10) || '    y = {1: 2};'
                WHEN doc_id % 4 = 2 THEN chr(10)
                  || '$$ \\frac{a}{b} + \\sum_i x_i $$'
                WHEN doc_id % 4 = 3 THEN chr(10) || 'a,b,c,d'
                  || chr(10) || '1,2,3,4' || chr(10) || '5,6,7,8'
                  || chr(10) || '9,10,11,12'
                ELSE '' END AS t
            FROM documents),
          sig AS (
            SELECT doc_id, t,
              len(list_filter(string_split(t, chr(10)),
                  ln -> len(trim(ln)) > 0)) AS n_lines,
              len(list_filter(string_split(t, chr(10)),
                  ln -> len(trim(ln)) > 0
                        AND (starts_with(ln, '    ')
                             OR starts_with(ln, chr(9))))) AS indent_lines,
              length(t) - length(translate(t, '{}();=<>', ''))
                AS sym_count,
              (CASE WHEN contains(t, 'def ') THEN 1 ELSE 0 END
               + CASE WHEN contains(t, 'function ') THEN 1 ELSE 0 END
               + CASE WHEN contains(t, 'class ') THEN 1 ELSE 0 END
               + CASE WHEN contains(t, 'import ') THEN 1 ELSE 0 END
               + CASE WHEN contains(t, 'return ') THEN 1 ELSE 0 END
               + CASE WHEN contains(t, 'const ') THEN 1 ELSE 0 END
               + CASE WHEN contains(t, 'var ') THEN 1 ELSE 0 END
               + CASE WHEN contains(t, '#include') THEN 1 ELSE 0 END)
                AS kw_hits
            FROM built),
          code AS (
            SELECT doc_id, t FROM sig
            WHERE kw_hits >= 2 OR (n_lines >= 3
                  AND indent_lines * 10 >= n_lines * 3
                  AND sym_count * 100 >= length(t) * 3)),
          f AS (
            SELECT doc_id, t, length(t) AS ln,
                   CAST(floor(length(t) / 3) AS INT) AS p1,
                   CAST(floor(length(t) * 2 / 3) AS INT) AS p2,
                   ('0x' || substr(md5('fim|' || CAST(doc_id AS VARCHAR)),
                                   1, 15))::BIGINT % 2 = 1 AS spm
            FROM code)
          SELECT doc_id,
            CASE WHEN ln < 3 THEN 'raw'
                 WHEN spm THEN 'spm' ELSE 'psm' END AS fim_mode,
            p1 AS prefix_len,
            CAST(p2 - p1 AS INT) AS middle_len,
            CAST(ln - p2 AS INT) AS suffix_len,
            CASE WHEN ln < 3 THEN t
                 WHEN spm THEN '<fim_suffix>' || substr(t, p2 + 1)
                   || '<fim_prefix>' || substr(t, 1, p1)
                   || '<fim_middle>' || substr(t, p1 + 1, p2 - p1)
                 ELSE '<fim_prefix>' || substr(t, 1, p1)
                   || '<fim_suffix>' || substr(t, p2 + 1)
                   || '<fim_middle>' || substr(t, p1 + 1, p2 - p1)
            END AS fim_text
          FROM f
        """,
        # quality_calibration: per-lang quantile_cont(0.25) (the same
        # linear interpolation as Spark's percentile) joined back
        "quality_calibration": """
          WITH thr AS (
            SELECT lang, round(quantile_cont(n_chars, 0.25), 6)
                     AS lang_p25
            FROM documents GROUP BY lang)
          SELECT d.doc_id, d.lang, d.n_chars, t.lang_p25,
                 d.n_chars >= t.lang_p25 AS keep
          FROM documents d JOIN thr t ON d.lang = t.lang
        """,
        # centroid_outliers: centroids re-derived on the round-6 grid,
        # cosine to own-label centroid, rank with (cos, vec_id)
        # tie-break
        "centroid_outliers": """
          WITH cent AS (
            SELECT label, t.i AS dim,
                   round(sum(CAST(embedding[t.i + 1] AS DOUBLE))
                         / count(*), 6) AS c
            FROM embeddings e,
                 unnest(range(0, len(e.embedding))) AS t(i)
            GROUP BY label, t.i),
          terms AS (
            SELECT e.vec_id, e.label,
                   sum(CAST(e.embedding[cent.dim + 1] AS DOUBLE) * cent.c)
                     AS dot,
                   sum(CAST(e.embedding[cent.dim + 1] AS DOUBLE)
                       * CAST(e.embedding[cent.dim + 1] AS DOUBLE)) AS nv,
                   sum(cent.c * cent.c) AS nc
            FROM embeddings e JOIN cent ON e.label = cent.label
            GROUP BY e.vec_id, e.label),
          scored AS (
            SELECT vec_id, label,
                   round(dot / (sqrt(nv) * sqrt(nc)), 6) AS cos_centroid
            FROM terms WHERE nv > 0 AND nc > 0)
          SELECT vec_id, label, cos_centroid,
                 CAST(row_number() OVER (PARTITION BY label
                      ORDER BY cos_centroid ASC, vec_id ASC) AS INT)
                   AS outlier_rank
          FROM scored
        """,
        # feature_hash: md5 bucket/sign per token, aggregate, then a
        # docs x buckets frame so zero components are present
        "feature_hash": r"""
          WITH tl AS (
            SELECT doc_id,
              CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                   ELSE string_split_regex(trim(text), '\s+') END AS tk
            FROM documents),
          tok AS (SELECT doc_id, unnest(tk) AS t FROM tl),
          h AS (
            SELECT doc_id,
              ('0x' || substr(md5('fh|' || t), 1, 15))::BIGINT % 16
                AS bucket,
              CASE WHEN ('0x' || substr(md5('fs|' || t), 1, 15))::BIGINT
                        % 2 = 0 THEN 1 ELSE -1 END AS sgn
            FROM tok),
          agg AS (SELECT doc_id, bucket, sum(sgn) AS v
                  FROM h GROUP BY 1, 2),
          frame AS (SELECT d.doc_id, g.b FROM documents d,
                    (SELECT unnest(range(0, 16)) AS b) g)
          SELECT f.doc_id, CAST(f.b AS INT) AS bucket,
                 CAST(coalesce(a.v, 0) AS BIGINT) AS value
          FROM frame f LEFT JOIN agg a
            ON f.doc_id = a.doc_id AND f.b = a.bucket
        """,
        # hash_retrieval: doc + query hashed vectors re-derived, exact
        # integer dot/norms, one sqrt+division, rank on the rounded
        # cosine with doc_id tie-break
        "hash_retrieval": _hash_retrieval_sql(),
        # retrieval_eval: shared hash-ranking SQL + tf relevance, both
        # DCG sums with the same log2 discount; ndcg divides the
        # UNROUNDED sums (rounding only on publish)
        "retrieval_eval": f"""
          WITH ra AS (
            SELECT doc_id, rank FROM ({_hash_retrieval_sql()})),
          rel AS (
            SELECT doc_id,
              CAST(len(regexp_extract_all(lower(text), 'spark'))
                   AS DOUBLE) AS rel
            FROM documents),
          ranked AS (
            SELECT r.rank,
                   coalesce(rel.rel, 0) / log2(r.rank + 1) AS g
            FROM ra r LEFT JOIN rel ON r.doc_id = rel.doc_id
            WHERE r.rank <= 20),
          ideal0 AS (
            SELECT rel,
                   row_number() OVER (ORDER BY rel DESC, doc_id ASC)
                     AS rank
            FROM rel WHERE rel > 0),
          ideal AS (
            SELECT rank, rel / log2(rank + 1) AS g
            FROM ideal0 WHERE rank <= 20),
          cuts AS (SELECT unnest([5, 10, 20]) AS cutoff),
          d AS (SELECT c.cutoff, sum(ranked.g) AS dcg
                FROM cuts c JOIN ranked ON ranked.rank <= c.cutoff
                GROUP BY 1),
          i AS (SELECT c.cutoff, sum(ideal.g) AS idcg
                FROM cuts c JOIN ideal ON ideal.rank <= c.cutoff
                GROUP BY 1)
          SELECT CAST(c.cutoff AS INT) AS cutoff,
                 round(coalesce(d.dcg, 0), 6) AS dcg,
                 round(coalesce(i.idcg, 0), 6) AS idcg,
                 round(CASE WHEN coalesce(i.idcg, 0) > 0
                       THEN coalesce(d.dcg, 0) / i.idcg
                       ELSE 0 END, 6) AS ndcg
          FROM cuts c
          LEFT JOIN d ON c.cutoff = d.cutoff
          LEFT JOIN i ON c.cutoff = i.cutoff
        """,
        # rrf_fusion: the hash ranking embedded via the shared helper,
        # the tf ranking re-derived, fused with 1/(60+rank)
        "rrf_fusion": f"""
          WITH ra AS (
            SELECT doc_id, rank FROM ({_hash_retrieval_sql()})),
          rb0 AS (
            SELECT doc_id,
                   len(regexp_extract_all(lower(text), 'spark')) AS tf
            FROM documents),
          rb AS (
            SELECT doc_id, rank FROM (
              SELECT doc_id,
                     row_number() OVER (ORDER BY tf DESC, doc_id ASC)
                       AS rank
              FROM rb0 WHERE tf > 0)
            WHERE rank <= 20),
          u AS (
            SELECT doc_id, 1.0 / (60.0 + rank) AS c FROM ra
            UNION ALL
            SELECT doc_id, 1.0 / (60.0 + rank) AS c FROM rb),
          agg AS (
            SELECT doc_id, round(sum(c), 9) AS rrf_score
            FROM u GROUP BY doc_id)
          SELECT doc_id, rrf_score,
                 CAST(row_number() OVER (ORDER BY rrf_score DESC,
                                         doc_id ASC) AS INT) AS fused_rank
          FROM agg
        """,
        # label_centroids: unnest per dim, double-cast before sum, same
        # rounding grid
        "label_centroids": """
          SELECT label, CAST(t.i AS INT) AS dim,
                 round(sum(CAST(embedding[t.i + 1] AS DOUBLE))
                       / count(*), 6) AS centroid,
                 CAST(count(*) AS BIGINT) AS n_members
          FROM embeddings e,
               unnest(range(0, len(e.embedding))) AS t(i)
          GROUP BY label, t.i
        """,
        # fim_transform: substr thirds + md5-parity mode + sentinel
        # concat, all re-derived
        "fim_transform": """
          WITH s AS (
            SELECT doc_id, text, length(text) AS ln,
                   CAST(floor(length(text) / 3) AS INT) AS p1,
                   CAST(floor(length(text) * 2 / 3) AS INT) AS p2,
                   ('0x' || substr(md5('fim|' || CAST(doc_id AS VARCHAR)),
                                   1, 15))::BIGINT % 2 = 1 AS spm
            FROM documents)
          SELECT doc_id,
            CASE WHEN ln < 3 THEN 'raw'
                 WHEN spm THEN 'spm' ELSE 'psm' END AS fim_mode,
            p1 AS prefix_len,
            CAST(p2 - p1 AS INT) AS middle_len,
            CAST(ln - p2 AS INT) AS suffix_len,
            CASE WHEN ln < 3 THEN text
                 WHEN spm THEN '<fim_suffix>' || substr(text, p2 + 1)
                   || '<fim_prefix>' || substr(text, 1, p1)
                   || '<fim_middle>' || substr(text, p1 + 1, p2 - p1)
                 ELSE '<fim_prefix>' || substr(text, 1, p1)
                   || '<fim_suffix>' || substr(text, p2 + 1)
                   || '<fim_middle>' || substr(text, p1 + 1, p2 - p1)
            END AS fim_text
          FROM s
        """,
        # span_corrupt: both strings rebuilt token-by-token with the
        # same indexed transform + filter + join
        "span_corrupt": r"""
          WITH tl AS (
            SELECT doc_id,
              CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                   ELSE string_split_regex(trim(text), '\s+') END AS tk
            FROM documents),
          s AS (SELECT doc_id, tk, len(tk) AS n FROM tl),
          pieces AS (
            SELECT doc_id, n,
              array_to_string(list_filter(list_transform(range(0, n), i ->
                CASE WHEN i % 20 < 7 OR i % 20 >= 10 THEN tk[i + 1]
                     WHEN i % 20 = 7 THEN '<extra_id_'
                       || CAST(i // 20 AS VARCHAR) || '>'
                     ELSE '' END), p -> p <> ''), ' ') AS input_text,
              array_to_string(list_filter(list_transform(range(0, n), i ->
                CASE WHEN i % 20 = 7 THEN '<extra_id_'
                       || CAST(i // 20 AS VARCHAR) || '> ' || tk[i + 1]
                     WHEN i % 20 > 7 AND i % 20 < 10 THEN tk[i + 1]
                     ELSE '' END), p -> p <> ''), ' ') AS tgt,
              CASE WHEN n > 7 THEN (n - 8) // 20 + 1 ELSE 0 END AS n_spans
            FROM s)
          SELECT doc_id, CAST(n AS INT) AS n_tokens,
                 CAST(n_spans AS INT) AS n_spans, input_text,
                 CASE WHEN n_spans = 0 THEN ''
                      ELSE tgt || ' <extra_id_'
                        || CAST(n_spans AS VARCHAR) || '>'
                 END AS target_text
          FROM pieces
        """,
        # content_type: the oracle rebuilds the identical mixed-content
        # text, then recomputes every signal (line filters, substring
        # hits, symbol translate) and the same precedence cascade
        "content_type": """
          WITH built AS (
            SELECT doc_id,
              text || CASE
                WHEN doc_id % 4 = 1 THEN chr(10) || 'def f(x):'
                  || chr(10) || '    return x + 1'
                  || chr(10) || 'import os'
                  || chr(10) || '    y = {1: 2};'
                WHEN doc_id % 4 = 2 THEN chr(10)
                  || '$$ \\frac{a}{b} + \\sum_i x_i $$'
                WHEN doc_id % 4 = 3 THEN chr(10) || 'a,b,c,d'
                  || chr(10) || '1,2,3,4' || chr(10) || '5,6,7,8'
                  || chr(10) || '9,10,11,12'
                ELSE '' END AS t
            FROM documents),
          sig AS (
            SELECT doc_id, t,
              len(list_filter(string_split(t, chr(10)),
                  ln -> len(trim(ln)) > 0)) AS n_lines,
              len(list_filter(string_split(t, chr(10)),
                  ln -> len(trim(ln)) > 0
                        AND (starts_with(ln, '    ')
                             OR starts_with(ln, chr(9))))) AS indent_lines,
              len(list_filter(string_split(t, chr(10)),
                  ln -> len(trim(ln)) > 0
                        AND len(string_split(ln, ',')) >= 4)) AS csv_lines,
              length(t) - length(translate(t, '{}();=<>', ''))
                AS sym_count,
              (CASE WHEN contains(t, 'def ') THEN 1 ELSE 0 END
               + CASE WHEN contains(t, 'function ') THEN 1 ELSE 0 END
               + CASE WHEN contains(t, 'class ') THEN 1 ELSE 0 END
               + CASE WHEN contains(t, 'import ') THEN 1 ELSE 0 END
               + CASE WHEN contains(t, 'return ') THEN 1 ELSE 0 END
               + CASE WHEN contains(t, 'const ') THEN 1 ELSE 0 END
               + CASE WHEN contains(t, 'var ') THEN 1 ELSE 0 END
               + CASE WHEN contains(t, '#include') THEN 1 ELSE 0 END)
                AS kw_hits,
              (CASE WHEN contains(t, '\\frac') THEN 1 ELSE 0 END
               + CASE WHEN contains(t, '\\sum') THEN 1 ELSE 0 END
               + CASE WHEN contains(t, '\\begin{') THEN 1 ELSE 0 END
               + CASE WHEN contains(t, '$$') THEN 1 ELSE 0 END
               + CASE WHEN contains(t, '\\alpha') THEN 1 ELSE 0 END)
                AS math_hits
            FROM built)
          SELECT doc_id,
            CAST(n_lines AS INT) AS n_lines,
            CAST(indent_lines AS INT) AS indent_lines,
            CAST(csv_lines AS INT) AS csv_lines,
            CAST(sym_count AS INT) AS sym_count,
            CAST(kw_hits AS INT) AS kw_hits,
            CAST(math_hits AS INT) AS math_hits,
            CASE
              WHEN kw_hits >= 2 OR (n_lines >= 3
                   AND indent_lines * 10 >= n_lines * 3
                   AND sym_count * 100 >= length(t) * 3) THEN 'code'
              WHEN math_hits >= 2 THEN 'math'
              WHEN n_lines >= 3 AND csv_lines * 2 >= n_lines THEN 'data'
              ELSE 'prose' END AS content_label
          FROM sig
        """,
        # gif_structure: every field is a closed form of doc_id; the
        # parser's block walk (GCE delays, NETSCAPE loop, color-table
        # skips, sub-block chains) is what the equality tests
        "gif_structure": """
          WITH d AS (
            SELECT CAST(doc_id AS VARCHAR) AS media_id, doc_id,
                   1 + doc_id % 7 AS nf,
                   (doc_id % 17 = 0) AS corrupt
            FROM documents)
          SELECT media_id,
            CASE WHEN corrupt THEN NULL
                 ELSE CAST(16 + doc_id % 32 AS INT) END AS width,
            CASE WHEN corrupt THEN NULL
                 ELSE CAST(16 + (doc_id * 3) % 32 AS INT) END AS height,
            CASE WHEN corrupt THEN NULL
                 ELSE CAST(nf AS INT) END AS n_frames,
            CASE WHEN corrupt THEN NULL
                 ELSE CAST(10 * list_sum(list_transform(range(0, nf),
                           f -> 4 + (doc_id + f) % 10)) AS BIGINT)
            END AS total_ms,
            CASE WHEN corrupt OR doc_id % 3 = 0 THEN NULL
                 ELSE CAST(doc_id % 4 AS INT) END AS loop_count,
            CASE WHEN corrupt THEN NULL ELSE doc_id % 2 = 0 END AS has_gct,
            CASE WHEN corrupt THEN 'parse_error' ELSE 'ok' END AS status,
            CASE WHEN corrupt THEN 'ValueError: truncated sub-block data'
                 ELSE NULL END AS error_msg
          FROM d
        """,
        # image_dedup: candidates from the SAME 4x16-bit pigeonhole
        # the engine uses (any pair within Hamming 3 agrees exactly on
        # >= 1 chunk — the partition needn't match the engine's bit
        # order, only be a partition), exact-Hamming verify restricted
        # to those candidates, then a recursive-CTE transitive closure
        # (min reachable VARCHAR id == the star-algorithm label),
        # sizes by plain group-count.  The former brute-force all-pairs
        # bit join was O(n^2 * 64) and exhausted sandbox disk at the
        # sf0.1 sweep's 5,000 images; banding makes the oracle share
        # the engine's candidate complexity.
        "image_dedup": """
          WITH RECURSIVE dd AS (
            SELECT doc_id, doc_id - doc_id % 2 AS d0 FROM documents),
          blk AS (
            SELECT dd.doc_id, g.b,
              CASE WHEN dd.doc_id % 2 = 1 AND g.b = dd.d0 % 64
                   THEN 255 - (((dd.d0 + 1) * (g.b + 3)
                                * (dd.d0 + 1) * (g.b + 3)
                                + 5 * g.b + dd.d0) % 256)
                   ELSE ((dd.d0 + 1) * (g.b + 3)
                         * (dd.d0 + 1) * (g.b + 3)
                         + 5 * g.b + dd.d0) % 256
              END AS v
            FROM dd, (SELECT unnest(range(0, 64)) AS b) g),
          tot AS (SELECT doc_id, sum(v) AS s FROM blk GROUP BY doc_id),
          bits AS (
            SELECT blk.doc_id, blk.b,
                   CASE WHEN 64 * blk.v > t.s THEN 1 ELSE 0 END AS bit
            FROM blk JOIN tot t ON blk.doc_id = t.doc_id),
          chunks AS (
            SELECT doc_id, b // 16 AS band,
                   sum(bit * (1 << (b % 16))) AS val
            FROM bits GROUP BY doc_id, b // 16),
          cand0 AS (
            SELECT DISTINCT a.doc_id AS da, c.doc_id AS db
            FROM chunks a JOIN chunks c
              ON a.band = c.band AND a.val = c.val
             AND a.doc_id < c.doc_id),
          cand AS (
            SELECT CAST(p.da AS VARCHAR) AS ida,
                   CAST(p.db AS VARCHAR) AS idb
            FROM cand0 p
            JOIN bits a ON a.doc_id = p.da
            JOIN bits c ON c.doc_id = p.db AND c.b = a.b
            GROUP BY 1, 2
            HAVING sum(CASE WHEN a.bit <> c.bit THEN 1 ELSE 0 END) <= 3),
          edges AS (
            SELECT ida AS s, idb AS d FROM cand
            UNION
            SELECT idb AS s, ida AS d FROM cand),
          reach(node, x) AS (
            SELECT s, s FROM edges
            UNION
            SELECT reach.node, e.d FROM reach JOIN edges e
              ON reach.x = e.s),
          labels AS (
            SELECT node, min(x) AS cluster_id FROM reach GROUP BY node),
          assign AS (
            SELECT CAST(d.doc_id AS VARCHAR) AS media_id,
                   coalesce(l.cluster_id, CAST(d.doc_id AS VARCHAR))
                     AS cluster_id
            FROM documents d LEFT JOIN labels l
              ON CAST(d.doc_id AS VARCHAR) = l.node),
          sizes AS (
            SELECT cluster_id, count(*) AS cluster_size
            FROM assign GROUP BY cluster_id)
          SELECT a.media_id, a.cluster_id,
                 a.media_id = a.cluster_id AS is_canonical,
                 CAST(s.cluster_size AS BIGINT) AS cluster_size
          FROM assign a JOIN sizes s ON a.cluster_id = s.cluster_id
        """,
        # audio_segments: the oracle regenerates every PCM sample,
        # re-derives frame energies + the strict mean-square loudness
        # test, and groups loud runs with gaps-and-islands — nothing
        # about the operator's arithmetic is assumed
        "audio_segments": _audio_segments_sql(),
        # caption_align: shared segment SQL + closed-form cue extents,
        # overlap condition and arithmetic re-derived
        "caption_align": f"""
          WITH segs AS (
            SELECT media_id, seg_idx, start_ms AS s_lo, end_ms AS s_hi
            FROM ({_audio_segments_sql()})),
          cues AS (
            SELECT CAST(d.doc_id AS VARCHAR) AS media_id,
                   CAST(t.i + 1 AS INT) AS cue_idx,
                   t.i * 120 + d.doc_id % 50 AS c_lo,
                   t.i * 120 + d.doc_id % 50 + 140 AS c_hi
            FROM (SELECT doc_id, 3 + doc_id % 3 AS nc FROM documents) d,
                 unnest(range(0, d.nc)) AS t(i))
          SELECT s.media_id, s.seg_idx, c.cue_idx,
                 CAST(least(s.s_hi, c.c_hi) - greatest(s.s_lo, c.c_lo)
                      AS BIGINT) AS overlap_ms
          FROM segs s JOIN cues c ON s.media_id = c.media_id
          WHERE s.s_lo < c.c_hi AND c.c_lo < s.s_hi
        """,
        # dHash: 72 closed-form block values per doc; bit bi compares
        # horizontally adjacent blocks (strict <), then the same
        # bitstring/nibble assembly as image_ahash
        "image_dhash": """
          WITH dd AS (
            SELECT doc_id, doc_id - doc_id % 2 AS d0 FROM documents),
          blk AS (
            SELECT dd.doc_id, g.b,
              CASE WHEN dd.doc_id % 2 = 1 AND g.b = dd.d0 % 72
                   THEN 255 - (((dd.d0 + 1) * (g.b + 3)
                                * (dd.d0 + 1) * (g.b + 3)
                                + 5 * g.b + dd.d0) % 256)
                   ELSE ((dd.d0 + 1) * (g.b + 3)
                         * (dd.d0 + 1) * (g.b + 3)
                         + 5 * g.b + dd.d0) % 256
              END AS v
            FROM dd, (SELECT unnest(range(0, 72)) AS b) g),
          bits AS (
            SELECT l.doc_id, (l.b // 9) * 8 + (l.b % 9) AS bi,
                   CASE WHEN l.v < r.v THEN 1 ELSE 0 END AS bit
            FROM blk l JOIN blk r
              ON l.doc_id = r.doc_id AND r.b = l.b + 1
            WHERE l.b % 9 < 8),
          bstr AS (
            SELECT doc_id,
                   string_agg(CAST(bit AS VARCHAR), '' ORDER BY bi)
                     AS ahash_bits
            FROM bits GROUP BY doc_id),
          nib AS (
            SELECT doc_id, bi // 4 AS ni,
                   sum(bit * CASE bi % 4 WHEN 0 THEN 8 WHEN 1 THEN 4
                             WHEN 2 THEN 2 ELSE 1 END) AS nv
            FROM bits GROUP BY doc_id, bi // 4),
          hexs AS (
            SELECT doc_id,
                   string_agg(substr('0123456789abcdef',
                                     CAST(nv AS INT) + 1, 1),
                              '' ORDER BY ni) AS ahash_hex
            FROM nib GROUP BY doc_id)
          SELECT CAST(bstr.doc_id AS VARCHAR) AS media_id,
                 CAST(18 AS INT) AS width, CAST(16 AS INT) AS height,
                 bstr.ahash_bits, hexs.ahash_hex, 'ok' AS status
          FROM bstr JOIN hexs ON bstr.doc_id = hexs.doc_id
        """,
        # ahash_near_dup: brute-force Hamming over the re-derived bit
        # tables; pair order is lexicographic on the VARCHAR ids to
        # match the operator's string comparison
        "ahash_near_dup": """
          WITH dd AS (
            SELECT doc_id, doc_id - doc_id % 2 AS d0 FROM documents),
          blk AS (
            SELECT dd.doc_id, g.b,
              CASE WHEN dd.doc_id % 2 = 1 AND g.b = dd.d0 % 64
                   THEN 255 - (((dd.d0 + 1) * (g.b + 3)
                                * (dd.d0 + 1) * (g.b + 3)
                                + 5 * g.b + dd.d0) % 256)
                   ELSE ((dd.d0 + 1) * (g.b + 3)
                         * (dd.d0 + 1) * (g.b + 3)
                         + 5 * g.b + dd.d0) % 256
              END AS v
            FROM dd, (SELECT unnest(range(0, 64)) AS b) g),
          tot AS (SELECT doc_id, sum(v) AS s FROM blk GROUP BY doc_id),
          bits AS (
            SELECT blk.doc_id, blk.b,
                   CASE WHEN 64 * blk.v > t.s THEN 1 ELSE 0 END AS bit
            FROM blk JOIN tot t ON blk.doc_id = t.doc_id),
          p AS (
            SELECT CAST(a.doc_id AS VARCHAR) AS media_a,
                   CAST(c.doc_id AS VARCHAR) AS media_b,
                   sum(CASE WHEN a.bit <> c.bit THEN 1 ELSE 0 END)
                     AS hamming
            FROM bits a JOIN bits c
              ON a.b = c.b
             AND CAST(a.doc_id AS VARCHAR) < CAST(c.doc_id AS VARCHAR)
            GROUP BY 1, 2)
          SELECT media_a, media_b, CAST(hamming AS INT) AS hamming
          FROM p WHERE hamming <= 3
        """,
        # audio_decode: the decoder's integer accumulators are exact, so
        # the oracle regenerates the sawtooth samples and re-aggregates;
        # mean is one IEEE division, rms one IEEE sqrt — bit-identical
        "audio_decode": """
          WITH params AS (
            SELECT doc_id,
                   800 + (doc_id % 64) * 16 AS n,
                   CASE WHEN doc_id % 2 = 0 THEN 8000 ELSE 16000 END AS rate,
                   doc_id % 4096 AS base,
                   7 + (doc_id % 5) AS step,
                   (doc_id % 17 = 0) AS corrupt
            FROM documents),
          s0 AS (
            SELECT doc_id,
                   unnest(list_transform(range(0, n),
                          i -> ((base + step * i) % 4096) - 2048)) AS s
            FROM params WHERE NOT corrupt),
          ag AS (
            SELECT doc_id,
                   CAST(sum(s) AS DOUBLE) / count(*) AS mean_amp,
                   sqrt(CAST(sum(s * s) AS DOUBLE) / count(*)) AS rms,
                   CAST(max(abs(s)) AS DOUBLE) AS peak
            FROM s0 GROUP BY doc_id)
          SELECT CAST(p.doc_id AS VARCHAR) AS media_id,
                 CASE WHEN corrupt THEN NULL ELSE 'audio' END AS kind,
                 CASE WHEN corrupt THEN NULL
                      ELSE CAST(n * 1000 // rate AS BIGINT)
                 END AS duration_ms,
                 CASE WHEN corrupt THEN NULL ELSE CAST(n AS INT)
                 END AS n_frames,
                 ag.mean_amp, ag.rms, ag.peak,
                 CASE WHEN corrupt THEN 'processing_error'
                      ELSE 'ok' END AS status,
                 CASE WHEN corrupt
                      THEN 'ValueError: data chunk truncated: want '
                           || (2 * n) || ' bytes, got ' || (2 * n - 1)
                      ELSE NULL END AS error_msg
          FROM params p LEFT JOIN ag USING (doc_id)
        """,
        "media_decode": (
            "SELECT CAST(doc_id AS VARCHAR) AS media_id, 'image' AS kind, "
            "CAST(64 + doc_id % 512 AS INT) AS width, "
            "CAST(64 + (doc_id * 7) % 512 AS INT) AS height, "
            "1 AS n_frames, 'ok' AS status FROM documents"
        ),
        # search keys: the same closed fold table interpolated into
        # translate(); both engines lower -> translate -> collapse
        "search_keys": _search_keys_sql(),
        # EXIF: every builder field is a closed-form function of doc_id
        # (the parser's endian/offset work is what the equality tests)
        "exif": """
          SELECT CAST(doc_id AS VARCHAR) AS media_id,
            CASE WHEN doc_id % 17 = 0 THEN NULL
                 WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order,
            CASE WHEN doc_id % 17 = 0 THEN NULL
                 ELSE CAST(doc_id % 8 + 1 AS INT) END AS orientation,
            CASE WHEN doc_id % 17 = 0 THEN NULL
                 ELSE '2024:01:'
                      || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
                      || ' 12:' || lpad(CAST(doc_id % 60 AS VARCHAR), 2, '0')
                      || ':00' END AS "datetime",
            CASE WHEN doc_id % 17 = 0 THEN NULL
                 ELSE doc_id % 4 = 0 END AS has_gps,
            CASE WHEN doc_id % 17 = 0 THEN NULL
                 ELSE CAST(CASE WHEN doc_id % 4 = 0 THEN 3 ELSE 2 END AS INT)
                 END AS n_ifd0_entries,
            CASE WHEN doc_id % 17 = 0 THEN 'parse_error' ELSE 'ok' END
              AS status,
            CASE WHEN doc_id % 17 = 0 THEN 'ValueError: truncated segment'
                 ELSE NULL END AS error_msg
          FROM documents
        """,
        "fingerprint": f"""
          SELECT doc_id,
            array_to_string(
              list_sort(list_transform({shingles}, s -> md5(s)))[1:4],
              '') AS fp
          FROM documents
        """,
        # winnowing: ORDERED (non-distinct) 3-gram hashes, min per
        # 4-window with rightmost tie-break, distinct (pos, h) — the
        # identical selection arithmetic as text.with_winnow_fingerprints
        # over the same 60-bit md5 family
        "winnowing": f"""
          WITH {_winnow_sel_sql(toks)}
          SELECT doc_id, pos, h FROM wfp
          ORDER BY doc_id, pos
        """,
        # winnow_pairs: MOSS composition over the same selection —
        # distinct (doc, h), df-capped hot hashes removed, equi-join,
        # shared-count threshold.  max_df / min_shared are INTERPOLATED
        # from the winnow_pairs signature defaults (the q_winnow_pairs
        # call site passes no overrides), so changing the engine
        # defaults cannot silently desync this oracle.
        "winnow_pairs": f"""
          WITH {_winnow_sel_sql(toks)},
          fp AS (SELECT DISTINCT doc_id, h FROM wfp),
          dfh AS (SELECT h, count(*) AS df_h FROM fp GROUP BY h),
          keep AS (SELECT fp.doc_id, fp.h
                   FROM fp JOIN dfh USING (h)
                   WHERE df_h <= {_WINNOW_MAX_DF}),
          pairs AS (SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                           count(*) AS shared
                    FROM keep a JOIN keep b
                      ON a.h = b.h AND a.doc_id < b.doc_id
                    GROUP BY 1, 2)
          SELECT doc_a, doc_b, CAST(shared AS BIGINT) AS shared
          FROM pairs WHERE shared >= {_WINNOW_MIN_SHARED}
          ORDER BY doc_a, doc_b
        """,
        # heaps_fit: cumulative tokens/vocab via window cumsums (the
        # oracle may globally window what the engine prefix-sums in two
        # passes); min-doc first occurrence makes cumulative distinct
        # prefix-summable; zipf_fit's regr_slope convention
        "heaps_fit": f"""
          WITH tok AS (
            SELECT doc_id,
              CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                   ELSE {toks} END AS tl FROM documents),
          sizes AS (SELECT doc_id, CAST(len(tl) AS BIGINT) AS n_tok
                    FROM tok),
          fd AS (SELECT tok, min(doc_id) AS fd
                 FROM (SELECT doc_id, unnest(tl) AS tok FROM tok)
                 GROUP BY tok),
          nt AS (SELECT fd AS doc_id, count(*) AS new_types
                 FROM fd GROUP BY fd),
          per AS (SELECT s.doc_id, s.n_tok,
                         coalesce(nt.new_types, 0) AS nv
                  FROM sizes s LEFT JOIN nt USING (doc_id)),
          cum AS (SELECT doc_id,
                    CAST(sum(n_tok) OVER (ORDER BY doc_id) AS BIGINT)
                      AS cn,
                    CAST(sum(nv) OVER (ORDER BY doc_id) AS BIGINT) AS cv
                  FROM per)
          SELECT CAST(count(*) AS BIGINT) AS n_points,
                 round(regr_slope(ln(cv), ln(cn)), 4) AS beta,
                 round(regr_intercept(ln(cv), ln(cn)), 4) AS ln_k
          FROM cum WHERE cn > 0 AND cv > 0
        """,
        "token_count": f"""
          SELECT doc_id,
            CASE WHEN len(trim(text)) = 0 THEN 0 ELSE len({toks}) END AS n_tokens,
            length(text) AS n_chars_actual
          FROM documents
        """,
        # chunking: the chunk-count closed form (operators/chunk.py)
        # re-derived arithmetically; unnest(range(0, nc)) multiplies
        # rows exactly as posexplode(sequence(0, nc-1)) does
        "chunk_text": f"""
          WITH c AS (
            SELECT doc_id, text,
              CASE WHEN length(text) <= {CHUNK_CHARS} THEN 1
                   ELSE 1 + CAST(ceil((length(text) - {CHUNK_CHARS})
                                      / {CHUNK_CHARS - CHUNK_CHARS_OVERLAP}.0)
                                 AS INT) END AS nc
            FROM documents),
          e AS (SELECT doc_id, text, unnest(range(0, nc)) AS i FROM c)
          SELECT doc_id, CAST(i AS INT) AS chunk_id,
            CAST(i * {CHUNK_CHARS - CHUNK_CHARS_OVERLAP} AS INT) AS start,
            CAST(least(i * {CHUNK_CHARS - CHUNK_CHARS_OVERLAP}
                       + {CHUNK_CHARS}, length(text)) AS INT) AS "end",
            substr(text,
                   CAST(i * {CHUNK_CHARS - CHUNK_CHARS_OVERLAP} + 1 AS INT),
                   {CHUNK_CHARS}) AS chunk
          FROM e ORDER BY doc_id, chunk_id
        """,
        # sections: the builder's 2 heading sections + the every-3rd
        # NULL-heading preamble, all closed-form from the token list
        "sections": f"""
          WITH tok AS (
            SELECT doc_id,
              CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                   ELSE {toks} END AS tl
            FROM documents)
          SELECT doc_id, CAST(0 AS INT) AS section_idx,
                 CAST(NULL AS VARCHAR) AS heading,
                 'intro ' || coalesce(tl[1], '') AS body,
                 CAST(2 AS INT) AS n_tokens
          FROM tok WHERE doc_id % 3 = 0
          UNION ALL
          SELECT doc_id, CAST(1 AS INT), '# T' || doc_id,
                 array_to_string(tl[1:8], ' '),
                 CAST(least(len(tl), 8) AS INT)
          FROM tok
          UNION ALL
          SELECT doc_id, CAST(2 AS INT), '## Sec2',
                 array_to_string(tl[9:16], ' '),
                 CAST(greatest(least(len(tl), 16) - 8, 0) AS INT)
          FROM tok
          ORDER BY doc_id, section_idx
        """,
        "chunk_tokens": f"""
          WITH tok AS (
            SELECT doc_id,
              CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                   ELSE {toks} END AS tl
            FROM documents),
          c AS (
            SELECT doc_id, tl,
              CASE WHEN len(tl) <= {CHUNK_TOKS} THEN 1
                   ELSE 1 + CAST(ceil((len(tl) - {CHUNK_TOKS})
                                      / {CHUNK_TOKS - CHUNK_TOKS_OVERLAP}.0)
                                 AS INT) END AS nc
            FROM tok),
          e AS (SELECT doc_id, tl, unnest(range(0, nc)) AS i FROM c)
          SELECT doc_id, CAST(i AS INT) AS chunk_id,
            CAST(i * {CHUNK_TOKS - CHUNK_TOKS_OVERLAP} AS INT) AS tok_start,
            CAST(least(i * {CHUNK_TOKS - CHUNK_TOKS_OVERLAP} + {CHUNK_TOKS},
                       len(tl)) AS INT) AS tok_end,
            array_to_string(
              tl[CAST(i * {CHUNK_TOKS - CHUNK_TOKS_OVERLAP} + 1 AS INT)
                 : CAST(i * {CHUNK_TOKS - CHUNK_TOKS_OVERLAP}
                        + {CHUNK_TOKS} AS INT)], ' ') AS chunk
          FROM e ORDER BY doc_id, chunk_id
        """,
        # collocations: identical PMI formula on raw counts; both
        # engines rank by the ROUNDED pmi then pair text, so the top-k
        # boundary is decided from bit-identical doubles
        "collocations": f"""
          WITH tok AS (
            SELECT CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                        ELSE {toks} END AS tl
            FROM documents),
          uc AS (SELECT w, count(*) AS c_w
                 FROM (SELECT unnest(tl) AS w FROM tok) GROUP BY w),
          pc AS (
            SELECT p.w1 AS w1, p.w2 AS w2, count(*) AS pair_count
            FROM (SELECT unnest(list_transform(range(1, len(tl)),
                    i -> {{'w1': tl[i], 'w2': tl[i + 1]}})) AS p
                  FROM tok)
            GROUP BY 1, 2),
          tot AS (
            SELECT (SELECT CAST(sum(c_w) AS BIGINT) FROM uc) AS n_tok,
                   (SELECT CAST(sum(pair_count) AS BIGINT) FROM pc) AS n_pairs)
          SELECT w1, w2, pair_count,
            round(ln((pair_count / n_pairs)
                     / ((x.c_w / n_tok) * (y.c_w / n_tok))), 6) AS pmi
          FROM pc JOIN uc x ON pc.w1 = x.w JOIN uc y ON pc.w2 = y.w, tot
          WHERE pair_count >= {COLLOC_MIN_COUNT}
          ORDER BY pmi DESC, w1, w2 LIMIT {COLLOC_K}
        """,
        # BPE round-0 pair statistics: range(1, length(word)) is empty
        # for 1-char words — the same >= 2 guard the engine applies
        "bpe_pairs": f"""
          WITH tok AS (
            SELECT CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                        ELSE {toks} END AS tl
            FROM documents),
          wf AS (SELECT word, count(*) AS freq
                 FROM (SELECT unnest(tl) AS word FROM tok) GROUP BY word),
          e AS (SELECT word, freq, unnest(range(1, length(word))) AS i
                FROM wf)
          SELECT substr(word, CAST(i AS INT), 1) AS lhs,
                 substr(word, CAST(i AS INT) + 1, 1) AS rhs,
                 CAST(sum(freq) AS BIGINT) AS pair_count
          FROM e GROUP BY 1, 2
          ORDER BY pair_count DESC, lhs, rhs LIMIT {BPE_TOPK}
        """,
        # table extraction: every cell of the constructed pages
        # (_table_pages) re-derived arithmetically — header row c0..c3,
        # data cell (1 + i//4, i%4) = token i, second table iff
        # doc_id % 3 = 0; the nav link must NOT appear
        "table_extract": f"""
          WITH tok AS (
            SELECT doc_id,
              CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                   ELSE {toks} END AS tl
            FROM documents),
          hdr AS (
            SELECT doc_id, CAST(0 AS INT) AS table_idx,
                   CAST(0 AS INT) AS row_idx, CAST(c AS INT) AS col_idx,
                   true AS is_header, 'c' || c::VARCHAR AS cell
            FROM tok, (SELECT unnest(range(0, 4)) AS c)),
          dat AS (
            SELECT doc_id, CAST(0 AS INT) AS table_idx,
                   CAST(1 + i // 4 AS INT) AS row_idx,
                   CAST(i % 4 AS INT) AS col_idx,
                   false AS is_header, tl[CAST(i + 1 AS INT)] AS cell
            FROM (SELECT doc_id, tl, unnest(range(0, len(tl))) AS i
                  FROM tok)),
          second AS (
            SELECT doc_id, CAST(1 AS INT) AS table_idx,
                   CAST(0 AS INT) AS row_idx, CAST(c AS INT) AS col_idx,
                   false AS is_header,
                   CASE WHEN c = 0 THEN 'k' ELSE doc_id::VARCHAR END AS cell
            FROM tok, (SELECT unnest(range(0, 2)) AS c)
            WHERE doc_id % 3 = 0)
          SELECT * FROM hdr
          UNION ALL SELECT * FROM dat
          UNION ALL SELECT * FROM second
          ORDER BY doc_id, table_idx, row_idx, col_idx
        """,
        # record triples from the same planted layout: field c<i%4>,
        # record i//4, value = token; headerless table 1 absent
        "table_records": f"""
          WITH tok AS (
            SELECT doc_id,
              CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                   ELSE {toks} END AS tl
            FROM documents)
          SELECT doc_id, CAST(0 AS INT) AS table_idx,
                 CAST(i // 4 AS INT) AS record_idx,
                 'c' || (i % 4)::VARCHAR AS field,
                 tl[CAST(i + 1 AS INT)] AS value
          FROM (SELECT doc_id, tl, unnest(range(0, len(tl))) AS i
                FROM tok)
          ORDER BY doc_id, table_idx, record_idx, field
        """,
        # markdown rendering: the closed-form markdown both engines
        # build from the doc's tokens (_markdown_pages fancy branch
        # iff >= 8 tokens; bare paragraph otherwise)
        "html_markdown": f"""
          WITH tok AS (
            SELECT doc_id,
              trim(regexp_replace(text, '\\s+', ' ', 'g')) AS tc,
              CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                   ELSE {toks} END AS tl
            FROM documents)
          SELECT doc_id,
            CASE WHEN len(tl) >= 8 THEN
              '# ' || array_to_string(tl[1:3], ' ')
              || chr(10) || chr(10) || tc
              || chr(10) || chr(10) || '- ' || tl[1]
              || chr(10) || '- ' || tl[2]
              || chr(10) || '  - ' || tl[3]
              || chr(10) || chr(10) || '1. ' || tl[4]
              || chr(10) || '2. ' || tl[5]
              || chr(10) || chr(10) || '[' || array_to_string(tl[3:4], ' ')
              || '](/d/' || doc_id::VARCHAR || ') and **' || tl[5]
              || '** or *' || tl[6] || '* plus `' || tl[7] || '`'
              || chr(10) || chr(10) || '> ' || tl[8]
              || chr(10) || chr(10) || '---'
              || chr(10) || chr(10) || '```'
              || chr(10) || 'raw   ' || tl[1]
              || chr(10) || '  ' || tl[2]
              || chr(10) || '```'
            ELSE tc END AS markdown
          FROM tok ORDER BY doc_id
        """,
        # WET conversion records rebuilt byte-for-byte: md5 record id,
        # sha256 block digest, Content-Length in BYTES of the utf-8
        # text (octet_length(encode(..)) on both engines)
        "wet_export": """
          WITH b AS (
            SELECT
              'https://corpus.example.com/d/' || doc_id::VARCHAR AS url,
              strftime(TIMESTAMP '2024-01-01 00:00:00'
                       + to_minutes(doc_id), '%Y-%m-%dT%H:%M:%SZ') AS d,
              coalesce(text, '') AS t
            FROM documents)
          SELECT url,
            'WARC/1.0' || chr(13) || chr(10)
            || 'WARC-Type: conversion' || chr(13) || chr(10)
            || 'WARC-Target-URI: ' || url || chr(13) || chr(10)
            || 'WARC-Date: ' || d || chr(13) || chr(10)
            || 'WARC-Record-ID: <urn:md5:' || md5(url || '|' || d) || '>'
            || chr(13) || chr(10)
            || 'WARC-Block-Digest: sha256:' || sha256(t)
            || chr(13) || chr(10)
            || 'Content-Type: text/plain' || chr(13) || chr(10)
            || 'Content-Length: ' || octet_length(encode(t))::VARCHAR
            || chr(13) || chr(10) || chr(13) || chr(10)
            || t || chr(13) || chr(10) || chr(13) || chr(10) AS wet
          FROM b ORDER BY url
        """,
        # bigram LM: identical add-1 conditional and mean-logprob
        # arithmetic; ppl rounds the exp of the UNrounded mean (same
        # as the engine and the unigram lm_score convention)
        "bigram_lm": f"""
          WITH tok AS (
            SELECT doc_id,
              CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                   ELSE {toks} END AS tl
            FROM documents),
          pr AS (
            SELECT doc_id, p.w1 AS w1, p.w2 AS w2
            FROM (SELECT doc_id, unnest(list_transform(range(1, len(tl)),
                    i -> {{'w1': tl[i], 'w2': tl[i + 1]}})) AS p
                  FROM tok)),
          bg AS (SELECT w1, w2, count(*) AS c_xy FROM pr GROUP BY 1, 2),
          uni AS (SELECT w1, count(*) AS c_x
                  FROM (SELECT unnest(tl) AS w1 FROM tok) GROUP BY w1),
          vs AS (SELECT count(*) AS v FROM uni),
          sc AS (
            SELECT pr.doc_id,
              ln((b.c_xy + 1)
                 / CAST(u.c_x + (SELECT v FROM vs) AS DOUBLE)) AS lp
            FROM pr JOIN bg b USING (w1, w2) JOIN uni u USING (w1)),
          per AS (SELECT doc_id, avg(lp) AS a, count(*) AS nb
                  FROM sc GROUP BY doc_id)
          SELECT t.doc_id,
            CAST(coalesce(p.nb, 0) AS BIGINT) AS n_bigrams,
            round(p.a, 6) AS avg_logprob,
            round(exp(-p.a), 6) AS ppl
          FROM tok t LEFT JOIN per p USING (doc_id)
          ORDER BY t.doc_id
        """,
        # kn_bigram_lm: interpolated Kneser-Ney with d = 0.75 — same
        # CTE skeleton as bigram_lm; the per-pair probability mirrors
        # quality.kneser_ney_logprob's operand order exactly
        # (greatest(c_xy - d, 0)/c_x + d*n_fw/c_x*(n_bw/np)) so the
        # doubles agree bit-for-bit before the shared round(6)
        "kn_bigram_lm": f"""
          WITH tok AS (
            SELECT doc_id,
              CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                   ELSE {toks} END AS tl
            FROM documents),
          pr AS (
            SELECT doc_id, p.w1 AS w1, p.w2 AS w2
            FROM (SELECT doc_id, unnest(list_transform(range(1, len(tl)),
                    i -> {{'w1': tl[i], 'w2': tl[i + 1]}})) AS p
                  FROM tok)),
          bg AS (SELECT w1, w2, count(*) AS c_xy FROM pr GROUP BY 1, 2),
          ctx AS (SELECT w1, CAST(sum(c_xy) AS BIGINT) AS c_x,
                         count(*) AS n_fw FROM bg GROUP BY w1),
          bk AS (SELECT w2, count(*) AS n_bw FROM bg GROUP BY w2),
          nps AS (SELECT count(*) AS np FROM bg),
          sc AS (
            SELECT pr.doc_id,
              ln(greatest(b.c_xy - 0.75, 0.0) / c.c_x
                 + 0.75 * c.n_fw / c.c_x
                 * (k.n_bw / (SELECT np FROM nps))) AS lp
            FROM pr JOIN bg b USING (w1, w2) JOIN ctx c USING (w1)
                    JOIN bk k USING (w2)),
          per AS (SELECT doc_id, avg(lp) AS a, count(*) AS nb
                  FROM sc GROUP BY doc_id)
          SELECT t.doc_id,
            CAST(coalesce(p.nb, 0) AS BIGINT) AS n_bigrams,
            round(p.a, 6) AS avg_logprob,
            round(exp(-p.a), 6) AS ppl
          FROM tok t LEFT JOIN per p USING (doc_id)
          ORDER BY t.doc_id
        """,
        # cross_ppl: bigram model from EVEN docs scoring ODD docs;
        # LEFT joins + coalesce(0) give unseen pairs the add-1 floor —
        # identical expression order to quality.cross_bigram_logprob
        "cross_ppl": f"""
          WITH tr AS (
            SELECT CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                        ELSE {toks} END AS tl
            FROM documents WHERE doc_id % 2 = 0),
          sc AS (
            SELECT doc_id,
              CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                   ELSE {toks} END AS tl
            FROM documents WHERE doc_id % 2 = 1),
          bg AS (SELECT p.w1 AS w1, p.w2 AS w2, count(*) AS c_xy
                 FROM (SELECT unnest(list_transform(range(1, len(tl)),
                         i -> {{'w1': tl[i], 'w2': tl[i + 1]}})) AS p
                       FROM tr) GROUP BY 1, 2),
          uni AS (SELECT w1, count(*) AS c_x
                  FROM (SELECT unnest(tl) AS w1 FROM tr) GROUP BY w1),
          vs AS (SELECT count(*) AS v FROM uni),
          pr AS (
            SELECT doc_id, p.w1 AS w1, p.w2 AS w2
            FROM (SELECT doc_id, unnest(list_transform(range(1, len(tl)),
                    i -> {{'w1': tl[i], 'w2': tl[i + 1]}})) AS p
                  FROM sc)),
          sco AS (
            SELECT pr.doc_id,
              ln(CAST(coalesce(b.c_xy, 0) + 1 AS DOUBLE)
                 / (coalesce(u.c_x, 0) + (SELECT v FROM vs))) AS lp
            FROM pr LEFT JOIN bg b USING (w1, w2)
                    LEFT JOIN uni u USING (w1)),
          per AS (SELECT doc_id, avg(lp) AS a, count(*) AS nb
                  FROM sco GROUP BY doc_id)
          SELECT t.doc_id,
            CAST(coalesce(p.nb, 0) AS BIGINT) AS n_bigrams,
            round(p.a, 6) AS avg_logprob,
            round(exp(-p.a), 6) AS ppl
          FROM sc t LEFT JOIN per p USING (doc_id)
          ORDER BY t.doc_id
        """,
        # min_k_prob: per-token unigram logprobs, per-doc ascending
        # sort, first ceil(0.2 n) slice, mean — the oracle's list
        # aggregation mirrors the engine's per-row fold (sum order
        # inside the slice differs; round(6) is the shared publication)
        "min_k_prob": f"""
          WITH tok AS (
            SELECT doc_id,
              CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                   ELSE {toks} END AS tl FROM documents),
          tk AS (SELECT doc_id, unnest(tl) AS tok FROM tok),
          vocab AS (SELECT tok, count(*) AS c FROM tk GROUP BY tok),
          tot AS (SELECT CAST(sum(c) AS BIGINT) AS n_total,
                         count(*) AS v_size FROM vocab),
          sco AS (
            SELECT tk.doc_id,
              ln(CAST(v.c + 1 AS DOUBLE) / (t.n_total + t.v_size)) AS lp
            FROM tk JOIN vocab v USING (tok) CROSS JOIN tot t),
          per AS (SELECT doc_id, list(lp ORDER BY lp) AS lps
                  FROM sco GROUP BY doc_id),
          sel AS (SELECT doc_id, len(lps) AS n,
                         CAST(ceil(len(lps) * 0.2) AS INT) AS kn,
                         lps FROM per)
          SELECT d.doc_id,
            CAST(coalesce(s.n, 0) AS BIGINT) AS n_tokens,
            CAST(coalesce(s.kn, 0) AS INT) AS k_tokens,
            round(list_sum(s.lps[1:s.kn]) / CAST(s.kn AS DOUBLE), 6)
              AS min_k_logprob
          FROM (SELECT DISTINCT doc_id FROM tok) d
               LEFT JOIN sel s USING (doc_id)
          ORDER BY d.doc_id
        """,
        # stylometry: Burrows' Delta with the engine's explicit
        # sigma = sqrt(avg(f^2) - avg(f)*avg(f)) expression tree; the
        # (term x doc) frame reconstructs zero cells; every 25th doc
        "stylometry": f"""
          WITH d AS (
            SELECT doc_id AS did,
              CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                   ELSE {toks} END AS tl
            FROM documents WHERE doc_id % 25 = 0),
          sizes AS (SELECT did, CAST(len(tl) AS BIGINT) AS n
                    FROM d WHERE len(tl) > 0),
          tdc AS (SELECT tok, did, count(*) AS c
                  FROM (SELECT did, unnest(tl) AS tok FROM d)
                  GROUP BY 1, 2),
          top AS (SELECT tok FROM (
                    SELECT tok, sum(c) AS v FROM tdc GROUP BY tok)
                  ORDER BY v DESC, tok ASC LIMIT 30),
          frame AS (SELECT t.tok, s.did FROM top t CROSS JOIN sizes s),
          cells AS (
            SELECT f.tok, f.did,
              CAST(coalesce(x.c, 0) AS DOUBLE) / z.n AS f
            FROM frame f LEFT JOIN tdc x ON f.tok = x.tok AND f.did = x.did
                 JOIN sizes z ON f.did = z.did),
          stats AS (SELECT tok, avg(f) AS mu,
                           sqrt(avg(f * f) - avg(f) * avg(f)) AS sigma
                    FROM cells GROUP BY tok),
          zs AS (SELECT c.tok, c.did, (c.f - s.mu) / s.sigma AS z
                 FROM cells c JOIN stats s USING (tok)
                 WHERE s.sigma > 0)
          SELECT a.did AS doc_a, b.did AS doc_b,
            round(avg(abs(a.z - b.z)), 6) AS delta,
            CAST(count(*) AS BIGINT) AS n_terms_used
          FROM zs a JOIN zs b ON a.tok = b.tok AND a.did < b.did
          GROUP BY 1, 2 ORDER BY doc_a, doc_b
        """,
        # good_turing: r* = (r+1) N_{r+1}/N_r on the counts-of-counts
        # table; NULL r_star where N_{r+1} is absent (same as engine)
        "good_turing": f"""
          WITH tok AS (
            SELECT CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                        ELSE {toks} END AS tl FROM documents),
          uni AS (SELECT tok, count(*) AS r
                  FROM (SELECT unnest(tl) AS tok FROM tok) GROUP BY tok),
          coc AS (SELECT r, count(*) AS n_r FROM uni GROUP BY r),
          tot AS (SELECT CAST(sum(r * n_r) AS BIGINT) AS n_tokens FROM coc)
          SELECT c.r, c.n_r,
            CAST(coalesce(x.n_r, 0) AS BIGINT) AS n_r1,
            round((c.r + 1) * x.n_r / c.n_r, 6) AS r_star,
            round(c.r * c.n_r / t.n_tokens, 6) AS mass_share
          FROM coc c LEFT JOIN coc x ON x.r = c.r + 1 CROSS JOIN tot t
          ORDER BY c.r LIMIT 20
        """,
        # term_dispersion: the engine's exact-integer |v_i*S - s_i*V|
        # sums re-derived in HUGEINT (engine: decimal(38,0)) with the
        # same closed-form absent-doc tail, divided into double once
        "term_dispersion": f"""
          WITH tok AS (
            SELECT doc_id,
              CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                   ELSE {toks} END AS tl FROM documents),
          sizes AS (SELECT doc_id, CAST(len(tl) AS BIGINT) AS s FROM tok),
          tdc AS (SELECT tok, doc_id, count(*) AS v_i
                  FROM (SELECT doc_id, unnest(tl) AS tok FROM tok)
                  GROUP BY 1, 2),
          vt AS (SELECT tok, CAST(sum(v_i) AS BIGINT) AS v
                 FROM tdc GROUP BY tok),
          topt AS (SELECT tok, v FROM vt ORDER BY v DESC, tok ASC LIMIT 20),
          tot AS (SELECT CAST(sum(s) AS BIGINT) AS s_tot FROM sizes),
          per AS (
            SELECT t.tok, t.v, o.s_tot,
              sum(abs(CAST(d.v_i AS HUGEINT) * CAST(o.s_tot AS HUGEINT)
                      - CAST(z.s AS HUGEINT) * CAST(t.v AS HUGEINT)))
                AS num_present,
              sum(z.s) AS s_present,
              count(*) AS n_docs
            FROM topt t JOIN tdc d USING (tok) JOIN sizes z USING (doc_id)
                 CROSS JOIN tot o
            GROUP BY 1, 2, 3)
          SELECT tok, v, CAST(n_docs AS BIGINT) AS n_docs,
            round(CAST(num_present
                       + CAST(s_tot - s_present AS HUGEINT)
                       * CAST(v AS HUGEINT) AS DOUBLE)
                  / CAST(CAST(2 AS HUGEINT) * CAST(v AS HUGEINT)
                         * CAST(s_tot AS HUGEINT) AS DOUBLE), 6) AS dp
          FROM per ORDER BY v DESC, tok ASC
        """,
        # skipgram_pairs: window-2 skip-grams over every 10th doc; the
        # negatives are the unigram inverse-CDF at the shared 60-bit
        # hash — the oracle may use the global-window CDF the engine's
        # two-pass prefix sum avoids, and a plain range join where the
        # engine buckets the cumulative space
        "skipgram_pairs": f"""
          WITH d AS (
            SELECT doc_id,
              CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                   ELSE {toks} END AS tl
            FROM documents WHERE doc_id % 10 = 0),
          dd AS (SELECT doc_id, tl FROM d WHERE len(tl) >= 2),
          pr AS (
            SELECT doc_id, tl, u['pos'] AS pos, u['cpos'] AS cpos
            FROM (SELECT doc_id, tl,
                    unnest(flatten(list_transform(range(1, len(tl) + 1),
                      i -> list_filter(
                        list_transform(
                          range(greatest(1, i - 2), least(len(tl), i + 2) + 1),
                          j -> {{'pos': CAST(i AS INT),
                                 'cpos': CAST(j AS INT)}}),
                        s -> s['cpos'] != s['pos'])))) AS u
                  FROM dd)),
          prt AS (SELECT doc_id, pos, cpos, tl[pos] AS center,
                         tl[cpos] AS context FROM pr),
          vocab AS (SELECT tok, count(*) AS c
                    FROM (SELECT unnest(tl) AS tok FROM dd) GROUP BY tok),
          cum AS (SELECT tok,
                    CAST(sum(c) OVER (ORDER BY tok) - c AS BIGINT)
                      AS cum_start,
                    CAST(sum(c) OVER (ORDER BY tok) AS BIGINT) AS cum_end
                  FROM vocab),
          tot AS (SELECT CAST(sum(c) AS BIGINT) AS s_tot FROM vocab),
          slots AS (SELECT unnest([1, 2]) AS neg_slot),
          neg AS (
            SELECT p.doc_id, p.pos, p.cpos, p.center, p.context,
                   CAST(s.neg_slot AS INT) AS neg_slot,
                   ('0x' || substr(md5('sgns' || '|'
                      || CAST(p.doc_id AS VARCHAR) || '|'
                      || CAST(p.pos AS VARCHAR) || '|'
                      || CAST(p.cpos AS VARCHAR) || '|'
                      || CAST(s.neg_slot AS VARCHAR)), 1, 15))::BIGINT
                   % t.s_tot AS target
            FROM prt p CROSS JOIN slots s CROSS JOIN tot t)
          SELECT n.doc_id, n.pos, n.cpos, n.center, n.context, n.neg_slot,
                 v.tok AS neg_tok
          FROM neg n JOIN cum v
            ON n.target >= v.cum_start AND n.target < v.cum_end
          ORDER BY n.doc_id, n.pos, n.cpos, n.neg_slot
        """,
        # Flesch reading ease: same operand order so doubles match
        # bit-for-bit before the shared round(6)
        "readability": f"""
          WITH m AS (
            SELECT doc_id,
              CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                   ELSE {toks} END AS tl,
              greatest(len(regexp_extract_all(text, '[.!?]+')), 1) AS ns,
              len(regexp_extract_all(lower(text), '[aeiouy]+')) AS vg
            FROM documents)
          SELECT doc_id,
            CASE WHEN len(tl) > 0 THEN
              round(206.835
                    - 1.015 * (CAST(len(tl) AS DOUBLE) / ns)
                    - 84.6 * (CAST(vg + len(tl)
                        - len(list_filter(tl, w ->
                              regexp_matches(lower(w), '[aeiouy]')))
                        AS DOUBLE) / len(tl)), 6)
            END AS flesch
          FROM m ORDER BY doc_id
        """,
        # unicode normalization: DuckDB's NATIVE nfc_normalize + the
        # same strip regexes — an independent second implementation
        "unicode_clean": """
          WITH aug AS (
            SELECT doc_id, text
              || CASE WHEN doc_id % 4 = 0
                      THEN ' cafe' || chr(769) ELSE '' END
              || CASE WHEN doc_id % 5 = 0
                      THEN chr(7) || 'x' ELSE '' END
              || CASE WHEN doc_id % 7 = 0
                      THEN 'a' || chr(8203) || 'b' ELSE '' END AS t
            FROM documents)
          SELECT doc_id,
            regexp_replace(regexp_replace(nfc_normalize(t),
              '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]', '', 'g'),
              '[\\x{200b}\\x{200c}\\x{200d}\\x{feff}]', '', 'g') AS cleaned
          FROM aug ORDER BY doc_id
        """,
        # positional inverted index: ordinality via the struct-
        # transform idiom; min_df=2 pruning mirrored
        "postings": f"""
          WITH tok AS (
            SELECT doc_id,
              CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                   ELSE {toks} END AS tl
            FROM documents),
          ex AS (
            SELECT doc_id, p.pos AS pos, p.term AS term
            FROM (SELECT doc_id, unnest(list_transform(
                    range(1, len(tl) + 1),
                    i -> {{'pos': CAST(i - 1 AS INT), 'term': tl[i]}})) AS p
                  FROM tok)),
          keep AS (
            SELECT term FROM (
              SELECT term, count(DISTINCT doc_id) AS c FROM ex GROUP BY term)
            WHERE c >= 2)
          SELECT term, doc_id, CAST(count(*) AS BIGINT) AS tf,
                 list_sort(list(pos)) AS positions
          FROM ex WHERE term IN (SELECT term FROM keep)
          GROUP BY term, doc_id
          ORDER BY term, doc_id
        """,
        # KWIC: positions by filtered index range, bounded inclusive
        # slice — identical 1-based arithmetic in both engines
        "snippets": f"""
          WITH tok AS (
            SELECT doc_id,
              CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                   ELSE {toks} END AS tl
            FROM documents),
          pos AS (
            SELECT doc_id, tl,
              unnest(list_filter(range(1, len(tl) + 1),
                     i -> tl[i] = 'spark')) AS p
            FROM tok)
          SELECT doc_id, CAST(p - 1 AS INT) AS pos,
            array_to_string(
              tl[greatest(p - 3, 1):least(p + 3, len(tl))], ' ')
              AS snippet
          FROM pos ORDER BY doc_id, pos
        """,
        # d-gap stats: the oracle runs the NAIVE single lag() window
        # the engine's doc-range-sharded two-phase form provably
        # equals — the equality is the test
        "posting_deltas": f"""
          WITH tok AS (
            SELECT doc_id,
              CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                   ELSE {toks} END AS tl
            FROM documents),
          ex AS (
            SELECT DISTINCT doc_id AS doc, term
            FROM (SELECT doc_id, unnest(tl) AS term FROM tok)),
          keep AS (
            SELECT term FROM ex GROUP BY term HAVING count(*) >= 2),
          p AS (SELECT term, doc FROM ex
                WHERE term IN (SELECT term FROM keep)),
          g AS (
            SELECT term, doc,
              doc - lag(doc) OVER (PARTITION BY term ORDER BY doc) AS gap
            FROM p)
          SELECT term,
            CAST(count(*) AS BIGINT) AS df_t,
            CAST(min(doc) AS BIGINT) AS first_doc,
            CAST(min(gap) AS BIGINT) AS min_gap,
            CAST(max(gap) AS BIGINT) AS max_gap,
            CAST(sum(gap) AS BIGINT) AS gap_sum,
            CAST({_varint_sql('min(doc)')}
                 + sum(CASE WHEN gap IS NULL THEN 0
                       ELSE {_varint_sql('gap')} END) AS BIGINT)
              AS varint_bytes
          FROM g GROUP BY term ORDER BY term
        """,
        # corpus card: quantile_cont == Spark's exact interpolated
        # percentile; counts cast to the engine's integer widths
        "corpus_stats": f"""
          WITH per AS (
            SELECT lang, source,
              CAST(CASE WHEN len(trim(text)) = 0 THEN 0
                        ELSE len({toks}) END AS INT) AS n_toks
            FROM documents)
          SELECT lang, source,
            CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(n_toks) AS BIGINT) AS n_tokens,
            round(avg(n_toks), 6) AS avg_tokens,
            quantile_cont(n_toks, 0.5) AS p50_tokens,
            CAST(min(n_toks) AS INT) AS min_tokens,
            CAST(max(n_toks) AS INT) AS max_tokens
          FROM per GROUP BY lang, source
          ORDER BY lang, source
        """,
        # BM25: same literal-order score expression (term columns
        # combined left-to-right; see bm25_topk determinism note)
        "bm25": f"""
          WITH tok AS (
            SELECT doc_id,
              CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                   ELSE {toks} END AS tl
            FROM documents),
          lens AS (SELECT doc_id, len(tl) AS dl FROM tok),
          ex AS (
            SELECT doc_id, t AS term
            FROM (SELECT doc_id, unnest(tl) AS t FROM tok)
            WHERE t IN ({", ".join(f"'{t}'" for t in BM25_QUERY)})),
          tfs AS (
            SELECT doc_id,
              {", ".join(f"sum(CASE WHEN term = '{t}' THEN 1 ELSE 0 END)"
                         f" AS tf_{i}" for i, t in enumerate(BM25_QUERY))}
            FROM ex GROUP BY doc_id),
          st AS (
            SELECT (SELECT count(*) FROM lens) AS n_docs,
                   (SELECT avg(dl) FROM lens) AS avgdl,
              {", ".join(
                  f"(SELECT count(DISTINCT CASE WHEN term = '{t}' "
                  f"THEN doc_id END) FROM ex) AS df_{i}"
                  for i, t in enumerate(BM25_QUERY))})
          SELECT l.doc_id,
            round(0.0
              {" ".join(
                  f"+ ln((n_docs - df_{i} + 0.5) / (df_{i} + 0.5) + 1)"
                  f" * (CAST(tf_{i} AS DOUBLE) * 2.2"
                  f" / (CAST(tf_{i} AS DOUBLE)"
                  f" + 1.2 * (0.25 + 0.75 * l.dl / avgdl)))"
                  for i in range(len(BM25_QUERY)))}, 6) AS score
          FROM lens l JOIN tfs USING (doc_id), st
          ORDER BY score DESC, l.doc_id LIMIT 10
        """,
        # search composition: the bm25 oracle's ranking left-joined
        # with the first-'spark'-occurrence snippet
        "search_results": f"""
          WITH tok AS (
            SELECT doc_id,
              CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                   ELSE {toks} END AS tl
            FROM documents),
          lens AS (SELECT doc_id, len(tl) AS dl FROM tok),
          ex AS (
            SELECT doc_id, t AS term
            FROM (SELECT doc_id, unnest(tl) AS t FROM tok)
            WHERE t IN ({", ".join(f"'{t}'" for t in BM25_QUERY)})),
          tfs AS (
            SELECT doc_id,
              {", ".join(f"sum(CASE WHEN term = '{t}' THEN 1 ELSE 0 END)"
                         f" AS tf_{i}" for i, t in enumerate(BM25_QUERY))}
            FROM ex GROUP BY doc_id),
          st AS (
            SELECT (SELECT count(*) FROM lens) AS n_docs,
                   (SELECT avg(dl) FROM lens) AS avgdl,
              {", ".join(
                  f"(SELECT count(DISTINCT CASE WHEN term = '{t}' "
                  f"THEN doc_id END) FROM ex) AS df_{i}"
                  for i, t in enumerate(BM25_QUERY))}),
          ranked AS (
            SELECT l.doc_id,
              round(0.0
                {" ".join(
                    f"+ ln((n_docs - df_{i} + 0.5) / (df_{i} + 0.5) + 1)"
                    f" * (CAST(tf_{i} AS DOUBLE) * 2.2"
                    f" / (CAST(tf_{i} AS DOUBLE)"
                    f" + 1.2 * (0.25 + 0.75 * l.dl / avgdl)))"
                    for i in range(len(BM25_QUERY)))}, 6) AS score
            FROM lens l JOIN tfs USING (doc_id), st
            ORDER BY score DESC, l.doc_id LIMIT 10),
          firstpos AS (
            SELECT doc_id, min(p) AS p FROM (
              SELECT doc_id,
                unnest(list_filter(range(1, len(tl) + 1),
                       i -> tl[i] = 'spark')) AS p
              FROM tok) GROUP BY doc_id),
          snip AS (
            SELECT f.doc_id,
              array_to_string(
                t.tl[greatest(f.p - 3, 1):least(f.p + 3, len(t.tl))],
                ' ') AS snippet
            FROM firstpos f JOIN tok t USING (doc_id))
          SELECT r.doc_id, r.score, s.snippet
          FROM ranked r LEFT JOIN snip s USING (doc_id)
          ORDER BY r.score DESC, r.doc_id
        """,
        # snapshot diff: status re-derived from the mutation rules
        # (13 wins over 7 because removal drops the key entirely)
        "crawl_delta": """
          SELECT 'u' || doc_id::VARCHAR AS key,
            CASE WHEN doc_id % 13 = 0 THEN 'removed'
                 WHEN doc_id % 7 = 0 THEN 'changed'
                 ELSE 'unchanged' END AS status
          FROM documents
          UNION ALL
          SELECT 'u' || (doc_id + 1000000)::VARCHAR AS key,
                 'added' AS status
          FROM documents WHERE doc_id % 11 = 0
          ORDER BY key
        """,
        # index ops via set EXCEPT on (key, term): unchanged docs
        # cancel exactly, so restricting to the delta (the engine's
        # performance move) never changes the result
        "index_delta": f"""
          WITH oldt AS (
            SELECT 'u' || doc_id::VARCHAR AS key,
                   coalesce(text, '') AS text
            FROM documents),
          newt AS (
            SELECT 'u' || doc_id::VARCHAR AS key,
                   coalesce(text, '')
                     || CASE WHEN doc_id % 7 = 0 THEN ' updated'
                        ELSE '' END AS text
            FROM documents WHERE doc_id % 13 <> 0
            UNION ALL
            SELECT 'u' || (doc_id + 1000000)::VARCHAR,
                   'new page ' || doc_id::VARCHAR
            FROM documents WHERE doc_id % 11 = 0),
          ot AS (
            SELECT DISTINCT key, term FROM (
              SELECT key, unnest(CASE WHEN len(trim(text)) = 0
                     THEN CAST([] AS VARCHAR[]) ELSE {toks} END) AS term
              FROM oldt)),
          nt AS (
            SELECT DISTINCT key, term FROM (
              SELECT key, unnest(CASE WHEN len(trim(text)) = 0
                     THEN CAST([] AS VARCHAR[]) ELSE {toks} END) AS term
              FROM newt))
          SELECT key, term, 'add' AS op
          FROM (SELECT key, term FROM nt EXCEPT SELECT key, term FROM ot)
          UNION ALL
          SELECT key, term, 'del' AS op
          FROM (SELECT key, term FROM ot EXCEPT SELECT key, term FROM nt)
          ORDER BY key, term, op
        """,
        "capture_history": """
          SELECT event_id, user_id,
                 CAST(row_number() OVER w AS INT) AS version,
                 ts AS valid_from,
                 lead(ts) OVER w AS valid_to,
                 lead(ts) OVER w IS NULL AS is_current
          FROM events
          WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        """,
        "asof_join": """
          WITH l AS (SELECT event_id, user_id, ts FROM events
                     WHERE event_type = 'click'),
               r AS (SELECT user_id, ts, event_id, value FROM events
                     WHERE event_type = 'view')
          SELECT l.event_id, l.user_id,
                 r.event_id AS r_event_id, r.value AS r_value
          FROM l ASOF LEFT JOIN r
            ON l.user_id = r.user_id AND l.ts >= r.ts
        """,
        "range_join": """
          WITH p AS (SELECT event_id AS p_id, value AS v FROM events
                     WHERE event_type = 'click' AND event_id % 3 = 0),
               i AS (SELECT event_id AS i_id, value AS lo,
                            value + 1.0 AS hi FROM events
                     WHERE event_type = 'error' AND event_id % 5 = 0)
          SELECT p_id, i_id, v, lo
          FROM p JOIN i ON i.lo <= p.v AND p.v < i.hi
        """,
        # corpus assembly: hash thresholds are the SAME Python-computed
        # integers the engine filters on (sample_thresholds), and the
        # single-window cumsum here is definitionally equal to the
        # engine's two-pass prefix sum because bucket order (h % 64)
        # leads the ORDER BY
        "stratified_sample": f"""
          SELECT doc_id, source, lang FROM documents
          WHERE ('0x' || substr(md5('|' || doc_id::VARCHAR), 1, 15))::BIGINT
            < CASE source {_mix_threshold_cases()} ELSE 0 END
        """,
        # A-ES: ORDER BY the full-precision key (both engines), round
        # only the emitted column; u = (h+1)/2^60 in (0,1]
        "weighted_sample": f"""
          WITH keyed AS (
            SELECT doc_id, source, n_chars,
              ln((('0x' || substr(md5('|' || doc_id::VARCHAR), 1, 15))::BIGINT
                  + 1.0) / {float(1 << 60)!r}) / n_chars AS es
            FROM documents WHERE n_chars IS NOT NULL AND n_chars > 0)
          SELECT doc_id, source, n_chars, round(es, 9) AS es_key
          FROM keyed ORDER BY es DESC, doc_id ASC LIMIT {WEIGHTED_SAMPLE_K}
        """,
        "epoch_shuffle": f"""
          SELECT doc_id, source,
                 row_number() OVER (ORDER BY
                   ('0x' || substr(md5('{EPOCH_SHUFFLE_SEED}|'
                      || doc_id::VARCHAR), 1, 15))::BIGINT, doc_id) - 1
                   AS epoch_pos
          FROM documents
        """,
        "epoch_mix": f"""
          WITH src AS (
            SELECT doc_id, source,
              CASE source {_epoch_cases()[0]} ELSE 0 END
              + CASE WHEN ('0x' || substr(md5('|' || doc_id::VARCHAR),
                                          1, 15))::BIGINT
                          < CASE source {_epoch_cases()[1]} ELSE 0 END
                     THEN 1 ELSE 0 END AS n
            FROM documents)
          SELECT doc_id, source,
                 CAST(unnest(range(1, n + 1)) AS INT) AS epoch
          FROM src WHERE n > 0
        """,
        "dsir_select": _dsir_sql(),
        "data_split": _data_split_sql(),
        "bloom_dedup": _bloom_dedup_sql(),
        "token_budget_mix": f"""
          WITH tb AS (
            SELECT doc_id, source,
              CAST(CASE WHEN len(trim(text)) = 0 THEN 0
                   ELSE len({toks}) END AS BIGINT) AS n_tokens,
              ('0x' || substr(md5('|' || doc_id::VARCHAR), 1, 15))::BIGINT AS h
            FROM documents
            WHERE source IN ({_mix_budget_sources()})
          ), run AS (
            SELECT doc_id, source, n_tokens,
              CAST(sum(n_tokens) OVER (PARTITION BY source
                   ORDER BY h % 64, h, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum_tokens
            FROM tb
          )
          SELECT doc_id, source, n_tokens, cum_tokens FROM run
          WHERE cum_tokens <= CASE source {_mix_budget_cases()} ELSE 0 END
        """,
        # sequence packing: the single-window cumsum here equals the
        # engine's two-pass prefix sum because bucket order (h % 64)
        # leads the ORDER BY; empty docs pack to nothing on both sides
        "curate_corpus": _curate_corpus_sql(),
        "warc_extract": (
            "SELECT doc_id, 'https://synth.test/doc/' || doc_id::VARCHAR AS url, "
            "'2024-06-01T10:' || lpad((doc_id % 60)::VARCHAR, 2, '0') || ':00Z' "
            "AS warc_ts, text FROM documents"
        ),
        "url_normalize": _url_normalize_sql(),
        "domain_topk": _domain_topk_sql(),
        "url_blocklist": _url_blocklist_sql(),
        "crawl_schedule": _crawl_schedule_sql(),
        "robots_filter": """
          SELECT doc_id,
            'https://site' || CAST(doc_id % 20 AS VARCHAR) || '.example.com'
              || CASE doc_id % 5
                   WHEN 0 THEN '/public/' || CAST(doc_id AS VARCHAR)
                   WHEN 1 THEN '/private/' || CAST(doc_id AS VARCHAR)
                   WHEN 2 THEN '/private/ok/' || CAST(doc_id AS VARCHAR)
                   WHEN 3 THEN '/tmp/' || CAST(doc_id AS VARCHAR)
                   ELSE '/' END AS url,
            CAST(CASE WHEN (doc_id % 20) % 2 = 1 THEN 1
                      WHEN doc_id % 5 IN (1, 3) THEN 0
                      ELSE 1 END AS INT) AS allowed
          FROM documents ORDER BY doc_id
        """,
        "outlinks": f"""
          SELECT * FROM ({_outlinks_edges_sql()})
          ORDER BY doc_id, dst
        """,
        "anchor_agg": f"""
          WITH edges AS ({_outlinks_edges_sql()}),
          pa AS (SELECT dst, anchor, count(*) AS cnt
                 FROM edges GROUP BY dst, anchor),
          rk AS (
            SELECT dst, anchor, cnt,
                   row_number() OVER (PARTITION BY dst
                     ORDER BY cnt DESC, anchor DESC) AS rn,
                   sum(cnt) OVER (PARTITION BY dst) AS n_in,
                   count(*) OVER (PARTITION BY dst) AS n_an
            FROM pa)
          SELECT dst, CAST(n_in AS BIGINT) AS n_inlinks,
                 CAST(n_an AS BIGINT) AS n_distinct_anchors,
                 anchor AS top_anchor, CAST(cnt AS BIGINT)
                   AS top_anchor_count
          FROM rk WHERE rn = 1
        """,
        # same edge reconstruction, VALUES keyword table, vote
        # aggregate, count-desc/category-asc argmax window
        "anchor_classify": f"""
          WITH edges AS ({_outlinks_edges_sql()}),
          kw(term, category) AS (VALUES
            ('agg', 'compute'), ('join', 'compute'),
            ('merge', 'compute'), ('scan', 'compute'),
            ('column', 'storage'), ('data', 'storage'),
            ('row', 'storage'), ('table', 'storage'),
            ('batch', 'streaming'), ('stream', 'streaming'),
            ('window', 'streaming')),
          tk AS (
            SELECT dst, unnest(
              CASE WHEN len(trim(lower(anchor))) = 0
                   THEN CAST([] AS VARCHAR[])
                   ELSE string_split_regex(trim(lower(anchor)),
                                           '\\s+') END) AS term
            FROM edges),
          votes AS (
            SELECT dst, category, CAST(count(*) AS BIGINT) AS n_votes
            FROM tk JOIN kw USING (term) GROUP BY dst, category),
          rk AS (
            SELECT dst, category, n_votes,
                   row_number() OVER (PARTITION BY dst
                     ORDER BY n_votes DESC, category) AS rn,
                   CAST(sum(n_votes) OVER (PARTITION BY dst)
                     AS BIGINT) AS n_votes_total
            FROM votes)
          SELECT dst, category, n_votes, n_votes_total
          FROM rk WHERE rn = 1 ORDER BY dst
        """,
        "cdx_index": _cdx_index_sql(),
        "graph_prior": """
          WITH hosts AS (SELECT DISTINCT doc_id % 20 AS hid FROM documents),
          e AS (
            SELECT DISTINCT src, dst FROM (
              SELECT hid AS src, (hid * hid + 1) % 20 AS dst FROM hosts
              UNION ALL
              SELECT hid AS src, (hid * 13 + 5) % 20 AS dst FROM hosts
              WHERE hid % 3 <> 0
            ) WHERE src <> dst),
          nodes AS (SELECT DISTINCT node FROM (
            SELECT src AS node FROM e UNION ALL SELECT dst AS node FROM e)),
          deg AS (SELECT src, count(*) AS dg FROM e GROUP BY src),
          r0 AS (SELECT node, 1.0 AS r FROM nodes),
          r1 AS (SELECT n.node, 0.15 + 0.85 * coalesce(s.x, 0) AS r
                 FROM nodes n LEFT JOIN (
                   SELECT e.dst AS node, sum(r0.r / deg.dg) AS x
                   FROM e JOIN r0 ON r0.node = e.src
                        JOIN deg ON deg.src = e.src
                   GROUP BY e.dst) s ON s.node = n.node),
          r2 AS (SELECT n.node, 0.15 + 0.85 * coalesce(s.x, 0) AS r
                 FROM nodes n LEFT JOIN (
                   SELECT e.dst AS node, sum(r1.r / deg.dg) AS x
                   FROM e JOIN r1 ON r1.node = e.src
                        JOIN deg ON deg.src = e.src
                   GROUP BY e.dst) s ON s.node = n.node),
          r3 AS (SELECT n.node, 0.15 + 0.85 * coalesce(s.x, 0) AS r
                 FROM nodes n LEFT JOIN (
                   SELECT e.dst AS node, sum(r2.r / deg.dg) AS x
                   FROM e JOIN r2 ON r2.node = e.src
                        JOIN deg ON deg.src = e.src
                   GROUP BY e.dst) s ON s.node = n.node)
          SELECT d.doc_id,
            'site' || CAST(d.doc_id % 20 AS VARCHAR) || '.example.com'
              AS host,
            round(r3.r, 9) AS prior,
            CAST(CASE WHEN coalesce(round(r3.r, 9), 0) >= 1.0
                 THEN 1 ELSE 0 END AS INT) AS keep
          FROM documents d LEFT JOIN r3 ON r3.node = d.doc_id % 20
          ORDER BY d.doc_id
        """,
        # sep-encode each word (chr(1) before every char), then one
        # replace() per merge IN TABLE ORDER — replace's left-to-right
        # non-overlapping scan IS BPE's greedy merge; symbol count =
        # remaining sep chars
        "bpe_encode": f"""
          WITH w AS (
            SELECT doc_id, unnest({toks}) AS word FROM documents
          ), enc AS (
            SELECT doc_id,
              replace(replace(replace(replace(replace(replace(
                regexp_replace(word, '(.)', chr(1) || '\\1', 'g'),
                chr(1)||'t'||chr(1)||'h', chr(1)||'th'),
                chr(1)||'th'||chr(1)||'e', chr(1)||'the'),
                chr(1)||'a'||chr(1)||'n', chr(1)||'an'),
                chr(1)||'an'||chr(1)||'d', chr(1)||'and'),
                chr(1)||'e'||chr(1)||'r', chr(1)||'er'),
                chr(1)||'o'||chr(1)||'n', chr(1)||'on') AS s
            FROM w
          )
          SELECT doc_id, CAST(count(*) AS BIGINT) AS n_words,
                 CAST(sum(len(s) - len(replace(s, chr(1), ''))) AS BIGINT)
                   AS n_bpe_tokens
          FROM enc GROUP BY doc_id ORDER BY doc_id
        """,
        # link_idx arithmetic from the presence flags: canonical at 0,
        # next at 1 when present, the alternate/feed pair after it,
        # nofollow last
        "rel_links": """
          WITH f AS (
            SELECT doc_id,
              CASE WHEN doc_id % 5 <> 4 THEN 1 ELSE 0 END AS hn,
              CASE WHEN doc_id % 11 = 0 THEN 1 ELSE 0 END AS ha
            FROM documents)
          SELECT doc_id, 0 AS link_idx, 'canonical' AS rel,
                 'https://s.example.com/c' || doc_id AS href FROM f
          UNION ALL
          SELECT doc_id, 1, 'next',
                 'https://s.example.com/p' || (doc_id + 1)
          FROM f WHERE hn = 1
          UNION ALL
          SELECT doc_id, 1 + hn, 'alternate', '/feed.xml'
          FROM f WHERE ha = 1
          UNION ALL
          SELECT doc_id, 2 + hn, 'feed', '/feed.xml' FROM f WHERE ha = 1
          UNION ALL
          SELECT doc_id, 1 + hn + 2 * ha, 'nofollow',
                 'https://out.example.com/' || (doc_id % 7) FROM f
          ORDER BY doc_id, link_idx
        """,
        # the edge set is a closed-form function of (doc_id): rebuild
        # it with a 3-lang cross join minus the planted omissions,
        # then mirror the per-page reduction + reciprocity anti-join
        "hreflang_clusters": """
          WITH d AS (
            SELECT doc_id, doc_id // 3 AS g, doc_id % 3 AS m,
                   CASE doc_id % 3 WHEN 0 THEN 'en'
                                   WHEN 1 THEN 'de' ELSE 'fr' END AS lang
            FROM documents WHERE doc_id % 11 <> 7),
          self AS (
            SELECT *, 'https://ml.example.com/' || g || '/' || lang
                        AS url
            FROM d),
          edges AS (
            SELECT s.url, s.m, t.alang AS hreflang,
                   'https://ml.example.com/' || s.g || '/' || t.alang
                     AS href
            FROM self s
            CROSS JOIN (VALUES ('en'), ('de'), ('fr')) AS t(alang)
            WHERE NOT (s.g % 7 = 0 AND s.m = 2 AND t.alang = 'de')),
          per_page AS (
            SELECT url, min(href) AS group_id,
                   CAST(count(DISTINCT hreflang) AS BIGINT) AS n_langs,
                   max(CASE WHEN href = url THEN hreflang END)
                     AS page_lang,
                   min(m) = 0 AS has_x_default
            FROM edges GROUP BY url),
          out_edges AS (
            SELECT DISTINCT url AS src, href AS dst FROM edges
            WHERE href <> url),
          nonrecip AS (
            SELECT o.src, CAST(count(*) AS BIGINT) AS n
            FROM out_edges o
            LEFT JOIN out_edges r ON r.src = o.dst AND r.dst = o.src
            WHERE r.src IS NULL GROUP BY o.src)
          SELECT p.url, p.page_lang, p.group_id, p.n_langs,
                 p.has_x_default,
                 COALESCE(n.n, CAST(0 AS BIGINT)) AS n_nonreciprocal
          FROM per_page p LEFT JOIN nonrecip n ON n.src = p.url
          ORDER BY p.url
        """,
        # each source's date is closed-form in doc_id; the CASE ladder
        # mirrors the kernel's precedence incl. the invalid-jsonld
        # fall-through and the url-path fallback
        "publish_date": """
          WITH d AS (
            SELECT doc_id,
              DATE '2020-01-01' + CAST(doc_id % 997 AS INTEGER) AS da,
              DATE '2021-01-01' + CAST(doc_id % 499 AS INTEGER) AS db,
              DATE '2019-06-15' + CAST(doc_id % 199 AS INTEGER) AS dc,
              DATE '2018-03-01' + CAST(doc_id % 299 AS INTEGER) AS dd,
              doc_id % 3 = 0 AND doc_id % 21 <> 6 AS has_j,
              doc_id % 2 = 0 AS has_m,
              doc_id % 5 <> 4 AS has_t,
              doc_id % 7 < 3 AS has_u
            FROM documents),
          s AS (
            SELECT doc_id,
              CASE WHEN has_u
                   THEN 'https://news.example.com/'
                        || strftime(dd, '%Y/%m/%d') || '/a' || doc_id
                   ELSE 'https://news.example.com/a/' || doc_id
              END AS url,
              CASE WHEN has_j THEN 'jsonld'
                   WHEN has_m THEN 'meta'
                   WHEN has_t THEN 'time'
                   WHEN has_u THEN 'url' END AS source,
              CASE WHEN has_j
                     THEN strftime(da, '%Y-%m-%d') || 'T10:00:00Z'
                   WHEN has_m
                     THEN strftime(db, '%Y-%m-%d') || 'T08:30:00+00:00'
                   WHEN has_t THEN strftime(dc, '%Y-%m-%d')
                   WHEN has_u THEN strftime(dd, '%Y/%m/%d')
              END AS published_raw,
              CASE WHEN has_j THEN da WHEN has_m THEN db
                   WHEN has_t THEN dc WHEN has_u THEN dd
              END AS published
            FROM d)
          SELECT doc_id, url, source, published_raw, published
          FROM s ORDER BY doc_id
        """,
        # pure CASE ladder: every field is a closed-form function of
        # doc_id (no-card docs all-NULL but present; first-wins beats
        # the planted duplicate decoy)
        "social_cards": """
          SELECT doc_id,
            CASE WHEN doc_id % 13 = 5 THEN NULL
                 WHEN doc_id % 4 = 0 THEN 'summary'
                 WHEN doc_id % 4 = 2 THEN 'summary_large_image'
                 ELSE 'og' END AS card_type,
            CASE WHEN doc_id % 13 = 5 THEN NULL
                 ELSE 'T' || doc_id END AS og_title,
            CASE WHEN doc_id % 13 = 5 OR doc_id % 3 = 1 THEN NULL
                 ELSE 'D' || doc_id END AS og_description,
            CASE WHEN doc_id % 13 = 5 OR doc_id % 5 = 0 THEN NULL
                 ELSE 'https://img.example.com/' || doc_id || '.jpg'
            END AS og_image,
            CAST(CASE WHEN doc_id % 13 = 5 THEN 0 ELSE 1 END
                 + CASE WHEN doc_id % 13 = 5 OR doc_id % 3 = 1
                        THEN 0 ELSE 1 END
                 + CASE WHEN doc_id % 13 = 5 OR doc_id % 5 = 0
                        THEN 0 ELSE 1 END AS BIGINT) AS n_og_fields
          FROM documents ORDER BY doc_id
        """,
        # mutual iff neither one-way defect fires AND the amp member
        # exists (doc ids are contiguous, so pair completeness is
        # 2p+1 <= max id); CASE ladder over (parity, p mods)
        "amp_collapse": """
          WITH mx AS (SELECT max(doc_id) AS m FROM documents),
          s AS (
            SELECT doc_id % 2 AS odd, doc_id // 2 AS p,
              CASE WHEN doc_id % 2 = 0
                   THEN 'https://site.example.com/p' || (doc_id // 2)
                   ELSE 'https://site.example.com/amp/p'
                        || (doc_id // 2) END AS url,
              ((doc_id // 2) % 7 <> 3 AND (doc_id // 2) % 11 <> 9
               AND 2 * (doc_id // 2) + 1 <= (SELECT m FROM mx))
                AS mutual
            FROM documents)
          SELECT url,
            CASE WHEN mutual AND odd = 0 THEN 'canonical'
                 WHEN mutual THEN 'amp_variant'
                 ELSE 'plain' END AS role,
            CASE WHEN mutual AND odd = 0
                   THEN 'https://site.example.com/amp/p' || p
                 WHEN mutual
                   THEN 'https://site.example.com/p' || p
            END AS partner
          FROM s ORDER BY url
        """,
        # a full second RAKE implementation: same stopword delimiter
        # regex, same integer milli-unit quantization, ties on the
        # phrase string — no float tolerance anywhere
        "rake_keyphrases": r"""
          WITH segs AS (
            SELECT doc_id,
                   unnest(regexp_split_to_array(
                     regexp_replace(lower(text), '\s+', ' ', 'g'),
                     '(?:[^a-z0-9 ]+|\b(?:a|an|and|the|of|to|in|is|on|for)\b)'
                   )) AS seg
            FROM documents),
          ph AS (
            SELECT doc_id,
                   trim(regexp_replace(seg, '\s+', ' ', 'g')) AS phrase
            FROM segs
            WHERE trim(regexp_replace(seg, '\s+', ' ', 'g')) <> ''),
          w AS (
            SELECT doc_id, len(string_split(phrase, ' ')) AS plen,
                   unnest(string_split(phrase, ' ')) AS word
            FROM ph),
          stats AS (
            SELECT doc_id, word, count(*) AS freq, sum(plen) AS deg
            FROM w GROUP BY doc_id, word),
          dph AS (
            SELECT doc_id, phrase, count(*) AS n_occ
            FROM ph GROUP BY doc_id, phrase),
          dw AS (
            SELECT doc_id, phrase, n_occ,
                   CAST(len(string_split(phrase, ' ')) AS BIGINT)
                     AS n_words,
                   unnest(string_split(phrase, ' ')) AS word
            FROM dph),
          sc AS (
            SELECT d.doc_id, d.phrase,
                   CAST(max(d.n_occ) AS BIGINT) AS n_occ,
                   max(d.n_words) AS n_words,
                   CAST(sum((s.deg * 1000) // s.freq) AS BIGINT)
                     AS score_milli
            FROM dw d
            JOIN stats s ON s.doc_id = d.doc_id AND s.word = d.word
            GROUP BY d.doc_id, d.phrase),
          ranked AS (
            SELECT *, CAST(row_number() OVER (
                     PARTITION BY doc_id
                     ORDER BY score_milli DESC, phrase) AS INTEGER)
                   AS rank
            FROM sc)
          SELECT doc_id, rank, phrase, n_words, n_occ, score_milli
          FROM ranked WHERE rank <= 3
          ORDER BY doc_id, rank
        """,
        # recursive-CTE BFS over the same planted graph, bounded at
        # the same hop count; min(depth) collapses path multiplicity
        "link_depth": """
          WITH RECURSIVE m AS (SELECT count(*) AS mm FROM documents),
          e AS (
            SELECT doc_id AS src, 2 * doc_id + 1 AS dst
            FROM documents, m WHERE 2 * doc_id + 1 < mm
            UNION ALL
            SELECT doc_id, 2 * doc_id + 2
            FROM documents, m WHERE 2 * doc_id + 2 < mm
            UNION ALL
            SELECT doc_id, (17 * doc_id + 5) % mm
            FROM documents, m WHERE doc_id % 10 = 0),
          bfs(node, depth) AS (
            SELECT doc_id, 0 FROM documents WHERE doc_id <= 1
            UNION ALL
            SELECT e.dst, b.depth + 1
            FROM bfs b JOIN e ON e.src = b.node
            WHERE b.depth < 8)
          SELECT node, CAST(min(depth) AS INTEGER) AS depth
          FROM bfs GROUP BY node ORDER BY node
        """,
        # closed-form rebuild of every planted identifier row: the
        # corpus vocabulary is digit-free (verified), so the planted
        # strings are the only regex matches; match_idx 0 is the
        # doi:10.5555 plant (it precedes the 10.1234 plant in the
        # concat), arxiv ids are always 5 digits at these scales
        "scholarly_ids": """
          SELECT doc_id, kind, match_idx, ident FROM (
            SELECT doc_id, 'doi' AS kind, 0 AS match_idx,
                   '10.5555/art.' || doc_id || '.x' AS ident
            FROM documents WHERE doc_id % 4 = 0
            UNION ALL
            SELECT doc_id, 'doi', 1, '10.1234/xyz' || doc_id
            FROM documents WHERE doc_id % 20 = 0
            UNION ALL
            SELECT doc_id, 'arxiv', 0,
                   'arxiv:2301.' ||
                   CAST(10000 + doc_id % 80000 AS VARCHAR)
            FROM documents WHERE doc_id % 6 = 1)
          ORDER BY doc_id, kind, match_idx
        """,
        # rebuild the surviving postings closed-form (the hot ident
        # df=500 > max_df=100 is excluded, the two topic families
        # survive), replay the self-join + pair count, HAVING >= 2
        "id_linkage": """
          WITH post AS (
            SELECT doc_id, 'topic' || (doc_id % 7) AS ident
            FROM documents
            UNION ALL
            SELECT doc_id, 'area' || (doc_id % 11) FROM documents)
          SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
                 CAST(count(*) AS BIGINT) AS n_shared
          FROM post a
          JOIN post b ON a.ident = b.ident AND a.doc_id < b.doc_id
          GROUP BY 1, 2 HAVING count(*) >= 2
          ORDER BY doc_a, doc_b
        """,
        # closed-form rebuild of every planted measurement row with
        # the same integer milli-unit decomposition and factor table
        "measurements": """
          SELECT doc_id, match_idx, unit, value_milli, dimension,
                 norm_milli
          FROM (
            SELECT doc_id, 0 AS match_idx, 'kg' AS unit,
                   (doc_id % 50) * 1000 + 500 AS value_milli,
                   'mass' AS dimension,
                   ((doc_id % 50) * 1000 + 500) * 1000000
                     AS norm_milli
            FROM documents
            UNION ALL
            SELECT doc_id, 1, 'cm', (doc_id % 90) * 1000, 'length',
                   (doc_id % 90) * 1000 * 10
            FROM documents WHERE doc_id % 2 = 0
            UNION ALL
            SELECT doc_id,
                   CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END,
                   'gb', 2250, 'data', 2250000000000
            FROM documents WHERE doc_id % 5 = 1)
          ORDER BY doc_id, match_idx
        """,
        # boolean CASE ladder over the id mods: noindex from any of
        # the three channels, nofollow from the tag or NONE
        "meta_robots": """
          SELECT doc_id,
            (doc_id % 5 = 1 OR doc_id % 11 = 4 OR doc_id % 13 = 3)
              AS noindex,
            (doc_id % 7 = 2 OR doc_id % 11 = 4) AS nofollow,
            NOT (doc_id % 5 = 1 OR doc_id % 11 = 4 OR doc_id % 13 = 3)
              AS indexable
          FROM documents ORDER BY doc_id
        """,
        # same planted graph, degree CTE, self-join on source,
        # HAVING >= 2; hub sources (degree > 8) excluded up front
        "cocitation": """
          WITH m AS (SELECT count(*) AS mm FROM documents),
          e0 AS (
            SELECT doc_id AS s, (7 * doc_id + t.k) % mm AS d
            FROM documents, (VALUES (1), (2), (3)) t(k), m
            UNION
            SELECT doc_id AS s, (11 * doc_id + u.k) % mm AS d
            FROM documents, (SELECT unnest(range(0, 10)) AS k) u, m
            WHERE doc_id % 101 = 0),
          deg AS (SELECT s, count(*) AS od FROM e0 GROUP BY s),
          kept AS (
            SELECT e0.s, e0.d FROM e0
            JOIN deg ON deg.s = e0.s WHERE deg.od <= 8)
          SELECT a.d AS dst_a, b.d AS dst_b,
                 CAST(count(*) AS BIGINT) AS n_cocite
          FROM kept a JOIN kept b ON a.s = b.s AND a.d < b.d
          GROUP BY a.d, b.d HAVING count(*) >= 2
          ORDER BY dst_a, dst_b
        """,
        # full second TextTiling implementation: range-lateral token
        # positions, same integer micro-unit cosine², frame-bounded
        # depth windows, above-mean boundary rule
        "texttiling": r"""
          WITH d AS (
            SELECT doc_id,
                   string_split(regexp_replace(lower(text), '\s+',
                                               ' ', 'g'), ' ') AS ts
            FROM documents),
          pos AS (
            SELECT doc_id, u.i // 10 AS blk, ts[u.i + 1] AS term
            FROM d, (SELECT unnest(range(0, 4096)) AS i) u
            WHERE u.i < len(ts) AND ts[u.i + 1] <> ''),
          tf AS (
            SELECT doc_id, blk, term, count(*) AS n
            FROM pos GROUP BY doc_id, blk, term),
          nrm AS (
            SELECT doc_id, blk, sum(n * n) AS nrm
            FROM tf GROUP BY doc_id, blk),
          dt AS (
            SELECT l.doc_id, l.blk, sum(l.n * r.n) AS dot
            FROM tf l
            JOIN tf r ON r.doc_id = l.doc_id AND r.blk = l.blk + 1
                     AND r.term = l.term
            GROUP BY l.doc_id, l.blk),
          gaps AS (
            SELECT l.doc_id, l.blk AS gap_idx, l.nrm AS nrm_l,
                   r.nrm AS nrm_r
            FROM nrm l
            JOIN nrm r ON r.doc_id = l.doc_id AND r.blk = l.blk + 1),
          sc AS (
            SELECT g.doc_id, g.gap_idx,
                   CAST((COALESCE(dot, 0) * COALESCE(dot, 0) * 1000000)
                        // (nrm_l * nrm_r) AS BIGINT) AS score_micro
            FROM gaps g
            LEFT JOIN dt ON dt.doc_id = g.doc_id
                        AND dt.blk = g.gap_idx),
          dep AS (
            SELECT doc_id, gap_idx, score_micro,
              greatest(coalesce(max(score_micro) OVER (
                PARTITION BY doc_id ORDER BY gap_idx
                ROWS BETWEEN 2 PRECEDING AND 1 PRECEDING)
                - score_micro, 0), 0)
              + greatest(coalesce(max(score_micro) OVER (
                PARTITION BY doc_id ORDER BY gap_idx
                ROWS BETWEEN 1 FOLLOWING AND 2 FOLLOWING)
                - score_micro, 0), 0) AS depth_micro
            FROM sc)
          SELECT doc_id, gap_idx, score_micro,
                 CAST(depth_micro AS BIGINT) AS depth_micro,
                 depth_micro > 0 AND depth_micro >
                   (sum(depth_micro) OVER (PARTITION BY doc_id))
                   // (count(*) OVER (PARTITION BY doc_id))
                   AS is_boundary
          FROM dep ORDER BY doc_id, gap_idx
        """,
        # planted group structure: series = id div 4, keyed by the
        # group's LAST page, texts concatenated in id order
        "article_stitch": """
          SELECT 'https://a.example.com/p'
                   || (4 * (doc_id // 4) + 3) AS series_id,
                 CAST(count(*) AS BIGINT) AS n_pages,
                 string_agg(text, chr(10) ORDER BY doc_id) AS text
          FROM documents
          GROUP BY doc_id // 4
          ORDER BY series_id
        """,
        # every microdata row is a closed-form function of
        # (doc_id, first two tokens); the oracle rebuilds the row set
        # arithmetically — one UNION ALL branch per planted binding
        "microdata": f"""
          WITH t AS (SELECT doc_id, {toks} AS tk FROM documents)
          SELECT doc_id, 0 AS item_idx,
                 'https://schema.org/Product' AS item_type,
                 'name' AS prop,
                 tk[1] || ' ' || tk[2] AS value, 'ok' AS status FROM t
          UNION ALL
          SELECT doc_id, 0, 'https://schema.org/Product', 'sku',
                 'sku-' || doc_id, 'ok' FROM t
          UNION ALL
          SELECT doc_id, 0, 'https://schema.org/Product', 'url',
                 'https://m.example.com/p' || doc_id, 'ok' FROM t
          UNION ALL
          SELECT doc_id, 0, 'https://schema.org/Product', 'offers',
                 '#item:1', 'ok' FROM t WHERE doc_id % 3 = 0
          UNION ALL
          SELECT doc_id, 1, 'https://schema.org/Offer', 'price',
                 (doc_id % 97) || '.00', 'ok' FROM t WHERE doc_id % 3 = 0
          UNION ALL
          SELECT doc_id, NULL, NULL, 'stray', 's', 'orphan_prop'
          FROM t WHERE doc_id % 17 = 0
          ORDER BY doc_id, item_idx, prop
        """,
        "jl_project": _jl_project_sql(),
        "reciprocal_links": """
          WITH mm AS (SELECT max(doc_id) + 1 AS m FROM documents),
          cand AS (
            SELECT doc_id,
              (doc_id * 13 + 7) % (SELECT m FROM mm) AS k1,
              CASE WHEN doc_id % 5 = 0 THEN doc_id + 1
                   WHEN doc_id % 5 = 1 THEN doc_id - 1 END AS k2
            FROM documents),
          e AS (
            SELECT DISTINCT a, b FROM (
              SELECT c.doc_id AS a, d.doc_id AS b
              FROM cand c JOIN documents d ON d.doc_id = c.k1
              UNION ALL
              SELECT c.doc_id AS a, d.doc_id AS b
              FROM cand c JOIN documents d ON d.doc_id = c.k2
              WHERE c.k2 IS NOT NULL
            ) WHERE a <> b),
          deg AS (SELECT a, count(*) AS out_degree FROM e GROUP BY a),
          mut AS (
            SELECT e.a, count(*) AS n_mutual
            FROM e JOIN e r ON r.a = e.b AND r.b = e.a
            GROUP BY e.a)
          SELECT d.a AS node, CAST(d.out_degree AS BIGINT) AS out_degree,
                 CAST(coalesce(m.n_mutual, 0) AS BIGINT) AS n_mutual,
                 round(coalesce(m.n_mutual, 0) * 1.0 / d.out_degree, 6)
                   AS reciprocity
          FROM deg d LEFT JOIN mut m ON m.a = d.a
          ORDER BY node
        """,
        # same construction, then DuckDB list ops over split lines and
        # list_intersect against the stop-word literals
        "format_signals": f"""
          WITH b AS (
            SELECT doc_id,
              CASE WHEN doc_id % 4 = 0
                   THEN '- item one' || chr(10) || '- item two' || chr(10)
                   ELSE '' END
              || text
              || CASE WHEN doc_id % 6 = 0
                      THEN chr(10) || 'to be continued...'
                      ELSE '' END AS text
            FROM documents),
          l AS (
            SELECT doc_id,
              list_transform(
                list_filter(string_split(text, chr(10)),
                            ln -> len(trim(ln)) > 0),
                ln -> trim(ln)) AS lines,
              len(list_intersect(
                list_distinct(list_transform({toks}, t -> lower(t))),
                ['the','be','to','of','and','that','have','with']))
                AS stop_hits
            FROM b)
          SELECT doc_id,
            CASE WHEN len(lines) > 0 THEN round(
              len(list_filter(lines,
                  ln -> regexp_matches(ln, '^([-*•·]|[0-9]+\\.)')))
              * 1.0 / len(lines), 4) ELSE 0.0 END AS bullet_line_ratio,
            CASE WHEN len(lines) > 0 THEN round(
              len(list_filter(lines,
                  ln -> regexp_matches(ln, '(\\.\\.\\.|…)$')))
              * 1.0 / len(lines), 4) ELSE 0.0 END AS ellipsis_line_ratio,
            CAST(stop_hits AS INT) AS stopword_hits,
            CAST(CASE WHEN stop_hits >= 2 THEN 1 ELSE 0 END AS INT)
              AS has_stop_words
          FROM l ORDER BY doc_id
        """,
        "host_lang_entropy": """
          WITH d AS (
            SELECT 'site' || (doc_id % 29) || '.com' AS domain, lang
            FROM documents),
          per AS (SELECT domain, lang, count(*) AS n
                  FROM d GROUP BY domain, lang),
          tot AS (SELECT domain, sum(n) AS total, count(*) AS n_langs,
                         max(n) AS top_n
                  FROM per GROUP BY domain)
          SELECT p.domain,
            CAST(max(t.total) AS BIGINT) AS n_docs,
            CAST(max(t.n_langs) AS BIGINT) AS n_langs,
            round(max(t.top_n * 1.0 / t.total), 6) AS top_share,
            round(-sum((p.n * 1.0 / t.total) * ln(p.n * 1.0 / t.total)), 6)
              AS lang_entropy
          FROM per p JOIN tot t USING (domain)
          GROUP BY p.domain ORDER BY p.domain
        """,
        # same break construction, then DuckDB's own RE2 dehyphenation
        # + ligature replace chain (independent second implementation)
        "pdf_text_fix": r"""
          WITH b AS (
            SELECT doc_id, CASE WHEN doc_id % 3 = 0
              THEN chr(64257) || 'rst ' || chr(64258) || 'at e'
                   || chr(64256) || 'ort '
                   || regexp_replace(text, ' ', '-' || chr(10), 'g')
              ELSE text END AS t
            FROM documents)
          SELECT doc_id,
            replace(replace(replace(replace(replace(replace(replace(
              regexp_replace(t, '(\p{L})-\r?\n(\p{L})', '\1\2', 'g'),
              chr(64256), 'ff'), chr(64257), 'fi'), chr(64258), 'fl'),
              chr(64259), 'ffi'), chr(64260), 'ffl'), chr(64261), 'st'),
              chr(64262), 'st') AS text
          FROM b ORDER BY doc_id
        """,
        # same recursive walk as redirect_resolve; the engine side must
        # first recover the edges from real <meta http-equiv=refresh>
        "redirect_graph": """
          WITH RECURSIVE e0 AS (
            SELECT 'https://g.example.com/p' || doc_id AS src,
                   'https://g.example.com/p' || CASE
                      WHEN doc_id % 10 IN (1, 2, 4) THEN doc_id + 1
                      WHEN doc_id % 10 = 3 THEN doc_id - 3
                      WHEN doc_id % 10 = 5 THEN doc_id - 1 END AS dst
            FROM documents WHERE doc_id % 10 IN (1, 2, 3, 4, 5)),
          edges AS (SELECT src, min(dst) AS dst FROM e0 GROUP BY src),
          walk(src, cur, hops) AS (
            SELECT src, dst, 1 FROM edges
            UNION ALL
            SELECT w.src, g.dst, w.hops + 1
            FROM walk w JOIN edges g ON g.src = w.cur
            WHERE w.hops < 16),
          lastpos AS (SELECT src, arg_max(cur, hops) AS cur,
                             max(hops) AS hops
                      FROM walk GROUP BY src)
          SELECT l.src AS src,
                 CASE WHEN s.src IS NULL THEN l.cur END AS final_url,
                 CASE WHEN s.src IS NULL THEN l.hops END AS hops,
                 s.src IS NULL AS resolved
          FROM lastpos l
          LEFT JOIN (SELECT DISTINCT src FROM edges) s ON s.src = l.cur
          ORDER BY l.src
        """,
        # hop-capped recursive walk over the SAME functional edge list;
        # resolved = the walk's last node has no outgoing edge
        "redirect_resolve": """
          WITH RECURSIVE e0 AS (
            SELECT 'https://r.example.com/p' || doc_id AS src,
                   'https://r.example.com/p' || CASE
                      WHEN doc_id % 10 IN (1, 2, 4) THEN doc_id + 1
                      WHEN doc_id % 10 = 3 THEN doc_id - 3
                      WHEN doc_id % 10 = 5 THEN doc_id - 1 END AS dst
            FROM documents WHERE doc_id % 10 IN (1, 2, 3, 4, 5)),
          edges AS (SELECT src, min(dst) AS dst FROM e0 GROUP BY src),
          walk(src, cur, hops) AS (
            SELECT src, dst, 1 FROM edges
            UNION ALL
            SELECT w.src, g.dst, w.hops + 1
            FROM walk w JOIN edges g ON g.src = w.cur
            WHERE w.hops < 16),
          lastpos AS (SELECT src, arg_max(cur, hops) AS cur,
                             max(hops) AS hops
                      FROM walk GROUP BY src)
          SELECT l.src AS src,
                 CASE WHEN s.src IS NULL THEN l.cur END AS final_url,
                 CASE WHEN s.src IS NULL THEN l.hops END AS hops,
                 s.src IS NULL AS resolved
          FROM lastpos l
          LEFT JOIN (SELECT DISTINCT src FROM edges) s ON s.src = l.cur
          ORDER BY l.src
        """,
        "pagerank": """
          WITH mm AS (SELECT max(doc_id) + 1 AS m FROM documents),
          cand AS (
            SELECT doc_id,
              (doc_id * doc_id + 1) % (SELECT m FROM mm) AS k1,
              (doc_id * 13 + 5) % (SELECT m FROM mm) AS k2
            FROM documents),
          e AS (
            SELECT DISTINCT src, dst FROM (
              SELECT c.doc_id AS src, d.doc_id AS dst
              FROM cand c JOIN documents d ON d.doc_id = c.k1
              UNION ALL
              SELECT c.doc_id AS src, d.doc_id AS dst
              FROM cand c JOIN documents d ON d.doc_id = c.k2
              WHERE c.doc_id % 3 <> 0
            ) WHERE src <> dst),
          nodes AS (SELECT DISTINCT node FROM (
            SELECT src AS node FROM e UNION ALL SELECT dst AS node FROM e)),
          deg AS (SELECT src, count(*) AS dg FROM e GROUP BY src),
          r0 AS (SELECT node, 1.0 AS r FROM nodes),
          r1 AS (SELECT n.node, 0.15 + 0.85 * coalesce(s.x, 0) AS r
                 FROM nodes n LEFT JOIN (
                   SELECT e.dst AS node, sum(r0.r / deg.dg) AS x
                   FROM e JOIN r0 ON r0.node = e.src
                        JOIN deg ON deg.src = e.src
                   GROUP BY e.dst) s ON s.node = n.node),
          r2 AS (SELECT n.node, 0.15 + 0.85 * coalesce(s.x, 0) AS r
                 FROM nodes n LEFT JOIN (
                   SELECT e.dst AS node, sum(r1.r / deg.dg) AS x
                   FROM e JOIN r1 ON r1.node = e.src
                        JOIN deg ON deg.src = e.src
                   GROUP BY e.dst) s ON s.node = n.node),
          r3 AS (SELECT n.node, 0.15 + 0.85 * coalesce(s.x, 0) AS r
                 FROM nodes n LEFT JOIN (
                   SELECT e.dst AS node, sum(r2.r / deg.dg) AS x
                   FROM e JOIN r2 ON r2.node = e.src
                        JOIN deg ON deg.src = e.src
                   GROUP BY e.dst) s ON s.node = n.node)
          SELECT node AS doc_id, round(r, 9) AS pr FROM r3 ORDER BY doc_id
        """,
        # components over the sparse quadratic-map subgraph: min
        # reachable id via recursive closure, singletons label
        # themselves, sizes by group count
        "graph_components": """
          WITH RECURSIVE mm AS (SELECT max(doc_id) + 1 AS m FROM documents),
          e0 AS (
            SELECT c.doc_id AS s,
                   (c.doc_id * c.doc_id + 1) % (SELECT m FROM mm) AS d
            FROM documents c WHERE c.doc_id % 5 < 2),
          e1 AS (
            SELECT e0.s, e0.d FROM e0
            JOIN documents t ON t.doc_id = e0.d
            WHERE e0.s <> e0.d),
          edges AS (
            SELECT s, d FROM e1
            UNION
            SELECT d AS s, s AS d FROM e1),
          reach(node, x) AS (
            SELECT s, s FROM edges
            UNION
            SELECT reach.node, e.d FROM reach JOIN edges e ON reach.x = e.s
          ),
          labels AS (
            SELECT node, min(x) AS cluster_id FROM reach GROUP BY node),
          assign AS (
            SELECT dd.doc_id,
                   coalesce(l.cluster_id, dd.doc_id) AS cluster_id
            FROM documents dd LEFT JOIN labels l ON dd.doc_id = l.node),
          sz AS (
            SELECT cluster_id, CAST(count(*) AS BIGINT) AS component_size
            FROM assign GROUP BY cluster_id)
          SELECT a.doc_id, a.cluster_id, sz.component_size
          FROM assign a JOIN sz USING (cluster_id)
          ORDER BY a.doc_id
        """,
        # bitext mining (LSH kernel): both directions re-derived from
        # the literal hyperplanes; probe sets, round-6 cosines, top-k,
        # mutual best + round-5 margin — the full harvest-shape twin
        "bitext_mine": _bitext_lsh_sql(),
        # exact-kernel arm: both top-k directions from one cross-cosine
        # CTE; mutual best + round-5 margin over round-6 cosines
        "bitext_mine_exact": """
          WITH src AS (SELECT * FROM embeddings WHERE vec_id % 2 = 0),
          tgt AS (SELECT * FROM embeddings WHERE vec_id % 2 = 1),
          fwd AS (
            SELECT s.vec_id AS x, t.vec_id AS y,
              round(list_dot_product(s.embedding::DOUBLE[],
                                     t.embedding::DOUBLE[])
                / (sqrt(list_dot_product(s.embedding::DOUBLE[],
                                         s.embedding::DOUBLE[]))
                 * sqrt(list_dot_product(t.embedding::DOUBLE[],
                                         t.embedding::DOUBLE[]))), 6)
              AS cos
            FROM src s JOIN tgt t ON true),
          fr AS (SELECT x, y, cos, row_number() OVER (
                   PARTITION BY x ORDER BY cos DESC, y ASC) AS r
                 FROM fwd),
          br AS (SELECT x, y, cos, row_number() OVER (
                   PARTITION BY y ORDER BY cos DESC, x ASC) AS r
                 FROM fwd),
          fm AS (SELECT x, avg(cos) AS m FROM fr WHERE r <= 4 GROUP BY x),
          bm AS (SELECT y, avg(cos) AS m FROM br WHERE r <= 4 GROUP BY y),
          mutual AS (
            SELECT f.x, f.y, f.cos FROM fr f
            JOIN br b ON f.x = b.x AND f.y = b.y
            WHERE f.r = 1 AND b.r = 1),
          mg AS (
            SELECT m.x AS src_id, m.y AS tgt_id, m.cos AS cos_sim,
                   round(m.cos / ((fm.m + bm.m) / 2), 5) AS margin
            FROM mutual m JOIN fm ON fm.x = m.x JOIN bm ON bm.y = m.y)
          SELECT src_id, tgt_id, cos_sim, margin FROM mg
          WHERE margin >= 1.10 ORDER BY src_id
        """,
        # k-anonymity: one GROUP BY on the quasi key (NULLs group, as
        # in Spark)
        "k_anonymity": """
          SELECT lang, source,
                 floor(n_chars / 500)::BIGINT AS len_b,
                 count(*) AS class_size,
                 count(*) >= 3 AS is_safe
          FROM documents
          GROUP BY lang, source, floor(n_chars / 500)::BIGINT
          ORDER BY lang, source, len_b
        """,
        # suppression: anti-filter rows in sub-k classes, summarize
        # survivors per lang (IS NOT DISTINCT FROM = null-safe key)
        "k_suppress": """
          WITH keyed AS (
            SELECT lang, source, n_chars,
                   floor(n_chars / 500)::BIGINT AS len_b
            FROM documents),
          unsafe AS (
            SELECT lang, source, len_b FROM keyed
            GROUP BY lang, source, len_b HAVING count(*) < 3),
          kept AS (
            SELECT k.* FROM keyed k
            WHERE NOT EXISTS (
              SELECT 1 FROM unsafe u
              WHERE u.lang IS NOT DISTINCT FROM k.lang
                AND u.source IS NOT DISTINCT FROM k.source
                AND u.len_b IS NOT DISTINCT FROM k.len_b))
          SELECT lang, count(*) AS n_kept,
                 sum(n_chars) AS chars_kept
          FROM kept GROUP BY lang ORDER BY lang
        """,
        # z-order layout audit: Morton key re-derived bitwise, file id
        # = top 4 key bits, per-file min/max/span for both layouts
        "zorder_layout": """
          WITH dims AS (
            SELECT CAST(strlen(coalesce(text, '')) % 256 AS INT) AS x,
                   CAST(doc_id % 256 AS INT) AS y
            FROM documents),
          keys AS (
            SELECT x, y,
              ( (((x >> 0) & 1) << 0)
              + (((y >> 0) & 1) << 1)
              + (((x >> 1) & 1) << 2)
              + (((y >> 1) & 1) << 3)
              + (((x >> 2) & 1) << 4)
              + (((y >> 2) & 1) << 5)
              + (((x >> 3) & 1) << 6)
              + (((y >> 3) & 1) << 7)
              + (((x >> 4) & 1) << 8)
              + (((y >> 4) & 1) << 9)
              + (((x >> 5) & 1) << 10)
              + (((y >> 5) & 1) << 11)
              + (((x >> 6) & 1) << 12)
              + (((y >> 6) & 1) << 13)
              + (((x >> 7) & 1) << 14)
              + (((y >> 7) & 1) << 15) ) AS z,
              ((x << 8) + y) AS lin
            FROM dims)
          SELECT * FROM (
            SELECT 'zorder' AS layout, z >> 12 AS file_id,
                   count(*) AS n_rows,
                   min(x) AS min_x, max(x) AS max_x,
                   min(y) AS min_y, max(y) AS max_y,
                   max(x) - min(x) AS span_x, max(y) - min(y) AS span_y
            FROM keys GROUP BY z >> 12
            UNION ALL
            SELECT 'linear' AS layout, lin >> 12 AS file_id,
                   count(*) AS n_rows,
                   min(x) AS min_x, max(x) AS max_x,
                   min(y) AS min_y, max(y) AS max_y,
                   max(x) - min(x) AS span_x, max(y) - min(y) AS span_y
            FROM keys GROUP BY lin >> 12)
          ORDER BY layout, file_id
        """,
        # triangles over the undirected view of the quadratic-map
        # graph: plain u<v<w triple join (the oriented-wedge plan is an
        # execution strategy; the result set is identical), all-integer
        "triangle_count": """
          WITH mm AS (SELECT max(doc_id) + 1 AS m FROM documents),
          cand AS (
            SELECT doc_id,
              (doc_id * doc_id + 1) % (SELECT m FROM mm) AS k1,
              (doc_id * 13 + 5) % (SELECT m FROM mm) AS k2
            FROM documents),
          e AS (
            SELECT DISTINCT src, dst FROM (
              SELECT c.doc_id AS src, d.doc_id AS dst
              FROM cand c JOIN documents d ON d.doc_id = c.k1
              UNION ALL
              SELECT c.doc_id AS src, d.doc_id AS dst
              FROM cand c JOIN documents d ON d.doc_id = c.k2
              WHERE c.doc_id % 3 <> 0
            ) WHERE src <> dst),
          und AS (
            SELECT DISTINCT least(src, dst) AS a, greatest(src, dst) AS b
            FROM e),
          deg AS (
            SELECT node, count(*) AS degree FROM (
              SELECT a AS node FROM und UNION ALL SELECT b AS node FROM und)
            GROUP BY node),
          tri AS (
            SELECT e1.a AS x, e1.b AS y, e2.b AS z
            FROM und e1
            JOIN und e2 ON e2.a = e1.b
            JOIN und e3 ON e3.a = e1.a AND e3.b = e2.b),
          pn AS (
            SELECT node, count(*) AS t FROM (
              SELECT x AS node FROM tri
              UNION ALL SELECT y AS node FROM tri
              UNION ALL SELECT z AS node FROM tri)
            GROUP BY node)
          SELECT d.node, d.degree,
                 coalesce(pn.t, 0) AS triangles,
                 2 * coalesce(pn.t, 0) AS coef_num,
                 d.degree * (d.degree - 1) AS coef_den
          FROM deg d LEFT JOIN pn ON pn.node = d.node
          ORDER BY d.node
        """,
        # HITS: same quadratic-map graph; 2 un-normalized iterations
        # unrolled — every score is an exact integer path count
        "trust_rank": """
          WITH mm AS (SELECT max(doc_id) + 1 AS m FROM documents),
          cand AS (
            SELECT doc_id,
              (doc_id * doc_id + 1) % (SELECT m FROM mm) AS k1,
              (doc_id * 13 + 5) % (SELECT m FROM mm) AS k2
            FROM documents),
          e AS (
            SELECT DISTINCT src, dst FROM (
              SELECT c.doc_id AS src, d.doc_id AS dst
              FROM cand c JOIN documents d ON d.doc_id = c.k1
              UNION ALL
              SELECT c.doc_id AS src, d.doc_id AS dst
              FROM cand c JOIN documents d ON d.doc_id = c.k2
              WHERE c.doc_id % 3 <> 0
            ) WHERE src <> dst),
          nodes AS (SELECT DISTINCT node FROM (
            SELECT src AS node FROM e UNION ALL SELECT dst AS node FROM e)),
          deg AS (SELECT src, count(*) AS dg FROM e GROUP BY src),
          tv AS (SELECT node,
                   CASE WHEN node % 17 = 3 THEN 1.0 ELSE 0.0 END AS t
                 FROM nodes),
          t0 AS (SELECT node, t AS r FROM tv),
          t1 AS (SELECT tv.node, 0.15 * tv.t + 0.85 * coalesce(s.x, 0) AS r
                 FROM tv LEFT JOIN (
                   SELECT e.dst AS node, sum(t0.r / deg.dg) AS x
                   FROM e JOIN t0 ON t0.node = e.src
                        JOIN deg ON deg.src = e.src
                   GROUP BY e.dst) s ON s.node = tv.node),
          t2 AS (SELECT tv.node, 0.15 * tv.t + 0.85 * coalesce(s.x, 0) AS r
                 FROM tv LEFT JOIN (
                   SELECT e.dst AS node, sum(t1.r / deg.dg) AS x
                   FROM e JOIN t1 ON t1.node = e.src
                        JOIN deg ON deg.src = e.src
                   GROUP BY e.dst) s ON s.node = tv.node),
          t3 AS (SELECT tv.node, 0.15 * tv.t + 0.85 * coalesce(s.x, 0) AS r
                 FROM tv LEFT JOIN (
                   SELECT e.dst AS node, sum(t2.r / deg.dg) AS x
                   FROM e JOIN t2 ON t2.node = e.src
                        JOIN deg ON deg.src = e.src
                   GROUP BY e.dst) s ON s.node = tv.node),
          r0 AS (SELECT node, 1.0 AS r FROM nodes),
          r1 AS (SELECT n.node, 0.15 + 0.85 * coalesce(s.x, 0) AS r
                 FROM nodes n LEFT JOIN (
                   SELECT e.dst AS node, sum(r0.r / deg.dg) AS x
                   FROM e JOIN r0 ON r0.node = e.src
                        JOIN deg ON deg.src = e.src
                   GROUP BY e.dst) s ON s.node = n.node),
          r2 AS (SELECT n.node, 0.15 + 0.85 * coalesce(s.x, 0) AS r
                 FROM nodes n LEFT JOIN (
                   SELECT e.dst AS node, sum(r1.r / deg.dg) AS x
                   FROM e JOIN r1 ON r1.node = e.src
                        JOIN deg ON deg.src = e.src
                   GROUP BY e.dst) s ON s.node = n.node),
          r3 AS (SELECT n.node, 0.15 + 0.85 * coalesce(s.x, 0) AS r
                 FROM nodes n LEFT JOIN (
                   SELECT e.dst AS node, sum(r2.r / deg.dg) AS x
                   FROM e JOIN r2 ON r2.node = e.src
                        JOIN deg ON deg.src = e.src
                   GROUP BY e.dst) s ON s.node = n.node)
          SELECT t3.node AS doc_id,
                 round(t3.r, 9) AS trust,
                 round(r3.r, 9) AS pr,
                 round(round(r3.r, 9) - round(t3.r, 9), 9) AS spam_mass
          FROM t3 JOIN r3 ON r3.node = t3.node
          ORDER BY doc_id
        """,
        "hits": """
          WITH mm AS (SELECT max(doc_id) + 1 AS m FROM documents),
          cand AS (
            SELECT doc_id,
              (doc_id * doc_id + 1) % (SELECT m FROM mm) AS k1,
              (doc_id * 13 + 5) % (SELECT m FROM mm) AS k2
            FROM documents),
          e AS (
            SELECT DISTINCT src, dst FROM (
              SELECT c.doc_id AS src, d.doc_id AS dst
              FROM cand c JOIN documents d ON d.doc_id = c.k1
              UNION ALL
              SELECT c.doc_id AS src, d.doc_id AS dst
              FROM cand c JOIN documents d ON d.doc_id = c.k2
              WHERE c.doc_id % 3 <> 0
            ) WHERE src <> dst),
          nodes AS (SELECT DISTINCT node FROM (
            SELECT src AS node FROM e UNION ALL SELECT dst AS node FROM e)),
          a1 AS (SELECT n.node, CAST(coalesce(s.x, 0) AS BIGINT) AS auth
                 FROM nodes n LEFT JOIN (
                   SELECT dst AS node, count(*) AS x FROM e GROUP BY dst
                 ) s ON s.node = n.node),
          h1 AS (SELECT n.node, CAST(coalesce(s.x, 0) AS BIGINT) AS hub
                 FROM nodes n LEFT JOIN (
                   SELECT e.src AS node, sum(a1.auth) AS x
                   FROM e JOIN a1 ON a1.node = e.dst GROUP BY e.src
                 ) s ON s.node = n.node),
          a2 AS (SELECT n.node, CAST(coalesce(s.x, 0) AS BIGINT) AS auth
                 FROM nodes n LEFT JOIN (
                   SELECT e.dst AS node, sum(h1.hub) AS x
                   FROM e JOIN h1 ON h1.node = e.src GROUP BY e.dst
                 ) s ON s.node = n.node),
          h2 AS (SELECT n.node, CAST(coalesce(s.x, 0) AS BIGINT) AS hub
                 FROM nodes n LEFT JOIN (
                   SELECT e.src AS node, sum(a2.auth) AS x
                   FROM e JOIN a2 ON a2.node = e.dst GROUP BY e.src
                 ) s ON s.node = n.node)
          SELECT n.node, h2.hub, a2.auth
          FROM nodes n JOIN h2 ON h2.node = n.node
                       JOIN a2 ON a2.node = n.node
          ORDER BY n.node
        """,
        # the same prefix-sum placement, digested per shard with an
        # ordered string_agg
        "shard_manifest": """
          WITH t AS (
            SELECT doc_id, text, CAST(strlen(text) AS BIGINT) AS n_bytes,
              ('0x' || substr(md5('|' || doc_id::VARCHAR), 1, 15))::BIGINT AS h
            FROM documents
          ), run AS (
            SELECT doc_id, text, n_bytes,
              CAST(sum(n_bytes) OVER (ORDER BY h % 64, h, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum
            FROM t
          )
          SELECT CAST((cum - n_bytes) // 16384 AS BIGINT) AS shard_id,
                 CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(n_bytes) AS BIGINT) AS n_bytes,
                 md5(string_agg(text, '' ORDER BY cum - n_bytes))
                   AS content_digest
          FROM run GROUP BY 1 ORDER BY shard_id
        """,
        # same prefix-sum order as pack_sequences, but over BYTES with
        # no document splitting: shard = start_off div budget
        "shard_plan": """
          WITH t AS (
            SELECT doc_id, CAST(strlen(text) AS BIGINT) AS n_bytes,
              ('0x' || substr(md5('|' || doc_id::VARCHAR), 1, 15))::BIGINT AS h
            FROM documents
          ), run AS (
            SELECT doc_id, n_bytes,
              CAST(sum(n_bytes) OVER (ORDER BY h % 64, h, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum
            FROM t
          )
          SELECT doc_id, n_bytes,
            cum - n_bytes AS start_off,
            CAST((cum - n_bytes) // 16384 AS BIGINT) AS shard_id,
            CAST((cum - n_bytes) % 16384 AS BIGINT) AS shard_off
          FROM run
        """,
        "pack_sequences": f"""
          WITH t AS (
            SELECT doc_id,
              CAST(CASE WHEN len(trim(text)) = 0 THEN 0
                   ELSE len({toks}) END AS BIGINT) AS n_tokens,
              ('0x' || substr(md5('|' || doc_id::VARCHAR), 1, 15))::BIGINT AS h
            FROM documents
          ), run AS (
            SELECT doc_id, n_tokens,
              CAST(sum(n_tokens) OVER (ORDER BY h % 64, h, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum
            FROM t WHERE n_tokens > 0
          )
          SELECT doc_id, n_tokens,
            cum - n_tokens AS start_off,
            CAST((cum - n_tokens) // 2048 AS BIGINT) AS seq_first,
            CAST((cum - 1) // 2048 AS BIGINT) AS seq_last,
            CAST((cum - 1) // 2048 - (cum - n_tokens) // 2048 + 1
                 AS BIGINT) AS n_seqs
          FROM run
        """,
        # packed_batches: same prefix-sum CTE as pack_sequences, then
        # each doc explodes into its covered sequences and each
        # sequence reassembles its token slices in start_off order —
        # the oracle re-derives every sequence's exact text
        "packed_batches": f"""
          WITH t AS (
            SELECT doc_id,
              CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
                   ELSE {toks} END AS toksl,
              ('0x' || substr(md5('|' || doc_id::VARCHAR), 1, 15))::BIGINT AS h
            FROM documents
          ), run AS (
            SELECT doc_id, toksl, CAST(len(toksl) AS BIGINT) AS n_tokens,
              CAST(sum(len(toksl)) OVER (ORDER BY h % 64, h, doc_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS BIGINT) AS cum
            FROM t WHERE len(toksl) > 0
          ), seg AS (
            SELECT u.seq_id AS seq_id, cum - n_tokens AS start_off,
              greatest(0, u.seq_id * 512 - (cum - n_tokens)) AS lo,
              least(n_tokens, (u.seq_id + 1) * 512 - (cum - n_tokens)) AS hi,
              toksl
            FROM run,
              unnest(range((cum - n_tokens) // 512, (cum - 1) // 512 + 1))
              AS u(seq_id)
          )
          SELECT seq_id, CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(hi - lo) AS BIGINT) AS n_tokens,
            (sum(hi - lo) = 512) AS full,
            string_agg(array_to_string(toksl[lo+1 : hi], ' '),
                       ' ' ORDER BY start_off) AS text
          FROM seg GROUP BY seq_id
        """,
        "decontaminate": f"""
          WITH bt AS (
            SELECT doc_id + 5000000 AS bench_id,
              array_to_string(({toks})[1:60], ' ') AS text
            FROM documents WHERE doc_id % 23 = 5
          ), btok AS (SELECT bench_id, text, {toks} AS toksl FROM bt),
          bg AS (
            SELECT bench_id, unnest({_shingles_sql_k(5)}) AS gram FROM btok
          ), ctok AS (SELECT doc_id, text, {toks} AS toksl FROM documents),
          cg AS (
            SELECT doc_id, unnest({_shingles_sql_k(5)}) AS gram FROM ctok
          )
          SELECT doc_id, bench_id, CAST(count(*) AS BIGINT) AS n_shared
          FROM cg JOIN bg USING (gram)
          GROUP BY doc_id, bench_id
          HAVING count(*) >= 3
        """,
        "pricing_summary": (
            "SELECT l_returnflag, l_linestatus, sum(l_quantity) AS sum_qty, "
            "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue, "
            "count(*) AS count_order FROM lineitem "
            "WHERE l_shipdate <= DATE '1998-09-02' "
            "GROUP BY l_returnflag, l_linestatus "
            "ORDER BY l_returnflag, l_linestatus"
        ),
        "top_customers": (
            "SELECT c_custkey, c_name, "
            "round(sum(o_totalprice), 2) AS total_spent, "
            "count(*) AS n_orders "
            "FROM orders JOIN customer ON o_custkey = c_custkey "
            "GROUP BY c_custkey, c_name "
            "ORDER BY total_spent DESC, c_custkey ASC LIMIT 10"
        ),
        "regional_revenue": (
            "SELECT r_name, "
            "round(sum(l_extendedprice * (1 - l_discount)), 2) AS revenue, "
            "count(*) AS n_items "
            "FROM lineitem "
            "JOIN orders ON l_orderkey = o_orderkey "
            "JOIN customer ON o_custkey = c_custkey "
            "JOIN nation ON c_nationkey = n_nationkey "
            "JOIN region ON n_regionkey = r_regionkey "
            "GROUP BY r_name ORDER BY r_name"
        ),
        "customers_no_orders": (
            "SELECT c_custkey, c_name FROM customer c "
            "WHERE NOT EXISTS (SELECT 1 FROM orders o "
            "WHERE o.o_custkey = c.c_custkey)"
        ),
        "setop_except": (
            "SELECT DISTINCT user_id FROM events WHERE event_type = 'click' "
            "EXCEPT "
            "SELECT DISTINCT user_id FROM events WHERE event_type = 'purchase'"
        ),
        "json_extract": (
            "SELECT event_type, "
            "CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) "
            "AS BIGINT) AS sum_k, "
            "count(*) AS n_events "
            "FROM events GROUP BY event_type ORDER BY event_type"
        ),
        "running_window": (
            "SELECT event_id, user_id, "
            "round(sum(value) OVER (PARTITION BY user_id ORDER BY ts, event_id "
            "ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW), 2) "
            "AS running_value FROM events"
        ),
        # crawl-delay: agent group > * group > default; non-numeric
        # falls back — all closed-form from hid
        "crawl_delay": """
          WITH h AS (SELECT DISTINCT doc_id % 50 AS hid FROM documents)
          SELECT 'site' || hid || '.example.com' AS host,
            CASE WHEN hid % 4 = 0 THEN CAST(hid % 7 + 1 AS DOUBLE)
                 WHEN hid % 4 = 1 THEN 0.5
                 ELSE 1.0 END AS crawl_delay,
            CAST(CASE WHEN hid % 4 = 0 THEN floor(60.0 / (hid % 7 + 1))
                 WHEN hid % 4 = 1 THEN 120
                 ELSE 60 END AS INT) AS max_per_minute
          FROM h ORDER BY host
        """,
        "retention": """
          WITH ud AS (
            SELECT DISTINCT user_id, CAST(ts AS DATE) AS day FROM events),
          f AS (SELECT user_id, min(day) AS cohort_day
                FROM ud GROUP BY user_id)
          SELECT f.cohort_day,
                 CAST(ud.day - f.cohort_day AS INT) AS day_offset,
                 CAST(count(DISTINCT ud.user_id) AS BIGINT) AS n_users
          FROM ud JOIN f USING (user_id)
          GROUP BY f.cohort_day, day_offset
          ORDER BY f.cohort_day, day_offset
        """,
        "funnel": """
          WITH t AS (
            SELECT user_id, event_type,
                   CAST(floor(epoch(ts)) AS BIGINT) AS tsl
            FROM events),
          v AS (SELECT user_id, min(tsl) AS first_view FROM t
                WHERE event_type = 'view' GROUP BY user_id),
          c AS (SELECT t.user_id, min(t.tsl) AS first_click
                FROM t JOIN v USING (user_id)
                WHERE t.event_type = 'click' AND t.tsl >= v.first_view
                GROUP BY t.user_id)
          SELECT v.user_id, v.first_view, c.first_click,
                 c.first_click IS NOT NULL AS converted,
                 c.first_click - v.first_view AS lag_s
          FROM v LEFT JOIN c USING (user_id)
          ORDER BY v.user_id
        """,
        # interval union: the same running-max sweep windows; integer
        # epoch seconds via the tz-free floor(epoch) grid
        "interval_union": """
          WITH t AS (
            SELECT user_id,
              CAST(floor(epoch(ts)) AS BIGINT) AS s,
              CAST(floor(epoch(ts)) AS BIGINT) + 300 AS e
            FROM events),
          m AS (
            SELECT user_id, s, e,
              max(e) OVER (PARTITION BY user_id ORDER BY s, e
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS rm
            FROM t),
          i AS (
            SELECT user_id, s, e,
              CASE WHEN rm IS NULL OR s > rm THEN 1 ELSE 0 END AS ni
            FROM m),
          ii AS (
            SELECT user_id, s, e,
              sum(ni) OVER (PARTITION BY user_id ORDER BY s, e
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                AS island
            FROM i),
          isl AS (
            SELECT user_id, island, min(s) AS a, max(e) AS b
            FROM ii GROUP BY user_id, island)
          SELECT user_id, CAST(count(*) AS BIGINT) AS n_islands,
                 CAST(sum(b - a) AS BIGINT) AS covered_s
          FROM isl GROUP BY user_id ORDER BY user_id
        """,
        # RFC1123 dates: weekday/day derived off the same known-Monday
        # offset; try_strptime NULLs the malformed rows like
        # try_to_timestamp
        "http_dates": """
          WITH h AS (
            SELECT doc_id,
              CASE WHEN doc_id % 31 = 0 THEN 'yesterday-ish'
                   ELSE ['Mon','Tue','Wed','Thu','Fri','Sat','Sun']
                          [CAST((doc_id % 28) % 7 + 1 AS INT)]
                        || ', '
                        || lpad(CAST(doc_id % 28 + 1 AS VARCHAR), 2, '0')
                        || ' Jan 2024 '
                        || lpad(CAST(doc_id % 24 AS VARCHAR), 2, '0')
                        || ':00:00 GMT' END AS last_modified
            FROM documents)
          SELECT doc_id, last_modified,
            try_strptime(regexp_replace(last_modified,
                         '^[A-Za-z]{3}, ', ''),
                         '%d %b %Y %H:%M:%S GMT') AS parsed_ts,
            CAST(date '2024-03-01'
                 - CAST(try_strptime(regexp_replace(last_modified,
                        '^[A-Za-z]{3}, ', ''),
                        '%d %b %Y %H:%M:%S GMT') AS DATE)
                 AS INT) AS age_days
          FROM h ORDER BY doc_id
        """,
        # entropy: char counts -> char-sorted list -> ordered
        # list_reduce fold (same left-to-right additions as the
        # engine's aggregate)
        "entropy": """
          WITH s AS (
            SELECT doc_id,
              text || CASE WHEN doc_id % 13 = 0
                           THEN ' ' || repeat('z', 600) ELSE '' END AS t
            FROM documents),
          comp AS (
            SELECT doc_id, regexp_replace(t, '\\s', '', 'g') AS p FROM s),
          ch AS (
            SELECT doc_id,
              unnest(list_transform(range(1, length(p) + 1),
                     i -> p[i])) AS c
            FROM comp WHERE length(p) > 0),
          cnt AS (SELECT doc_id, c, CAST(count(*) AS BIGINT) AS k
                  FROM ch GROUP BY doc_id, c),
          per AS (
            SELECT doc_id,
              list_sort(list({'c': c, 'k': k})) AS arr,
              sum(k) AS n
            FROM cnt GROUP BY doc_id)
          SELECT doc_id, CAST(n AS BIGINT) AS n_chars,
            round(-list_reduce(
              list_prepend(0.0, list_transform(arr,
                x -> (x.k / n) * log2(x.k / n))),
              (a, b) -> a + b), 6) AS entropy,
            round(-list_reduce(
              list_prepend(0.0, list_transform(arr,
                x -> (x.k / n) * log2(x.k / n))),
              (a, b) -> a + b), 6) < 3.0 AS low_entropy
          FROM per ORDER BY doc_id
        """,
        # soft-404: identical pattern literals, identical precedence
        "soft404": f"""
          WITH s AS (
            SELECT doc_id,
              (CASE WHEN doc_id % 23 = 0
                    THEN 'Error 404 page not found. ' ELSE '' END)
              || (CASE WHEN doc_id % 29 = 0
                       THEN 'Access denied: login required. ' ELSE '' END)
              || text AS t
            FROM documents)
          SELECT doc_id,
            CASE {' '.join(
                f"WHEN regexp_matches(t, '{pat}') THEN '{name}'"
                for name, pat in SOFT404_PATTERNS)}
                 ELSE NULL END AS reason,
            CASE {' '.join(
                f"WHEN regexp_matches(t, '{pat}') THEN TRUE"
                for name, pat in SOFT404_PATTERNS)}
                 ELSE FALSE END AS soft404
          FROM s ORDER BY doc_id
        """,
        # median/MAD outliers: quantile_cont == Spark's interpolated
        # percentile (the corpus_stats precedent); the 3*1.4826*mad
        # threshold is the same double product on both sides
        "length_outliers": f"""
          WITH per AS (
            SELECT source,
              CAST((CASE WHEN len(trim(text)) = 0 THEN 0
                    ELSE len({toks}) END)
                   * (CASE WHEN doc_id % 19 = 0 THEN 20 ELSE 1 END)
                   AS BIGINT) AS n
            FROM documents),
          med AS (
            SELECT source, quantile_cont(n, 0.5) AS med
            FROM per GROUP BY source),
          j AS (
            SELECT per.source, per.n, med.med,
                   abs(per.n - med.med) AS ad
            FROM per JOIN med USING (source)),
          mad AS (
            SELECT source, quantile_cont(ad, 0.5) AS mad
            FROM j GROUP BY source)
          SELECT j.source,
            round(any_value(j.med), 6) AS med_tokens,
            round(any_value(mad.mad), 6) AS mad_tokens,
            CAST(count(*) AS BIGINT) AS n_docs,
            CAST(sum(CASE WHEN j.ad > 3 * 1.4826 * mad.mad
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
          FROM j JOIN mad USING (source)
          GROUP BY j.source ORDER BY j.source
        """,
        "daily_events": """
          SELECT CAST(ts AS DATE) AS day, event_type,
            CAST(count(*) AS BIGINT) AS n_events,
            CAST(count(DISTINCT user_id) AS BIGINT) AS n_users,
            CAST(min(hour(ts)) AS INT) AS first_hour,
            CAST(max(hour(ts)) AS INT) AS last_hour
          FROM events GROUP BY day, event_type
          ORDER BY day, event_type
        """,
        # RANGE frame over epoch SECONDS (floor matches Spark's
        # timestamp->long truncation); integer aggregates only
        "trailing_window": """
          WITH t AS (
            SELECT event_id, user_id,
                   CAST(floor(epoch(ts)) AS BIGINT) AS tsl
            FROM events)
          SELECT event_id, user_id,
            CAST(count(*) OVER w AS BIGINT) AS n_10m,
            CAST(sum(event_id % 97) OVER w AS BIGINT) AS act_10m
          FROM t
          WINDOW w AS (PARTITION BY user_id ORDER BY tsl
                       RANGE BETWEEN 600 PRECEDING AND CURRENT ROW)
          ORDER BY event_id
        """,
        # streaming extract parity: the batch invariant IS the oracle —
        # the stream runs the same Arrow kernel over the same wrapper
        "stream_extract_parity": (
            "SELECT doc_id, text FROM documents ORDER BY doc_id"
        ),
        # streaming sessionize (append mode): batch gaps-and-islands
        # sessions minus each user's trailing (still-open) session.
        # tsl is FLOORED to whole epoch seconds up front (Spark's
        # timestamp->long cast truncates; DuckDB's double->bigint cast
        # would round) and drives gap logic and ordering, matching the
        # engine's integer-second state machine exactly
        "stream_sessionize": """
          WITH e AS (
            SELECT user_id, event_id,
                   CAST(floor(epoch(ts)) AS BIGINT) AS tsl
            FROM events),
          t AS (
            SELECT user_id, event_id, tsl,
              CASE WHEN lag(tsl) OVER w IS NULL
                     OR tsl - lag(tsl) OVER w > 1800
                   THEN 1 ELSE 0 END AS new_sess
            FROM e
            WINDOW w AS (PARTITION BY user_id ORDER BY tsl, event_id)),
          s AS (
            SELECT user_id, tsl, event_id,
              sum(new_sess) OVER (PARTITION BY user_id ORDER BY tsl, event_id
                ROWS UNBOUNDED PRECEDING) AS sess
            FROM t),
          g AS (
            SELECT user_id, sess,
                   min(tsl) AS session_start,
                   max(tsl) AS session_end,
                   CAST(count(*) AS BIGINT) AS n_events
            FROM s GROUP BY 1, 2),
          mx AS (SELECT user_id, max(sess) AS last_sess FROM g
                 GROUP BY user_id)
          SELECT g.user_id, g.session_start, g.session_end, g.n_events
          FROM g JOIN mx USING (user_id)
          WHERE g.sess < mx.last_sess
          ORDER BY g.user_id, g.session_start
        """,
        "sessionize": """
          WITH t AS (
            SELECT user_id, event_id, epoch(ts) AS tsl,
              CASE WHEN lag(epoch(ts)) OVER w IS NULL
                     OR epoch(ts) - lag(epoch(ts)) OVER w > 1800
                   THEN 1 ELSE 0 END AS new_sess
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
          s AS (
            SELECT user_id,
              sum(new_sess) OVER (PARTITION BY user_id ORDER BY tsl, event_id
                ROWS UNBOUNDED PRECEDING) AS sess
            FROM t),
          g AS (SELECT user_id, sess, count(*) AS n_events
                FROM s GROUP BY 1, 2)
          SELECT user_id, CAST(count(*) AS BIGINT) AS n_sessions,
                 CAST(sum(n_events) AS BIGINT) AS n_events,
                 CAST(max(n_events) AS BIGINT) AS max_session_events
          FROM g GROUP BY user_id
        """,
        # HyperLogLog re-derived from the published algorithm: same
        # md5-60 hash, m=64, bin-length rank, exact-integer harmonic
        # sum (2^(55-rho) in int64) so no float-summation-order drift
        "hll_count": """
          WITH h AS (
            SELECT source,
                   ('0x' || substr(md5(text), 1, 15))::BIGINT AS h
            FROM documents),
          b AS (
            SELECT source, h >> 54 AS bucket,
                   55 - length(regexp_replace(
                         bin(h & ((1::BIGINT << 54) - 1)),
                         '^0+', '')) AS rho
            FROM h),
          regs AS (SELECT source, bucket, max(rho) AS r
                   FROM b GROUP BY 1, 2),
          fold AS (
            SELECT source, count(*) AS nb,
                   sum((1::BIGINT) << (55 - r)) AS s_scaled
            FROM regs GROUP BY 1),
          est AS (
            SELECT source, nb,
                   0.709e0 * 64.0e0 * 64.0e0 * 36028797018963968.0e0
                     / CAST(s_scaled + (64 - nb) * (1::BIGINT << 55)
                            AS DOUBLE) AS raw
            FROM fold)
          SELECT e.source,
                 round(CASE WHEN raw <= 160.0e0 AND (64 - nb) > 0
                            THEN 64.0e0 * ln(64.0e0
                                   / CAST(64 - nb AS DOUBLE))
                            ELSE raw END, 4) AS hll_estimate,
                 x.n_exact
          FROM est e JOIN (
            SELECT source, CAST(count(DISTINCT text) AS BIGINT) AS n_exact
            FROM documents GROUP BY 1) x USING (source)
          ORDER BY source
        """,
        # same published linear-interpolation percentile definition
        "percentiles": """
          SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
                 round(quantile_cont(n_chars, 0.5), 6) AS p50,
                 round(quantile_cont(n_chars, 0.9), 6) AS p90,
                 round(quantile_cont(n_chars, 0.99), 6) AS p99
          FROM documents GROUP BY lang ORDER BY lang
        """,
        "rollup_metrics": """
          SELECT lang, source,
                 CAST(GROUPING(lang, source) AS BIGINT) AS gid,
                 CAST(count(*) AS BIGINT) AS n_docs,
                 CAST(sum(n_chars) AS BIGINT) AS sum_chars
          FROM documents
          GROUP BY ROLLUP(lang, source)
          ORDER BY gid, lang NULLS FIRST, source NULLS FIRST
        """,
        "pivot_tokens": f"""
          WITH per AS (
            SELECT source, lang,
              CAST(CASE WHEN len(trim(text)) = 0 THEN 0
                   ELSE len({toks}) END AS BIGINT) AS n
            FROM documents)
          SELECT source,
            {', '.join(
                f"CAST(sum(CASE WHEN lang = '{lang}' THEN n END) AS BIGINT)"
                f" AS tok_{lang}" for lang in ['de','en','es','fr','zh'])}
          FROM per GROUP BY source ORDER BY source
        """,
        "melt_tokens": f"""
          WITH per AS (
            SELECT source, lang,
              CAST(CASE WHEN len(trim(text)) = 0 THEN 0
                   ELSE len({toks}) END AS BIGINT) AS n
            FROM documents)
          SELECT source, lang, CAST(sum(n) AS BIGINT) AS n_tokens
          FROM per GROUP BY source, lang ORDER BY source, lang
        """,
        "word_blocklist": """
          WITH s AS (
            SELECT doc_id, lower(text
              || CASE WHEN doc_id % 7 = 0
                      THEN ' zzzspam offer inside' ELSE '' END
              || CASE WHEN doc_id % 11 = 0
                      THEN ' ZZZcasino ZZZCASINO jackpot' ELSE '' END
              || CASE WHEN doc_id % 13 = 0
                      THEN ' contact zzzscam dot example' ELSE '' END)
              AS t
            FROM documents),
          c AS (
            SELECT doc_id,
              CAST(len(regexp_extract_all(t, '\\bzzzspam\\b'))
                   AS BIGINT) AS n_zzzspam,
              CAST(len(regexp_extract_all(t, '\\bzzzscam\\b'))
                   AS BIGINT) AS n_zzzscam,
              CAST(len(regexp_extract_all(t, '\\bzzzcasino\\b'))
                   AS BIGINT) AS n_zzzcasino
            FROM s)
          SELECT doc_id, n_zzzspam, n_zzzscam, n_zzzcasino,
                 n_zzzspam + n_zzzscam + n_zzzcasino AS n_banned,
                 (n_zzzspam + n_zzzscam + n_zzzcasino) = 0 AS keep
          FROM c ORDER BY doc_id
        """,
        # per-site template lines: >=50% document frequency inside the
        # source group (groups of >=3 docs), blank lines never counted
        "template_strip": """
          WITH aug AS (
            SELECT doc_id, source,
                   'NAV ' || source || ' | home | about | contact'
                   || chr(10) || text || chr(10) ||
                   'Copyright ' || source || ' all rights reserved' AS t
            FROM documents),
          ls AS (SELECT doc_id, source,
                        string_split(t, chr(10)) AS arr FROM aug),
          lines0 AS (
            SELECT doc_id, source,
                   unnest(list_transform(range(1, len(arr) + 1),
                          i -> {'pos': i, 'ln': arr[i]})) AS u
            FROM ls),
          lines AS (
            SELECT doc_id, source, u.pos AS pos, u.ln AS ln,
                   trim(u.ln) AS lkey
            FROM lines0),
          gs AS (SELECT source, count(DISTINCT doc_id) AS n_docs
                 FROM aug GROUP BY 1),
          tpl AS (
            SELECT source, lkey
            FROM lines JOIN gs USING (source)
            WHERE lkey <> '' AND n_docs >= 3
            GROUP BY source, lkey, n_docs
            HAVING count(DISTINCT doc_id) >= n_docs * 0.5),
          kept AS (
            SELECT l.doc_id, l.pos, l.ln
            FROM lines l LEFT JOIN tpl t
              ON l.source = t.source AND l.lkey = t.lkey
            WHERE t.lkey IS NULL),
          re AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_lines_kept,
                   string_agg(ln, chr(10) ORDER BY pos) AS text_clean
            FROM kept GROUP BY doc_id)
          SELECT a.doc_id, a.source,
                 CAST(len(string_split(a.t, chr(10))) AS BIGINT)
                   AS n_lines_in,
                 CAST(coalesce(re.n_lines_kept, 0) AS BIGINT)
                   AS n_lines_kept,
                 coalesce(re.text_clean, '') AS text_clean
          FROM aug a LEFT JOIN re USING (doc_id)
          ORDER BY doc_id
        """,
        # trim-keyed first-occurrence paragraph dedup, original order
        "para_dedup": """
          WITH s AS (
            SELECT doc_id, text
              || CASE WHEN doc_id % 3 = 0
                      THEN chr(10) || chr(10) || text ELSE '' END
              || CASE WHEN doc_id % 4 = 0
                      THEN chr(10) || chr(10) || text || '  '
                      ELSE '' END
              || CASE WHEN doc_id % 5 = 0
                      THEN chr(10) || chr(10)
                           || 'See also: related articles.'
                      ELSE '' END AS t
            FROM documents),
          ps AS (SELECT doc_id,
                        string_split(t, chr(10) || chr(10)) AS arr
                 FROM s),
          p0 AS (
            SELECT doc_id,
                   unnest(list_transform(range(1, len(arr) + 1),
                          i -> {'pos': i, 'p': arr[i]})) AS u
            FROM ps),
          p AS (SELECT doc_id, u.pos AS pos, u.p AS p,
                       trim(u.p) AS k FROM p0),
          firsts AS (SELECT doc_id, k, min(pos) AS fpos
                     FROM p GROUP BY 1, 2),
          kept AS (
            SELECT p.doc_id, p.pos, p.p
            FROM p JOIN firsts f
              ON p.doc_id = f.doc_id AND p.k = f.k AND p.pos = f.fpos),
          agg AS (
            SELECT doc_id, CAST(count(*) AS BIGINT) AS n_paras_out,
                   md5(string_agg(p, chr(10) || chr(10) ORDER BY pos))
                     AS dedup_digest
            FROM kept GROUP BY doc_id)
          SELECT s.doc_id,
                 CAST(len(string_split(s.t, chr(10) || chr(10)))
                      AS BIGINT) AS n_paras_in,
                 agg.n_paras_out, agg.dedup_digest
          FROM s JOIN agg USING (doc_id) ORDER BY doc_id
        """,
        # Count-Min rebuilt from the same md5 row-hashes; certifies
        # the one-sided error (cms_est >= n_exact by construction)
        "cms_topk": """
          WITH tk AS (
            SELECT unnest(string_split_regex(trim(text), '\\s+')) AS tok
            FROM documents),
          t AS (SELECT tok FROM tk WHERE tok <> ''),
          ex AS (SELECT tok, CAST(count(*) AS BIGINT) AS n_exact
                 FROM t GROUP BY tok),
          probe AS (SELECT tok, n_exact FROM ex
                    ORDER BY n_exact DESC, tok LIMIT 15),
          js AS (SELECT CAST(r.range AS INT) AS j FROM range(4) r),
          hashed AS (
            SELECT js.j,
                   (('0x' || substr(md5(CAST(js.j AS VARCHAR) || '|'
                                        || t.tok), 1, 15))::BIGINT)
                     % 1024 AS bucket
            FROM t, js),
          sk AS (SELECT j, bucket, CAST(count(*) AS BIGINT) AS cnt
                 FROM hashed GROUP BY 1, 2),
          pq AS (
            SELECT p.tok, js.j,
                   (('0x' || substr(md5(CAST(js.j AS VARCHAR) || '|'
                                        || p.tok), 1, 15))::BIGINT)
                     % 1024 AS bucket
            FROM probe p, js),
          pe AS (SELECT pq.tok, min(sk.cnt) AS cms_est
                 FROM pq JOIN sk USING (j, bucket) GROUP BY pq.tok)
          SELECT p.tok AS token, p.n_exact, pe.cms_est
          FROM probe p JOIN pe ON pe.tok = p.tok
          ORDER BY p.n_exact DESC, token
        """,
        # closed-form construction rule; head8 certifies the decode
        # (utf-8-sig strips the BOM, utf-16-le keeps U+FEFF, latin-1
        # maps 0xE9 -> chr(233))
        "charset_detect": """
          SELECT doc_id,
            CASE doc_id % 6
              WHEN 0 THEN 'utf-8-sig' WHEN 1 THEN 'latin-1'
              WHEN 2 THEN 'utf-16-le' WHEN 3 THEN 'utf-8'
              WHEN 4 THEN 'latin-1' ELSE 'cp949' END AS codec,
            CASE doc_id % 6
              WHEN 0 THEN substr(text, 1, 8)
              WHEN 1 THEN '<html><h'
              WHEN 2 THEN chr(65279) || '<meta c'
              WHEN 3 THEN substr(text || ' caf' || chr(233), 1, 8)
              WHEN 4 THEN 'plain as'
              ELSE '<html><M' END AS head8
          FROM documents ORDER BY doc_id
        """,
        "domain_split": f"""
          WITH u AS (
            SELECT doc_id, {_url_sql_frags()['url_case']} AS url
            FROM documents),
          h AS (SELECT doc_id, {_url_sql_frags()['domain']} AS domain
                FROM u),
          b AS (
            SELECT doc_id, domain,
                   (('0x' || substr(md5('domsplit|' || domain),
                                    1, 15))::BIGINT) % 100 AS bk
            FROM h)
          SELECT doc_id, domain,
                 CASE WHEN bk < 80 THEN 'train'
                      WHEN bk < 90 THEN 'val'
                      ELSE 'test' END AS split
          FROM b ORDER BY doc_id
        """,
        "revisit_policy": """
          WITH s AS (
            SELECT 'u' || CAST(doc_id AS VARCHAR) AS url,
                   k.range AS snap_k,
                   md5(CAST(doc_id AS VARCHAR) || ':' ||
                       CAST((k.range // (1 + doc_id % 4)) AS VARCHAR))
                     AS digest
            FROM documents, range(4) k),
          ch AS (
            SELECT url, snap_k,
              CASE WHEN lag(digest) OVER w IS NOT NULL
                        AND digest <> lag(digest) OVER w
                   THEN 1 ELSE 0 END AS changed,
              CASE WHEN lag(digest) OVER w IS NOT NULL
                   THEN 1 ELSE 0 END AS has_prev
            FROM s WINDOW w AS (PARTITION BY url ORDER BY snap_k)),
          pk AS (SELECT url, CAST(count(*) AS BIGINT) AS n_snaps,
                        CAST(sum(changed) AS BIGINT) AS n_changes,
                        CAST(sum(has_prev) AS BIGINT) AS n_intervals
                 FROM ch GROUP BY url)
          SELECT url, n_snaps, n_changes,
                 round(CASE WHEN n_intervals > 0
                            THEN CAST(n_changes AS DOUBLE)
                                 / CAST(n_intervals AS DOUBLE)
                            ELSE 0.0e0 END, 6) AS change_rate,
                 CASE WHEN n_changes > 0
                      THEN greatest(1, CAST(floor(
                             CAST(n_intervals AS DOUBLE)
                             / CAST(n_changes AS DOUBLE)) AS BIGINT))
                      ELSE 30 END AS revisit_days
          FROM pk ORDER BY url
        """,
        # linear model inference re-derived: same feature-hash buckets,
        # same integer weight table, exact-integer dot product
        "model_score": """
          WITH tk AS (
            SELECT doc_id,
                   unnest(string_split_regex(trim(text), '\\s+')) AS tok
            FROM documents),
          t AS (SELECT doc_id, tok FROM tk WHERE tok <> ''),
          wt AS (
            SELECT doc_id,
                   ((('0x' || substr(md5('w|' || CAST(
                       (('0x' || substr(md5('b|' || tok), 1, 15))::BIGINT
                        % 64) AS VARCHAR)), 1, 15))::BIGINT % 2001)
                    - 1000) AS wi
            FROM t),
          per AS (SELECT doc_id, CAST(count(*) AS BIGINT) AS n_toks,
                         CAST(sum(wi) AS BIGINT) AS s
                  FROM wt GROUP BY doc_id),
          lg AS (
            SELECT d.doc_id,
                   CAST(coalesce(p.n_toks, 0) AS BIGINT) AS n_toks,
                   CAST(coalesce(p.s, 0) AS BIGINT) AS dot_int,
                   CASE WHEN coalesce(p.n_toks, 0) > 0
                        THEN CAST(p.s AS DOUBLE)
                             / (1000.0e0 * CAST(p.n_toks AS DOUBLE))
                        ELSE 0.0e0 END AS l
            FROM documents d LEFT JOIN per p USING (doc_id))
          SELECT doc_id, n_toks, dot_int,
                 round(1.0e0 / (1.0e0 + exp(-l)), 6) AS score,
                 (1.0e0 / (1.0e0 + exp(-l))) >= 0.5e0 AS keep
          FROM lg ORDER BY doc_id
        """,
        "zipf_fit": """
          WITH tk AS (
            SELECT unnest(string_split_regex(trim(text), '\\s+')) AS tok
            FROM documents),
          t AS (SELECT tok FROM tk WHERE tok <> ''),
          f AS (SELECT tok, CAST(count(*) AS BIGINT) AS cnt
                FROM t GROUP BY tok),
          top AS (SELECT tok, cnt FROM f ORDER BY cnt DESC, tok
                  LIMIT 1000),
          r AS (SELECT cnt,
                       row_number() OVER (ORDER BY cnt DESC, tok)
                         AS rank
                FROM top)
          SELECT CAST(count(*) AS BIGINT) AS n_top,
                 round(regr_slope(ln(cnt), ln(rank)), 4) AS slope,
                 round(regr_intercept(ln(cnt), ln(rank)), 4)
                   AS intercept
          FROM r
        """,
        "oov_rate": """
          WITH tk AS (
            SELECT doc_id,
                   unnest(string_split_regex(trim(text), '\\s+')) AS tok
            FROM documents),
          t AS (SELECT doc_id, tok FROM tk WHERE tok <> ''),
          f AS (SELECT tok, count(*) AS cnt FROM t GROUP BY tok),
          v AS (SELECT tok FROM f ORDER BY cnt DESC, tok LIMIT 256),
          per AS (
            SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_toks,
                   CAST(count(*) FILTER (WHERE v.tok IS NULL)
                        AS BIGINT) AS n_oov
            FROM t LEFT JOIN v ON t.tok = v.tok
            GROUP BY t.doc_id)
          SELECT d.doc_id,
                 CAST(coalesce(p.n_toks, 0) AS BIGINT) AS n_toks,
                 CAST(coalesce(p.n_oov, 0) AS BIGINT) AS n_oov,
                 round(CASE WHEN coalesce(p.n_toks, 0) > 0
                            THEN CAST(p.n_oov AS DOUBLE)
                                 / CAST(p.n_toks AS DOUBLE)
                            ELSE 0.0e0 END, 6) AS oov_rate
          FROM documents d LEFT JOIN per p USING (doc_id)
          ORDER BY doc_id
        """,
        # identical (?im) RE2/Java regexes over the same header blocks;
        # absent headers -> NULL via nullif on the empty-string miss
        "http_headers": """
          WITH h AS (
            SELECT doc_id,
              CASE doc_id % 5
                WHEN 0 THEN 'HTTP/1.1 200 OK' || chr(13)||chr(10)
                  || 'Server: x' || chr(13)||chr(10)
                  || 'Content-Type: text/HTML; charset=UTF-8'
                  || chr(13)||chr(10)
                  || 'Content-Length: ' || CAST(n_chars AS VARCHAR)
                  || chr(13)||chr(10) || chr(13)||chr(10)
                WHEN 1 THEN 'HTTP/1.1 301 Moved Permanently'
                  || chr(13)||chr(10)
                  || 'Location: https://example.com/'
                  || CAST(doc_id AS VARCHAR) || chr(13)||chr(10)
                  || 'Content-Type: text/html'
                  || chr(13)||chr(10) || chr(13)||chr(10)
                WHEN 2 THEN 'HTTP/1.1 404 Not Found' || chr(13)||chr(10)
                  || 'Content-Type: Text/Html; Charset=ISO-8859-1'
                  || chr(13)||chr(10) || chr(13)||chr(10)
                WHEN 3 THEN 'HTTP/1.1 200 OK' || chr(13)||chr(10)
                  || 'Content-Type: application/pdf' || chr(13)||chr(10)
                  || 'Content-Length: '
                  || CAST(doc_id * 7 AS VARCHAR)
                  || chr(13)||chr(10) || chr(13)||chr(10)
                ELSE 'HTTP/1.1 503 Service Unavailable'
                  || chr(13)||chr(10) || 'Retry-After: 60'
                  || chr(13)||chr(10) || chr(13)||chr(10)
              END AS hdr
            FROM documents),
          p AS (
            SELECT doc_id,
              CAST(regexp_extract(hdr, 'HTTP/\\d\\.\\d (\\d{3})', 1)
                   AS INT) AS status,
              regexp_extract(hdr,
                '(?im)^Content-Type:\\s*([^' || chr(13) || chr(10)
                || ']+)', 1) AS ct_raw
            FROM h)
          SELECT doc_id, status,
            CASE WHEN ct_raw = '' THEN NULL
                 ELSE lower(trim(regexp_extract(ct_raw, '^([^;]+)', 1)))
            END AS content_type,
            CASE WHEN regexp_extract(ct_raw,
                   '(?i)charset=([A-Za-z0-9_\\-]+)', 1) = '' THEN NULL
                 ELSE lower(regexp_extract(ct_raw,
                   '(?i)charset=([A-Za-z0-9_\\-]+)', 1))
            END AS charset,
            CAST(nullif(regexp_extract(h.hdr,
                 '(?im)^Content-Length:\\s*(\\d+)', 1), '')
                 AS BIGINT) AS content_length,
            status IN (301, 302, 307, 308) AS is_redirect
          FROM p JOIN h USING (doc_id)
          ORDER BY doc_id
        """,
        "robots_sitemaps": """
          WITH hosts AS (SELECT DISTINCT doc_id % 20 AS h
                         FROM documents),
          t AS (
            SELECT 'site' || CAST(h AS VARCHAR) || '.example.com'
                     AS host,
                   CASE h % 3
                     WHEN 0 THEN 'User-agent: *' || chr(10)
                       || 'Disallow: /tmp/'
                     WHEN 1 THEN 'User-agent: *' || chr(10)
                       || 'Disallow: /x' || chr(10)
                       || 'Sitemap: https://site' || CAST(h AS VARCHAR)
                       || '.example.com/sitemap.xml'
                     ELSE 'sitemap: https://site' || CAST(h AS VARCHAR)
                       || '.example.com/s1.xml' || chr(10)
                       || 'User-agent: bot' || chr(10) || 'Disallow: /'
                       || chr(10)
                       || 'SITEMAP: https://site' || CAST(h AS VARCHAR)
                       || '.example.com/s2.xml'
                   END AS robots_txt
            FROM hosts)
          SELECT host, unnest(regexp_extract_all(robots_txt,
                   '(?im)^sitemap:\\s*(\\S+)', 1)) AS sitemap_url
          FROM t
          ORDER BY host, sitemap_url
        """,
        # the CORRELATED scalar-subquery semantics, decorrelated by the
        # engine; exact integer-cents predicate on both sides
        "orders_above_avg": """
          WITH b AS (
            SELECT o_orderkey, o_custkey,
                   CAST(round(o_totalprice * 100, 0) AS BIGINT)
                     AS price_cents
            FROM orders),
          ag AS (SELECT o_custkey,
                        CAST(count(*) AS BIGINT) AS n_cust_orders,
                        CAST(sum(price_cents) AS BIGINT)
                          AS cust_sum_cents
                 FROM b GROUP BY 1)
          SELECT b.o_orderkey, b.o_custkey, b.price_cents,
                 ag.n_cust_orders, ag.cust_sum_cents
          FROM b JOIN ag USING (o_custkey)
          WHERE b.price_cents * ag.n_cust_orders * 10
                > ag.cust_sum_cents * 12
          ORDER BY b.o_orderkey
        """,
    }
    # composed oracle: the Dolma-style attribute union joins the
    # per-signal oracles (each already a full SELECT over documents)
    # as CTE blocks on doc_id, plus raw-text PII counts (the pii_scrub
    # entry counts over AUGMENTED text; attributes tag the corpus
    # as-is)
    d["doc_attributes"] = f"""
      WITH ts AS ({d['text_stats']}),
      qf AS ({d['quality_filter']}),
      rd AS ({d['readability']}),
      pii AS ({_pii_counts_raw_sql()})
      SELECT ts.doc_id, dd.lang,
        ts.n_tokens, ts.avg_token_len, ts.stopword_ratio,
        ts.non_alnum_ratio, ts.quality_score,
        qf.dup_token_ratio, qf.top_bigram_ratio, qf.keep, qf.drop_reason,
        rd.flesch, pii.n_email, pii.n_ip, pii.n_phone
      FROM ts
      JOIN qf ON ts.doc_id = qf.doc_id
      JOIN rd ON ts.doc_id = rd.doc_id
      JOIN pii ON ts.doc_id = pii.doc_id
      JOIN documents dd ON ts.doc_id = dd.doc_id
      ORDER BY ts.doc_id
    """
    # sentence segmentation: same lookbehind-free regex, explode via
    # the ordinality struct-transform idiom
    # full second cloze implementation: same sentence regex +
    # whitespace token split, df over distinct per-doc tokens,
    # (df, term) argmin via a window, list_transform blank rebuild
    d["cloze_qa"] = r"""
      WITH low AS (SELECT doc_id, lower(text) AS t FROM documents),
      sl AS (
        SELECT doc_id,
          list_filter(list_transform(
            regexp_extract_all(t, '[^.!?]+[.!?]*'), s -> trim(s)),
            s -> len(s) > 0) AS ss
        FROM low),
      sent AS (
        SELECT doc_id, p.idx AS sent_idx, p.s AS s
        FROM (SELECT doc_id,
                unnest(list_transform(range(1, len(ss) + 1),
                  i -> {'idx': CAST(i - 1 AS INT), 's': ss[i]})) AS p
              FROM sl)),
      stok AS (
        SELECT doc_id, sent_idx,
               string_split_regex(trim(s), '\s+') AS toks
        FROM sent),
      stok_f AS (SELECT * FROM stok WHERE len(toks) >= 5),
      dtok AS (
        SELECT doc_id, unnest(list_distinct(
          CASE WHEN len(trim(t)) = 0 THEN CAST([] AS VARCHAR[])
               ELSE string_split_regex(trim(t), '\s+') END)) AS term
        FROM low),
      dfreq AS (SELECT term, count(*) AS df FROM dtok GROUP BY term),
      cand AS (
        SELECT doc_id, sent_idx, unnest(list_distinct(toks)) AS term
        FROM stok_f),
      ranked AS (
        SELECT c.doc_id, c.sent_idx, c.term, d.df,
               row_number() OVER (PARTITION BY c.doc_id, c.sent_idx
                                  ORDER BY d.df, c.term) AS rn
        FROM cand c JOIN dfreq d USING (term))
      SELECT b.doc_id, b.sent_idx,
             array_to_string(list_transform(sf.toks,
               x -> CASE WHEN x = b.term THEN '____' ELSE x END),
               ' ') AS question,
             b.term AS answer, b.df AS answer_df
      FROM (SELECT * FROM ranked WHERE rn = 1) b
      JOIN stok_f sf USING (doc_id, sent_idx)
      ORDER BY doc_id, sent_idx
    """
    # full second gazetteer implementation: range-lateral n-gram
    # positions, VALUES dictionary, NOT-EXISTS strict containment
    d["gazetteer"] = r"""
      WITH tok AS (
        SELECT doc_id,
          CASE WHEN len(trim(lower(text))) = 0
               THEN CAST([] AS VARCHAR[])
               ELSE string_split_regex(trim(lower(text)), '\s+')
          END AS tl
        FROM documents),
      u AS (
        SELECT doc_id, tl, unnest(range(0, len(tl))) AS i FROM tok),
      grams AS (
        SELECT doc_id, CAST(i AS INT) AS pos, tl[i + 1] AS surface
        FROM u
        UNION ALL
        SELECT doc_id, CAST(i AS INT),
               tl[i + 1] || ' ' || tl[i + 2]
        FROM u WHERE i + 2 <= len(tl)),
      gaz(surface, entity_id, n_words) AS (VALUES
        ('hash join', 'Q_HASHJOIN', 2),
        ('merge join', 'Q_MERGEJOIN', 2),
        ('join', 'Q_JOIN', 1), ('data', 'Q_DATA', 1),
        ('window', 'Q_WINDOW', 1), ('scan', 'Q_SCAN', 1)),
      m AS (
        SELECT g.doc_id, g.pos, z.n_words, g.surface, z.entity_id
        FROM grams g JOIN gaz z USING (surface))
      SELECT doc_id, pos, n_words, surface, entity_id
      FROM m a
      WHERE NOT EXISTS (
        SELECT 1 FROM m b
        WHERE b.doc_id = a.doc_id AND b.pos <= a.pos
          AND b.pos + b.n_words >= a.pos + a.n_words
          AND (b.pos <> a.pos OR b.n_words <> a.n_words))
      ORDER BY doc_id, pos, n_words
    """
    # bigram mentions only (no containment possible), 1-based
    # inclusive list slice mirrors Spark's slice(start+1, end-start)
    d["entity_contexts"] = r"""
      WITH tok AS (
        SELECT doc_id,
          CASE WHEN len(trim(lower(text))) = 0
               THEN CAST([] AS VARCHAR[])
               ELSE string_split_regex(trim(lower(text)), '\s+')
          END AS tl
        FROM documents),
      u AS (
        SELECT doc_id, tl, unnest(range(0, len(tl))) AS i FROM tok),
      gaz(surface, entity_id) AS (VALUES
        ('hash join', 'Q_HASHJOIN'), ('merge join', 'Q_MERGEJOIN')),
      m AS (
        SELECT u.doc_id, CAST(u.i AS INT) AS pos, z.entity_id, u.tl
        FROM u JOIN gaz z
        ON u.i + 2 <= len(u.tl)
           AND u.tl[u.i + 1] || ' ' || u.tl[u.i + 2] = z.surface)
      SELECT doc_id, pos, entity_id,
             array_to_string(
               tl[greatest(0, pos - 3) + 1 :
                  least(len(tl), pos + 2 + 3)], ' ') AS context
      FROM m ORDER BY doc_id, pos
    """
    # full gazetteer mention set (containment applied), windowed
    # self-join, pair counts >= 2, integer marginals joined back
    d["entity_graph"] = r"""
      WITH tok AS (
        SELECT doc_id,
          CASE WHEN len(trim(lower(text))) = 0
               THEN CAST([] AS VARCHAR[])
               ELSE string_split_regex(trim(lower(text)), '\s+')
          END AS tl
        FROM documents),
      u AS (
        SELECT doc_id, tl, unnest(range(0, len(tl))) AS i FROM tok),
      grams AS (
        SELECT doc_id, CAST(i AS INT) AS pos, tl[i + 1] AS surface
        FROM u
        UNION ALL
        SELECT doc_id, CAST(i AS INT),
               tl[i + 1] || ' ' || tl[i + 2]
        FROM u WHERE i + 2 <= len(tl)),
      gaz(surface, entity_id, n_words) AS (VALUES
        ('hash join', 'Q_HASHJOIN', 2),
        ('merge join', 'Q_MERGEJOIN', 2),
        ('join', 'Q_JOIN', 1), ('data', 'Q_DATA', 1),
        ('window', 'Q_WINDOW', 1), ('scan', 'Q_SCAN', 1)),
      m0 AS (
        SELECT g.doc_id, g.pos, z.n_words, z.entity_id
        FROM grams g JOIN gaz z USING (surface)),
      m AS (
        SELECT * FROM m0 a
        WHERE NOT EXISTS (
          SELECT 1 FROM m0 b
          WHERE b.doc_id = a.doc_id AND b.pos <= a.pos
            AND b.pos + b.n_words >= a.pos + a.n_words
            AND (b.pos <> a.pos OR b.n_words <> a.n_words))),
      pairs AS (
        SELECT a.entity_id AS entity_a, b.entity_id AS entity_b,
               CAST(count(*) AS BIGINT) AS n_cooc
        FROM m a JOIN m b
        ON a.doc_id = b.doc_id AND a.entity_id < b.entity_id
           AND abs(a.pos - b.pos) <= 20
        GROUP BY 1, 2 HAVING count(*) >= 2),
      marg AS (SELECT entity_id, CAST(count(*) AS BIGINT) AS n
               FROM m GROUP BY entity_id)
      SELECT p.entity_a, p.entity_b, p.n_cooc,
             ma.n AS n_a, mb.n AS n_b
      FROM pairs p
      JOIN marg ma ON ma.entity_id = p.entity_a
      JOIN marg mb ON mb.entity_id = p.entity_b
      ORDER BY entity_a, entity_b
    """
    # same literal weights/thresholds; both snapshots rebuilt
    # closed-form; no NULL fields at the driver scale (NULL path is
    # pytest-covered)
    d["record_linkage"] = """
      WITH l AS (
        SELECT doc_id AS lid, doc_id % 20 AS blk,
               't' || (doc_id % 40) AS lt,
               2000 + doc_id % 25 AS ly
        FROM documents),
      r AS (
        SELECT doc_id + 1000 AS rid, doc_id % 20 AS blk,
               't' || (doc_id % 40) ||
                 CASE WHEN doc_id % 7 = 0 THEN 'x' ELSE '' END AS rt,
               2000 + doc_id % 25 +
                 CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS ry
        FROM documents),
      j AS (
        SELECT lid, rid, lt = rt AS agree_title, ly = ry AS agree_year,
               CAST((CASE WHEN lt = rt THEN 4000 ELSE -2000 END)
                  + (CASE WHEN ly = ry THEN 1000 ELSE -1500 END)
                 AS BIGINT) AS score_milli
        FROM l JOIN r USING (blk))
      SELECT lid AS l_doc_id, rid AS r_doc_id, agree_title,
             agree_year, score_milli,
             CASE WHEN score_milli >= 4000 THEN 'match'
                  ELSE 'possible' END AS decision
      FROM j WHERE score_milli >= 2000
      ORDER BY l_doc_id, r_doc_id
    """
    # per-sentence marker argmax (shared lang_case over sentence
    # tokens), majority via count-desc/lang-asc window, lag switches
    d["code_switch"] = f"""
      WITH aug AS (
        SELECT doc_id, text ||
          CASE WHEN doc_id % 4 = 0
               THEN '. el que los las por.' ELSE '' END ||
          CASE WHEN doc_id % 6 = 0
               THEN '. der und ist nicht mit.' ELSE '' END AS t
        FROM documents),
      sl AS (
        SELECT doc_id,
          list_filter(list_transform(
            regexp_extract_all(t, '[^.!?]+[.!?]*'), s -> trim(s)),
            s -> len(s) > 0) AS ss
        FROM aug),
      sent AS (
        SELECT doc_id, p.idx AS sent_idx, p.s AS s
        FROM (SELECT doc_id,
                unnest(list_transform(range(1, len(ss) + 1),
                  i -> {{'idx': CAST(i - 1 AS INT), 's': ss[i]}})) AS p
              FROM sl)),
      c AS (
        SELECT doc_id, sent_idx,
          len(list_filter(string_split_regex(trim(s), '\\s+'),
              t -> list_contains({markers['en']}, t))) AS c_en,
          len(list_filter(string_split_regex(trim(s), '\\s+'),
              t -> list_contains({markers['es']}, t))) AS c_es,
          len(list_filter(string_split_regex(trim(s), '\\s+'),
              t -> list_contains({markers['de']}, t))) AS c_de,
          len(list_filter(string_split_regex(trim(s), '\\s+'),
              t -> list_contains({markers['fr']}, t))) AS c_fr
        FROM sent),
      lc AS (SELECT doc_id, sent_idx, {lang_case} AS lang FROM c),
      tot AS (
        SELECT doc_id, CAST(count(*) AS BIGINT) AS n_sents,
               CAST(sum(CASE WHEN lang <> 'und' THEN 1 ELSE 0 END)
                 AS BIGINT) AS n_classified
        FROM lc GROUP BY doc_id),
      cl AS (SELECT * FROM lc WHERE lang <> 'und'),
      mj AS (
        SELECT doc_id, lang AS majority_lang FROM (
          SELECT doc_id, lang,
                 row_number() OVER (PARTITION BY doc_id
                   ORDER BY count(*) DESC, lang) AS rn
          FROM cl GROUP BY doc_id, lang) WHERE rn = 1),
      sw AS (
        SELECT doc_id,
               CAST(sum(CASE WHEN prev IS NOT NULL AND prev <> lang
                        THEN 1 ELSE 0 END) AS BIGINT) AS n_switches
        FROM (SELECT doc_id, lang,
                     lag(lang) OVER (PARTITION BY doc_id
                                     ORDER BY sent_idx) AS prev
              FROM cl) GROUP BY doc_id)
      SELECT t.doc_id, t.n_sents, t.n_classified,
             coalesce(mj.majority_lang, 'und') AS majority_lang,
             coalesce(sw.n_switches, 0) AS n_switches
      FROM tot t
      LEFT JOIN mj USING (doc_id) LEFT JOIN sw USING (doc_id)
      ORDER BY t.doc_id
    """
    # same substring counting + (n desc, piece, is_cont) total order
    d["subword_vocab"] = r"""
      WITH tok AS (
        SELECT CASE WHEN len(trim(lower(text))) = 0
                    THEN CAST([] AS VARCHAR[])
                    ELSE string_split_regex(trim(lower(text)), '\s+')
               END AS tl
        FROM documents),
      wf AS (
        SELECT t AS word, CAST(count(*) AS BIGINT) AS wc
        FROM (SELECT unnest(tl) AS t FROM tok) GROUP BY t),
      pos AS (
        SELECT word, wc, unnest(range(0, len(word))) AS i FROM wf),
      sub AS (
        SELECT piece, is_cont, sum(wc) AS n_occ FROM (
          SELECT substr(word, i + 1, l.j) AS piece,
                 i > 0 AS is_cont, wc
          FROM pos, (VALUES (1), (2), (3), (4)) l(j)
          WHERE i + l.j <= len(word))
        GROUP BY 1, 2),
      multi AS (
        SELECT piece, is_cont, n_occ FROM (
          SELECT *, row_number() OVER (
            ORDER BY n_occ DESC, piece, is_cont) AS rn
          FROM sub WHERE len(piece) >= 2) WHERE rn <= 150),
      v AS (
        SELECT piece, is_cont, n_occ FROM sub WHERE len(piece) = 1
        UNION ALL SELECT piece, is_cont, n_occ FROM multi)
      SELECT CAST(row_number() OVER (
               ORDER BY n_occ DESC, piece, is_cont) AS INT) AS rank,
             piece, is_cont, CAST(n_occ AS BIGINT) AS n_occ
      FROM v ORDER BY rank
    """
    # vocab rebuilt from EVEN docs, longest-match steps table over the
    # augmented corpus (odd docs carry the out-of-vocab ' çapka'),
    # recursive greedy walk
    d["subword_segment"] = r"""
      WITH RECURSIVE aug AS (
        SELECT doc_id, text ||
          CASE WHEN doc_id % 2 = 1 THEN ' çapka' ELSE '' END AS text
        FROM documents),
      tok AS (
        SELECT doc_id,
               CASE WHEN len(trim(lower(text))) = 0
                    THEN CAST([] AS VARCHAR[])
                    ELSE string_split_regex(trim(lower(text)), '\s+')
               END AS tl
        FROM aug),
      wtok AS (SELECT doc_id, unnest(tl) AS word FROM tok),
      wfv AS (SELECT word, CAST(count(*) AS BIGINT) AS wc
              FROM wtok WHERE doc_id % 2 = 0 GROUP BY word),
      posv AS (
        SELECT word, wc, unnest(range(0, len(word))) AS i FROM wfv),
      sub AS (
        SELECT piece, is_cont, sum(wc) AS n_occ FROM (
          SELECT substr(word, i + 1, l.j) AS piece,
                 i > 0 AS is_cont, wc
          FROM posv, (VALUES (1), (2), (3), (4)) l(j)
          WHERE i + l.j <= len(word))
        GROUP BY 1, 2),
      vocab AS (
        SELECT piece, is_cont FROM sub WHERE len(piece) = 1
        UNION ALL
        SELECT piece, is_cont FROM (
          SELECT *, row_number() OVER (
            ORDER BY n_occ DESC, piece, is_cont) AS rn
          FROM sub WHERE len(piece) >= 2) WHERE rn <= 150),
      dw AS (SELECT DISTINCT word FROM wtok),
      dwpos AS (
        SELECT word, unnest(range(0, len(word))) AS pos FROM dw),
      m AS (
        SELECT p.word, p.pos, max(len(v.piece)) AS l
        FROM dwpos p JOIN vocab v
        ON v.is_cont = (p.pos > 0)
           AND v.piece = substr(p.word, p.pos + 1, len(v.piece))
        GROUP BY 1, 2),
      steps AS (
        SELECT p.word, p.pos, coalesce(m.l, 1) AS jump,
               m.l IS NOT NULL AS matched
        FROM dwpos p LEFT JOIN m USING (word, pos)),
      walk(word, pos, np, nu) AS (
        SELECT word, 0, 0, 0 FROM dw
        UNION ALL
        SELECT w.word, w.pos + s.jump, w.np + 1,
               w.nu + CASE WHEN s.matched THEN 0 ELSE 1 END
        FROM walk w JOIN steps s
        ON s.word = w.word AND s.pos = w.pos
        WHERE w.pos < len(w.word)),
      done AS (
        SELECT word, np, nu FROM walk WHERE pos = len(word))
      SELECT t.doc_id, CAST(count(*) AS BIGINT) AS n_words,
             CAST(sum(d.np) AS BIGINT) AS n_pieces,
             CAST(sum(d.nu) AS BIGINT) AS n_unk
      FROM wtok t JOIN done d USING (word)
      GROUP BY t.doc_id ORDER BY t.doc_id
    """
    # parsed fields + quarantined raw lines rebuilt closed-form
    d["jsonl_ingest"] = f"""
      WITH tok AS (
        SELECT doc_id,
          CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
               ELSE {toks} END AS tl
        FROM documents),
      b AS (
        SELECT doc_id,
          coalesce(CASE WHEN len(tl) >= 1
                   THEN regexp_replace(tl[1], '[^A-Za-z0-9]', '', 'g')
                   END, '') AS s0
        FROM tok)
      SELECT doc_id,
        CASE WHEN doc_id % 17 = 0 THEN NULL ELSE s0 END AS title,
        CASE WHEN doc_id % 17 = 0 THEN NULL
             ELSE doc_id % 100 END AS views,
        doc_id % 17 = 0 AS corrupt,
        CASE WHEN doc_id % 17 = 0 THEN
          '{{"title": "' || s0 || '", "views": ' || (doc_id % 100)
        END AS quarantine_raw
      FROM b ORDER BY doc_id
    """
    # distinct/total char k-grams recounted via range-lateral substr
    d["compressibility"] = """
      WITH base AS (SELECT doc_id, text, len(text) AS n
                    FROM documents),
      kk AS (
        SELECT doc_id, text, n, k.k AS k,
               greatest(n - (k.k - 1), 0) AS tot
        FROM base, (VALUES (4), (8), (16)) k(k)),
      ex AS (
        SELECT doc_id, k,
               substr(text, CAST(i + 1 AS INT), k) AS gr
        FROM (SELECT doc_id, text, k, tot,
                     unnest(range(0, tot)) AS i
              FROM kk)),
      agg AS (
        SELECT doc_id, k, CAST(count(DISTINCT gr) AS BIGINT)
                 AS n_distinct
        FROM ex GROUP BY 1, 2)
      SELECT kk.doc_id, CAST(kk.n AS INT) AS n_chars,
             CAST(kk.k AS INT) AS k,
             CAST(kk.tot AS BIGINT) AS n_grams,
             coalesce(agg.n_distinct, 0) AS n_distinct
      FROM kk LEFT JOIN agg USING (doc_id, k)
      ORDER BY kk.doc_id, kk.k
    """
    # closed-form plants on the verified license-phrase-free corpus
    d["license"] = """
      SELECT doc_id,
        CASE WHEN doc_id % 5 = 0 THEN 'cc-' ||
               CASE WHEN doc_id % 20 = 0 THEN 'by'
                    WHEN doc_id % 20 = 5 THEN 'by-sa'
                    WHEN doc_id % 20 = 10 THEN 'by-nc'
                    ELSE 'by-nd' END
             WHEN doc_id % 13 = 2 THEN 'public-domain'
             WHEN doc_id % 7 = 1 THEN 'mit'
             WHEN doc_id % 11 = 3 THEN 'all-rights-reserved'
             ELSE 'none' END AS license,
        CAST(CAST(doc_id % 5 = 0 AS INT)
           + CAST(doc_id % 13 = 2 AS INT)
           + CAST(doc_id % 7 = 1 AS INT)
           + CAST(doc_id % 11 = 3 AS INT) AS INT) AS n_signals
      FROM documents ORDER BY doc_id
    """
    # 12 unrolled peel rounds over the planted ring+chord graph
    d["kcore"] = _kcore_sql()
    # both planted sections rebuilt from the token list (1-based
    # inclusive DuckDB slices; short docs emit nothing)
    d["section_qa"] = f"""
      WITH tok AS (
        SELECT doc_id,
          CASE WHEN len(trim(text)) = 0 THEN CAST([] AS VARCHAR[])
               ELSE {toks} END AS tl
        FROM documents),
      ok AS (SELECT doc_id, tl FROM tok WHERE len(tl) >= 8)
      SELECT doc_id, section_idx, question, answer, answer_tokens
      FROM (
        SELECT doc_id, CAST(1 AS INT) AS section_idx,
               tl[1] || ' ' || tl[2] AS question,
               array_to_string(tl[3:8], ' ') AS answer,
               CAST(6 AS INT) AS answer_tokens
        FROM ok
        UNION ALL
        SELECT doc_id, CAST(2 AS INT), tl[3],
               array_to_string(tl[5:8], ' ') || ' ' || tl[1]
                 || ' ' || tl[2],
               CAST(6 AS INT)
        FROM ok)
      ORDER BY doc_id, section_idx
    """
    d["sentences"] = """
      WITH aug AS (
        SELECT doc_id,
          text || CASE WHEN doc_id % 2 = 0
                       THEN '. End note! Done?' ELSE '' END AS t
        FROM documents),
      sl AS (
        SELECT doc_id,
          list_filter(list_transform(
            regexp_extract_all(t, '[^.!?]+[.!?]*'), s -> trim(s)),
            s -> len(s) > 0) AS ss
        FROM aug),
      e AS (
        SELECT doc_id, unnest(list_transform(range(1, len(ss) + 1),
          i -> {'idx': CAST(i - 1 AS INT), 's': ss[i]})) AS p
        FROM sl)
      SELECT doc_id, p.idx AS sent_idx, p.s AS sentence
      FROM e ORDER BY doc_id, sent_idx
    """
    # per-domain keep-rate: quality oracle joined to the url-case
    # domain derivation
    d["wat_export"] = _wat_export_sql()
    # sitemap <loc> extraction: same regex group + trim + entity
    # decode + empty drop, ordinality via the struct-transform idiom
    # length-bucketed batching: naive single-window twin; hash-bucket
    # order (h % 64) leads the ORDER BY, same equality argument as
    # token_budget_mix
    d["length_buckets"] = f"""
      WITH tok AS (
        SELECT doc_id,
          CAST(CASE WHEN len(trim(text)) = 0 THEN 0
                    ELSE len({toks}) END AS BIGINT) AS n_tokens
        FROM documents),
      b AS (
        SELECT doc_id, n_tokens,
          CAST(CASE WHEN n_tokens <= 16 THEN 16
                    WHEN n_tokens <= 32 THEN 32
                    WHEN n_tokens <= 64 THEN 64
                    ELSE 128 END AS BIGINT) AS bucket_len,
          ('0x' || substr(md5('lb|' || doc_id::VARCHAR), 1, 15))::BIGINT
            AS h
        FROM tok),
      r AS (
        SELECT *, row_number() OVER (PARTITION BY bucket_len
                    ORDER BY h % 64, h, doc_id) - 1 AS idx
        FROM b)
      SELECT doc_id, n_tokens, bucket_len,
        CAST(idx // 8 AS BIGINT) AS batch_idx,
        CAST(idx % 8 AS INT) AS pos_in_batch,
        greatest(bucket_len - n_tokens, 0) AS pad_tokens
      FROM r ORDER BY doc_id
    """
    # canonical collapse: group rules re-derived (normalization is
    # the identity on these already-canonical spellings; the engine
    # still runs url_normalize on the key)
    d["canonical_collapse"] = """
      WITH pages AS (
        SELECT doc_id,
          'https://c.example.com/p/' || doc_id::VARCHAR AS url,
          CASE WHEN doc_id % 4 != 3 THEN
            'https://c.example.com/g/' || (doc_id - doc_id % 4)::VARCHAR
          END AS canonical
        FROM documents)
      SELECT coalesce(canonical, url) AS canonical_url,
        CAST(count(*) AS BIGINT) AS n_pages,
        min(url) AS representative
      FROM pages GROUP BY 1 ORDER BY canonical_url
    """
    # incremental extraction: the delta rules re-derived + the
    # flagship extraction identity (wrapped page -> body text) over
    # exactly the added/changed subset
    d["incremental_extract"] = """
      WITH delta AS (
        SELECT 'u' || doc_id::VARCHAR AS key, 'changed' AS status,
               coalesce(text, '') || ' updated' AS text
        FROM documents WHERE doc_id % 7 = 0 AND doc_id % 13 != 0
        UNION ALL
        SELECT 'u' || (doc_id + 1000000)::VARCHAR AS key,
               'added' AS status,
               'new page ' || doc_id::VARCHAR AS text
        FROM documents WHERE doc_id % 11 = 0)
      SELECT key, status, text FROM delta ORDER BY key
    """
    d["sitemap"] = """
      WITH m AS (
        SELECT
          'https://s.example.com/sitemap-' || doc_id::VARCHAR || '.xml'
            AS sitemap_url,
          '<?xml version="1.0"?><urlset><url><loc>https://s.example.com/p/'
          || doc_id::VARCHAR
          || '</loc></url><url><loc> https://s.example.com/q?a=1&amp;b=2 '
          || '</loc></url><url><loc></loc></url><url><loc>'
          || 'https://s.example.com/r/' || doc_id::VARCHAR
          || '/x</loc></url></urlset>' AS xml
        FROM documents),
      l AS (
        SELECT sitemap_url,
          list_filter(list_transform(
            regexp_extract_all(xml, '<loc>([^<]*)</loc>', 1),
            s -> replace(trim(s), '&amp;', '&')),
            s -> len(s) > 0) AS us
        FROM m),
      e AS (
        SELECT sitemap_url, unnest(list_transform(range(1, len(us) + 1),
          i -> {'i': CAST(i - 1 AS INT), 'u': us[i]})) AS p
        FROM l)
      SELECT sitemap_url, p.i AS seq, p.u AS url
      FROM e ORDER BY sitemap_url, seq
    """
    # feed entries: every field regenerated arithmetically from
    # (doc_id, item index); empty shells (id % 13 = 0) emit nothing
    d["feed"] = """
      WITH r AS (
        SELECT doc_id, unnest(range(0, 3)) AS i FROM documents
        WHERE doc_id % 2 = 0 AND doc_id % 13 <> 0),
      a AS (
        SELECT doc_id, unnest(range(0, 2)) AS i FROM documents
        WHERE doc_id % 2 = 1 AND doc_id % 13 <> 0)
      SELECT 'https://feeds.example.com/' || doc_id || '.xml' AS feed_url,
             'rss' AS kind, CAST(i AS INT) AS seq,
             'T' || doc_id || '-' || i AS title,
             'https://feed.example.com/d/' || doc_id || '/' || i AS link,
             'g' || doc_id || '-' || i AS entry_id,
             'Mon, 01 Jan 2024 00:'
               || lpad(CAST((doc_id + i) % 60 AS VARCHAR), 2, '0')
               || ':00 GMT' AS published
      FROM r
      UNION ALL
      SELECT 'https://feeds.example.com/' || doc_id || '.xml',
             'atom', CAST(i AS INT),
             'T' || doc_id || '-' || i,
             'https://feed.example.com/d/' || doc_id || '/' || i,
             'tag:example.com,' || doc_id || '-' || i,
             '2024-01-01T00:'
               || lpad(CAST((doc_id + i) % 60 AS VARCHAR), 2, '0') || ':00Z'
      FROM a
    """
    # recall@5: both sides' oracles reused verbatim as derived tables
    d["ivf_recall"] = f"""
      WITH e AS ({d['cosine_topk']}),
      a AS ({d['ann_topk_ivf']}),
      hit AS (
        SELECT e.query_id, count(*) AS n_hit
        FROM e JOIN a USING (query_id, neighbor_id)
        GROUP BY e.query_id),
      base AS (SELECT query_id, count(*) AS n_exact FROM e
               GROUP BY query_id)
      SELECT b.query_id, CAST(b.n_exact AS BIGINT) AS n_exact,
             CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
             round(coalesce(h.n_hit, 0) / b.n_exact, 6) AS recall
      FROM base b LEFT JOIN hit h USING (query_id)
      ORDER BY b.query_id
    """
    d["ann_recall"] = f"""
      WITH e AS ({d['cosine_topk']}),
      a AS ({d['ann_topk']}),
      hit AS (
        SELECT e.query_id, count(*) AS n_hit
        FROM e JOIN a USING (query_id, neighbor_id)
        GROUP BY e.query_id),
      base AS (SELECT query_id, count(*) AS n_exact FROM e
               GROUP BY query_id)
      SELECT b.query_id, CAST(b.n_exact AS BIGINT) AS n_exact,
             CAST(coalesce(h.n_hit, 0) AS BIGINT) AS n_hit,
             round(coalesce(h.n_hit, 0) / b.n_exact, 6) AS recall
      FROM base b LEFT JOIN hit h USING (query_id)
      ORDER BY b.query_id
    """
    # confusion matrix: the lang_id oracle reused verbatim, joined back
    # to the true labels
    d["lang_confusion"] = f"""
      WITH p AS ({d['lang_id']}),
      j AS (SELECT dd.lang AS true_lang, p.lang_pred
            FROM documents dd JOIN p USING (doc_id)),
      g AS (SELECT true_lang, lang_pred, CAST(count(*) AS BIGINT) AS n
            FROM j GROUP BY true_lang, lang_pred)
      SELECT true_lang, lang_pred, n,
             round(n / sum(n) OVER (PARTITION BY true_lang), 6)
               AS hit_rate
      FROM g ORDER BY true_lang, lang_pred
    """
    uf = _url_sql_frags()
    # path templates: same path extraction steps as web.url_path, digit
    # runs collapsed globally
    d["url_templates"] = f"""
      WITH u AS (SELECT doc_id, {uf['url_case']} AS url FROM documents),
      pp AS (
        SELECT url,
          regexp_extract(
            regexp_replace(
              regexp_replace(regexp_extract(url, '^([^#]*)', 1),
                             '^[A-Za-z][A-Za-z0-9+.-]*://', ''),
              '^[^/?#]*', ''),
            '^([^?]*)', 1) AS path0
        FROM u),
      p AS (
        SELECT {uf['domain']} AS domain,
          regexp_replace(
            CASE WHEN path0 = '' THEN '/' ELSE path0 END,
            '[0-9]+', 'N', 'g') AS path_template
        FROM pp)
      SELECT domain, path_template, CAST(count(*) AS BIGINT) AS n_pages,
             count(*) >= 3 AS mass_produced
      FROM p GROUP BY domain, path_template
      ORDER BY domain, path_template
    """
    d["domain_quality"] = f"""
      WITH u AS (
        SELECT doc_id, {uf['url_case']} AS url FROM documents),
      h AS (SELECT doc_id, {uf['domain']} AS domain FROM u),
      qf AS ({d['quality_filter']})
      SELECT h.domain,
        CAST(count(*) AS BIGINT) AS n_pages,
        round(avg(qf.keep), 6) AS keep_rate,
        round(avg(qf.n_tokens), 6) AS avg_tokens
      FROM h JOIN qf USING (doc_id)
      GROUP BY h.domain ORDER BY h.domain
    """
    return d
