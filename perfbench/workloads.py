"""Seeded corpus generator for the extraction-job benchmark.

Self-contained on purpose: it does not import ``ocr_spark``, so edits to
the program's own synthesizer cannot shift what the benchmark measures.
Every byte derives from ``random.Random`` seeded by (workload, seed,
chunk), so the same arguments always give the same corpus.  Bump
``GEN_VERSION`` whenever the output of any generator changes; it is
part of the cache key.

A corpus is a parquet directory of ``pages(url, warc_ts, html, text,
lang)`` part files, one per chunk of ``CHUNK_ROWS`` rows.
"""

from __future__ import annotations

import os
import random
import shutil
import zlib

GEN_VERSION = 1
CHUNK_ROWS = 1000
EPOCH_US = 1_735_689_600 * 1_000_000  # 2025-01-01T00:00:00Z
YEAR_US = 365 * 86_400 * 1_000_000
DAY_US = 86_400 * 1_000_000

_SYLLABLES = ("ka", "lo", "mi", "ten", "ra", "vu", "sel", "or", "bin",
              "da", "ep", "zu", "ner", "ik", "pa", "tor", "que", "al")
WORDS = tuple(sorted({a + b + c for a in _SYLLABLES[:9]
                      for b in _SYLLABLES[9:] for c in ("", "s", "a")}))
KO_WORDS = ("사업자", "등록", "상호", "대표", "기사", "본문", "내용", "문서",
            "추출", "페이지", "텍스트", "링크", "블록", "분류", "날씨", "뉴스")
HOT_HOST = "hot.example.org"


def _words(rng: random.Random, n: int, vocab=WORDS) -> str:
    return " ".join(rng.choice(vocab) for _ in range(n))


def _links(rng: random.Random, n: int, words: int = 2) -> str:
    return "".join(f'<li><a href="/{rng.choice(WORDS)}/{rng.randrange(10**6)}">'
                   f"{_words(rng, words)}</a></li>" for _ in range(n))


# boilerplate units a real page wraps around its article
_BOILER = (
    lambda r: f"<nav><ul>{_links(r, 12)}</ul></nav>",
    lambda r: f'<aside class="rail"><h3>{_words(r, 2)}</h3><ul>{_links(r, 8, 4)}</ul></aside>',
    lambda r: f'<div class="promo">{_links(r, 6, 3)}</div>',
    lambda r: (f'<script>window.cfg={{"id":{r.randrange(10**9)},'
               f'"tags":"{_words(r, 30)}"}};</script>'),
    lambda r: f'<section class="related"><ul>{_links(r, 10, 5)}</ul></section>',
    lambda r: f"<footer><ul>{_links(r, 15, 1)}</ul><p>(c) {_words(r, 4)}</p></footer>",
)


def article_html(rng: random.Random, n_paras: int, words_per: int,
                 boiler_ratio: float = 4.0, charset: str = "utf-8",
                 vocab=WORDS, bom: bool = False) -> bytes:
    """An article page whose boilerplate is ``boiler_ratio`` times its
    content, by characters."""
    title = _words(rng, 5, vocab)
    paras = "".join(f"<p>{_words(rng, max(3, words_per + rng.randint(-8, 8)), vocab)}</p>"
                    for _ in range(n_paras))
    content = f"<article><h1>{title}</h1>{paras}</article>"
    pre, post, boiler = [], [], 0
    while boiler < boiler_ratio * len(content):
        unit = rng.choice(_BOILER)(rng)
        (pre if rng.random() < 0.4 else post).append(unit)
        boiler += len(unit)
    html = (f'<!DOCTYPE html><html><head><meta charset="{charset}">'
            f"<title>{title}</title></head><body>{''.join(pre)}<main>{content}</main>"
            f"{''.join(post)}</body></html>")
    payload = html.encode({"utf-8": "utf-8", "euc-kr": "cp949",
                           "iso-8859-1": "latin-1"}[charset], "replace")
    return b"\xef\xbb\xbf" + payload if bom else payload


def _esc(s: str) -> str:
    return s.replace("\\", r"\\").replace("(", r"\(").replace(")", r"\)")


def pdf_from_streams(streams: list[bytes], compress: bool) -> bytes:
    """Assemble a PDF (page tree + one content stream per page) with a
    direct ``/Length`` per stream, optionally FlateDecode-compressed."""
    objs: list[bytes] = []
    n = len(streams)
    pages_id = 2 * n + 1
    kids = []
    for s in streams:
        data = zlib.compress(s) if compress else s
        filt = b"/Filter /FlateDecode " if compress else b""
        objs.append(b"<< " + filt + b"/Length %d >>\nstream\n" % len(data)
                    + data + b"\nendstream")
        objs.append(b"<< /Type /Page /Parent %d 0 R /MediaBox [0 0 612 792] "
                    b"/Contents %d 0 R >>" % (pages_id, len(objs)))
        kids.append(b"%d 0 R" % len(objs))
    objs.append(b"<< /Type /Pages /Kids [" + b" ".join(kids) + b"] /Count %d >>" % n)
    objs.append(b"<< /Type /Catalog /Pages %d 0 R >>" % pages_id)
    out = bytearray(b"%PDF-1.4\n")
    offsets = []
    for i, body in enumerate(objs, start=1):
        offsets.append(len(out))
        out += b"%d 0 obj\n" % i + body + b"\nendobj\n"
    xref = len(out)
    out += b"xref\n0 %d\n0000000000 65535 f \n" % (len(objs) + 1)
    out += b"".join(b"%010d 00000 n \n" % o for o in offsets)
    out += (b"trailer\n<< /Size %d /Root %d 0 R >>\nstartxref\n%d\n%%%%EOF\n"
            % (len(objs) + 1, len(objs), xref))
    return bytes(out)


def two_column_page(rng: random.Random, n_lines: int) -> bytes:
    """Title band over a two-column body; columns share baselines, so only
    a segmenting reader gets column order right.  Left lines stay under
    40 characters to keep a gutter before x=340."""
    parts = ["BT", "/F1 11 Tf", "15 TL", "1 0 0 1 72 760 Tm",
             f"({_esc(_words(rng, 6))}) Tj"]
    for x in (72, 340):
        parts.append(f"1 0 0 1 {x} 700 Tm")
        for i in range(n_lines):
            line = _words(rng, rng.randint(3, 5))[:38]
            if i % 3 == 1:
                mid = len(line) // 2
                parts.append(f"[({_esc(line[:mid])}) -120 ({_esc(line[mid:])})] TJ")
            else:
                parts.append(f"({_esc(line)}) Tj")
            parts.append("T*")
    parts.append("ET")
    return "\n".join(parts).encode("latin-1")


def _small_pdf(rng: random.Random) -> bytes:
    lines = [f"1 0 0 1 72 {720 - 15 * i} Tm ({_esc(_words(rng, 6))}) Tj"
             for i in range(rng.randint(3, 12))]
    return pdf_from_streams(["\n".join(["BT", "/F1 11 Tf", *lines, "ET"]).encode()],
                            compress=rng.random() < 0.5)


def _edge_page(rng: random.Random) -> tuple[bytes, str]:
    kind = rng.choice(("cp949", "latin1", "bom", "broken", "pdf", "pdf",
                       "unsupported", "empty"))
    if kind == "cp949":
        return article_html(rng, rng.randint(2, 5), 12, charset="euc-kr",
                            vocab=KO_WORDS), "ko"
    if kind == "latin1":
        html = article_html(rng, rng.randint(2, 5), 20, charset="iso-8859-1")
        return html.replace(b"ka", b"k\xe4"), "de"
    if kind == "bom":
        return article_html(rng, rng.randint(2, 5), 20, bom=True), "en"
    if kind == "broken":
        return (f"<html><body><div><p>{_words(rng, 30)}<p>{_words(rng, 25)}"
                f"<ul><li>{_words(rng, 5)}<li><a href=x>{_words(rng, 3)}</a>"
                f"<table><tr><td>{_words(rng, 20)}</body>").encode(), "en"
    if kind == "pdf":
        return _small_pdf(rng), "en"
    if kind == "unsupported":
        return bytes(rng.randrange(1, 256) for _ in range(rng.randint(32, 256))), "en"
    return b"<html><head><title>t</title></head><body>  \n </body></html>", "en"


def _html_boilerplate_row(rng: random.Random, i: int) -> tuple[str, bytes, str]:
    if i and i % 400 == 0:
        return HOT_HOST, article_html(rng, 90, 45), "en"
    host = f"news{rng.randrange(200)}.example.com"
    if rng.random() < 0.10:
        html, lang = _edge_page(rng)
        return host, html, lang
    return (host, article_html(rng, rng.randint(3, 8), rng.randint(20, 45)),
            rng.choice(("en", "en", "en", "de", "es", "fr")))


def _pdf_layout_row(rng: random.Random, i: int) -> tuple[str, bytes, str]:
    pages = [two_column_page(rng, rng.randint(15, 35))
             for _ in range(rng.randint(2, 4))]
    return (f"docs{rng.randrange(100)}.example.net",
            pdf_from_streams(pages, compress=i % 2 == 1), "en")


def _tiny_recrawl_row(rng: random.Random, i: int) -> tuple[str, bytes, str]:
    host = HOT_HOST if rng.random() < 0.2 else f"site{rng.randrange(500)}.example.com"
    html = (f"<html><head><title>{_words(rng, 3)}</title></head><body>"
            f"<p>{_words(rng, rng.randint(18, 30))}</p>"
            f'<a href="/{rng.choice(WORDS)}">{_words(rng, 2)}</a></body></html>')
    return host, html.encode(), "en"


# workload -> (row generator, re-capture fraction, full rows, smoke rows)
WORKLOADS = {
    "html_boilerplate": (_html_boilerplate_row, 0.05, 3000, 400),
    "pdf_layout": (_pdf_layout_row, 0.0, 800, 60),
    "tiny_recrawl": (_tiny_recrawl_row, 0.30, 12000, 1500),
}


def gen_chunk(workload: str, seed: int, chunk: int, n: int) -> dict:
    """Rows ``[chunk*CHUNK_ROWS, chunk*CHUNK_ROWS + n)`` of a corpus as
    column lists.  Re-captures repeat an earlier url of the same chunk
    one or more days later, with fresh bytes."""
    row_fn, recap_frac, _, _ = WORKLOADS[workload]
    rng = random.Random(f"{workload}/{seed}/{chunk}")
    cols: dict[str, list] = {"url": [], "warc_ts": [], "html": [], "lang": []}
    latest: dict[str, int] = {}
    originals: list[tuple[str, str]] = []
    i = chunk * CHUNK_ROWS
    while len(cols["url"]) < n:
        if originals and rng.random() < recap_frac:
            url, lang = rng.choice(originals)
            _, html, _ = row_fn(rng, i)
            ts = latest[url] + DAY_US + rng.randrange(DAY_US)
        else:
            host, html, lang = row_fn(rng, i)
            url = f"https://{host}/{workload}/{i}"
            ts = EPOCH_US + rng.randrange(YEAR_US)
            originals.append((url, lang))
            i += 1
        latest[url] = ts
        for k, v in (("url", url), ("warc_ts", ts), ("html", html), ("lang", lang)):
            cols[k].append(v)
    return cols


def _write_chunk(args: tuple) -> int:
    import pyarrow as pa
    import pyarrow.parquet as pq

    path, workload, seed, chunk, n = args
    c = gen_chunk(workload, seed, chunk, n)
    pq.write_table(pa.table({
        "url": pa.array(c["url"], pa.string()),
        "warc_ts": pa.array(c["warc_ts"], pa.timestamp("us")),
        "html": pa.array(c["html"], pa.binary()),
        "text": pa.array([""] * len(c["url"]), pa.string()),
        "lang": pa.array(c["lang"], pa.string()),
    }), path, row_group_size=500)
    return len(c["url"])


def corpus(cache_dir: str, workload: str, seed: int, rows: int,
           procs: int) -> str:
    """Path of the cached corpus directory, generating it first (with at
    most ``procs`` worker processes) if absent."""
    path = os.path.join(cache_dir, f"{workload}-seed{seed}-n{rows}-gen{GEN_VERSION}")
    if os.path.isdir(path):
        return path
    tmp = f"{path}.tmp{os.getpid()}"
    shutil.rmtree(tmp, ignore_errors=True)
    os.makedirs(tmp)
    tasks = [(os.path.join(tmp, f"part-{c:05d}.parquet"), workload, seed, c,
              min(CHUNK_ROWS, rows - start))
             for c, start in enumerate(range(0, rows, CHUNK_ROWS))]
    if procs > 1 and len(tasks) > 1:
        import multiprocessing as mp

        with mp.get_context("spawn").Pool(min(procs, len(tasks))) as pool:
            pool.map(_write_chunk, tasks)
    else:
        for t in tasks:
            _write_chunk(t)
    os.rename(tmp, path)
    return path
