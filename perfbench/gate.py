"""Correctness gate: the landed table must equal the single-process
extractor, url by url, byte for byte.

The oracle runs ``ocr_spark.extractor.core.extract_bytes`` on each url's
winning capture (latest ``warc_ts``; ties to the smallest html bytes,
then lang — the job's keep-latest rule) in a pool of plain Python
processes, timing every call; those timings are the extractor-core
layer's numbers.
"""

from __future__ import annotations

import hashlib
import os
from collections import Counter


def winners(corpus: str) -> tuple[list[tuple[str, bytes]], int, int]:
    """([(url, html)] of winning captures sorted by url, corpus rows,
    corpus html bytes)."""
    import pyarrow.parquet as pq

    t = pq.read_table(corpus, columns=["url", "warc_ts", "html", "lang"])
    rows = zip(*(t.column(c).to_pylist() for c in ("url", "warc_ts", "html", "lang")))
    best: dict[str, tuple] = {}
    n_bytes = 0
    for url, ts, html, lang in rows:
        n_bytes += len(html)
        b = best.get(url)
        if b is None or ts > b[0] or (ts == b[0] and (html, lang) < b[1:]):
            best[url] = (ts, html, lang)
    return [(u, best[u][1]) for u in sorted(best)], t.num_rows, n_bytes


def _extract_chunk(args: tuple) -> list[tuple[str, str, float, float]]:
    import time

    from ocr_spark.extractor.core import extract_bytes

    payloads, all_pages = args
    out = []
    for p in payloads:
        t0 = time.perf_counter()
        r = extract_bytes(p, all_pages=all_pages)
        out.append((r["text"], r["doc_kind"], t0, time.perf_counter()))
    return out


def oracle(docs: list[tuple[str, bytes]], all_pages: bool,
           procs: int) -> list[tuple[str, str, float, float]]:
    """[(text, doc_kind, start, end)] per doc, in ``docs`` order."""
    import multiprocessing as mp

    payloads = [h for _, h in docs]
    step = max(1, -(-len(payloads) // (procs * 4)))
    tasks = [(payloads[i:i + step], all_pages) for i in range(0, len(payloads), step)]
    with mp.get_context("spawn").Pool(max(1, min(procs, len(tasks)))) as pool:
        parts = pool.map(_extract_chunk, tasks)
    return [r for part in parts for r in part]


def digest(pairs) -> str:
    """sha256 over sorted (url, text) pairs."""
    h = hashlib.sha256()
    for url, text in sorted(pairs):
        h.update(url.encode() + b"\0" + text.encode() + b"\0")
    return h.hexdigest()


def table_files(table_dir: str) -> dict[str, list[str]]:
    """partition dir name -> its parquet files."""
    out = {}
    if os.path.isdir(table_dir):
        for d in sorted(os.listdir(table_dir)):
            if os.path.isdir(os.path.join(table_dir, d)):
                out[d] = [os.path.join(table_dir, d, f)
                          for f in sorted(os.listdir(os.path.join(table_dir, d)))
                          if f.endswith(".parquet")]
    return out


def check_job(out_root: str, stats: dict, expected: dict[str, str]) -> dict:
    """Compare one job's landed table with the oracle.  Returns failed
    doc count, distinct urls landed, the (url, text) digest and a list
    of problems (empty when everything holds)."""
    import pyarrow.parquet as pq

    problems = []
    seen: Counter = Counter()
    pairs = []
    mismatched = 0
    for part, files in table_files(os.path.join(out_root, "pages_extracted")).items():
        if len(files) != 1:
            problems.append(f"{part} holds {len(files)} parquet files, not 1")
        for f in files:
            t = pq.read_table(f, columns=["url", "text"])
            for url, text in zip(t.column("url").to_pylist(), t.column("text").to_pylist()):
                seen[url] += 1
                if seen[url] == 1:
                    pairs.append((url, text))
                    mismatched += url in expected and text != expected[url]
    missing = sum(1 for u in expected if u not in seen)
    duplicated = sum(c - 1 for c in seen.values())
    extra = sum(1 for u in seen if u not in expected)
    failed = missing + duplicated + extra + mismatched
    if failed:
        problems.append(f"{missing} missing, {duplicated} duplicated, {extra} extra, "
                        f"{mismatched} text != oracle")
    if stats["n_docs"] != len(expected):
        problems.append(f"n_docs {stats['n_docs']} != expected {len(expected)}")
    if (stats["n_ok"] or 0) + (stats["n_err"] or 0) != stats["n_docs"]:
        problems.append(f"n_ok + n_err != n_docs in {stats}")
    return {"failed": failed, "landed": len(seen), "digest": digest(pairs),
            "problems": problems}


def check_resume(fresh: dict, resumed: dict, n_buckets: int) -> list[str]:
    """A no-op re-run with the same run_id must write nothing and report
    the fresh run's totals."""
    problems = []
    if resumed["n_chunks"] != 0:
        problems.append(f"resume ran {resumed['n_chunks']} chunks, not 0")
    if resumed["resumed_buckets_skipped"] != n_buckets:
        problems.append(f"resume skipped {resumed['resumed_buckets_skipped']} "
                        f"of {n_buckets} buckets")
    for k in ("n_docs", "n_ok", "n_err", "bytes_in", "bytes_out"):
        if resumed[k] != fresh[k]:
            problems.append(f"resume {k} {resumed[k]} != fresh {fresh[k]}")
    return problems
