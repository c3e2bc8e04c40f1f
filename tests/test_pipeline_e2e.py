"""E2E distributed == oracle equality (SURVEY.md §5.2.4-5).

The Spark job's extracted text must be BYTE-identical, per url, to the
pure-Python oracle applied row-by-row — across partitioning choices —
and the per-bucket commit records must make reruns idempotent.
"""

import datetime
import hashlib
import os

import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from ocr_spark.data.synth import gen_pages
from ocr_spark.extractor.core import extract_bytes
from ocr_spark.plans import pipeline
from ocr_spark.plans.pipeline import JobConfig, prepare_pages, run_extraction_job
from ocr_spark.sources.catalog import Catalog, Table


def oracle_expected(rows):
    """Keep-latest per url, then oracle extraction — the spec.  Ties on
    warc_ts break on the raw html bytes (lexicographically smallest
    wins), the engine's documented reproducible tie-break."""
    latest = {}
    for r in rows:
        cur = latest.get(r["url"])
        if (cur is None or r["warc_ts"] > cur["warc_ts"]
                or (r["warc_ts"] == cur["warc_ts"] and r["html"] < cur["html"])):
            latest[r["url"]] = r
    return {
        url: extract_bytes(r["html"])["text"] for url, r in latest.items()
    }


# pages schema inference (1), skew probe (2: aggregate, result), write
# (3: html exchange, extract + text exchange, parquet write).  Lineage and
# run totals are read back on the driver with pyarrow: a Spark job after
# the write shows up here
FRESH_RUN_JOBS = 6


@pytest.fixture(scope="module")
def expected():
    return oracle_expected(gen_pages(400, seed=42))


def _rows_digest(rows):
    h = hashlib.sha256()
    for r in rows:
        for v in (r["url"].encode(), str(r["warc_ts"]).encode(), r["html"],
                  r["lang"].encode()):
            h.update(len(v).to_bytes(8, "little") + v)
    return h.hexdigest()


def test_synth_stream_is_pinned(pages_parquet):
    """The oracle above derives from gen_pages itself, so a change to the
    generated stream would pass unnoticed: pin it, and the parquet
    corpus the fixtures write, to fixed digests."""
    assert _rows_digest(gen_pages(600, seed=321)) == (
        "0224d87d228324edb8f9e207d654c79c1e233c8ec20498dd6d2021c9bf036086")
    assert _rows_digest(pq.read_table(pages_parquet).to_pylist()) == (
        "7dc9ec23997b820deda508df3ddd64910bfec0ccdabd09b734981ce1c083b80e")


def _run(spark, pages_parquet, tmp_path, name, **cfg_kw):
    out = str(tmp_path / name)
    stats = run_extraction_job(
        spark, pages_parquet, out, JobConfig(run_id=name, **cfg_kw)
    )
    return out, stats


def _texts(spark, out):
    return {
        r.url: r.text
        for r in spark.read.parquet(out + "/pages_extracted")
        .select("url", "text").collect()
    }


def test_e2e_byte_equality_vs_oracle(spark, pages_parquet, tmp_path, expected):
    out, stats = _run(spark, pages_parquet, tmp_path, "e2e", n_buckets=16)
    got = _texts(spark, out)
    assert set(got) == set(expected)
    mismatches = [
        u for u in expected
        if got[u].encode("utf-8") != expected[u].encode("utf-8")
    ]
    assert mismatches == []
    assert stats["n_docs"] == len(expected)
    assert stats["n_ok"] > 0 and stats["n_err"] > 0  # corpus has error genres


def test_fresh_single_chunk_run_job_count(spark, pages_parquet, tmp_path):
    """Pin the Spark jobs of a fresh single-chunk run.  Reading the
    (absent) commit records and salting by the hot-host set launch none:
    the lineage table is read with pyarrow on the driver and the hot set
    is a literal.  A row-less Python job (``createDataFrame`` of driver-held
    rows costs a Python task per core) would show up here as extra jobs."""
    sc = spark.sparkContext
    sc.setJobGroup("job_count", "fresh single-chunk run")
    try:
        _run(spark, pages_parquet, tmp_path, "job_count", n_buckets=16)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert len(sc.statusTracker().getJobIdsForGroup("job_count")) == FRESH_RUN_JOBS


def test_fresh_manifest_reads_launch_no_python(spark, tmp_path):
    cat = Catalog(spark, str(tmp_path / "fresh"))
    assert cat.committed_bucket_ids("r") == []
    done = cat.committed_buckets("r")
    assert done.columns == ["bucket"] and done.count() == 0
    # createDataFrame([]) would scan a Python RDD (ExistingRDD)
    assert "ExistingRDD" not in done._jdf.queryExecution().executedPlan().toString()


def test_partitioning_invariance(spark, pages_parquet, tmp_path, expected, monkeypatch):
    """Same corpus, different bucket/salt/parallelism -> identical bytes
    (order-insensitive determinism, SURVEY.md §7.3.1)."""
    def digest(out):
        texts = _texts(spark, out)
        h = hashlib.sha256()
        for u in sorted(texts):
            h.update(u.encode())
            h.update(b"\x00")
            h.update(texts[u].encode("utf-8"))
            h.update(b"\x01")
        return h.hexdigest()

    def run(name, n_buckets, partitions, base_salts, hot_salts):
        monkeypatch.setattr(pipeline, "BASE_SALTS", base_salts)
        monkeypatch.setattr(pipeline, "HOT_SALTS", hot_salts)
        spark.conf.set("spark.sql.shuffle.partitions", str(partitions))
        return _run(spark, pages_parquet, tmp_path, name, n_buckets=n_buckets)[0]

    old = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        out_a = run("pa", n_buckets=4, partitions=3, base_salts=1, hot_salts=32)
        out_b = run("pb", n_buckets=32, partitions=16, base_salts=8, hot_salts=64)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    assert digest(out_a) == digest(out_b)


def _article(word):
    """A page whose text is one distinct word plus ~40 shared ones: a
    short ``<p>`` extracts to "" and would make every capture look alike."""
    body = " ".join([word] + ["the quick brown fox jumps over the lazy dog"] * 5)
    return f"<html><body><article><p>{body}</p></article></body></html>".encode()


def test_keep_latest_null_ts_and_tie_contract(spark, tmp_path):
    """A url whose captures ALL have NULL warc_ts keeps exactly one row,
    the smallest html.  A NULL capture never beats a dated one, even
    with smaller html.  An exact (url, warc_ts) tie keeps the smallest
    html."""
    ts = datetime.datetime
    rows = [
        ("http://a.example/u1", None, _article("bravo"), "en"),
        ("http://a.example/u1", None, _article("alpha"), "en"),
        ("http://a.example/u2", ts(2024, 1, 1), _article("oscar"), "en"),
        ("http://a.example/u2", None, _article("november"), "en"),
        ("http://a.example/u3", ts(2024, 1, 2), _article("xray"), "en"),
        ("http://a.example/u3", ts(2024, 1, 2), _article("whiskey"), "en"),
    ]
    texts = {html: extract_bytes(html)["text"] for _, _, html, _ in rows}
    assert len(set(texts.values())) == len(rows) and "" not in texts.values()
    pages = spark.createDataFrame(
        rows, "url string, warc_ts timestamp, html binary, lang string")
    out = str(tmp_path / "nullts")
    stats = run_extraction_job(spark, pages, out, JobConfig(run_id="nullts", n_buckets=4))
    got = spark.read.parquet(out + "/pages_extracted").select("url", "text").collect()
    assert stats["n_docs"] == len(got) == 3
    assert dict(map(tuple, got)) == {
        "http://a.example/u1": texts[_article("alpha")],
        "http://a.example/u2": texts[_article("oscar")],
        "http://a.example/u3": texts[_article("whiskey")],
    }


def test_status_taxonomy_counts(spark, pages_parquet, tmp_path):
    out, _ = _run(spark, pages_parquet, tmp_path, "tax", n_buckets=8)
    df = spark.read.parquet(out + "/pages_extracted")
    by_status = {r.status: r.cnt for r in
                 df.groupBy("status").agg(F.count("*").alias("cnt")).collect()}
    assert set(by_status) <= {"ok", "validation_error", "processing_error"}
    assert by_status["ok"] > 0
    assert by_status.get("validation_error", 0) > 0   # unsupported genre
    assert by_status.get("processing_error", 0) > 0   # empty-pdf genre
    # error rows carry messages; ok rows don't
    assert df.filter((F.col("status") != "ok")
                     & F.col("error_msg").isNull()).count() == 0


def test_spans_align_with_source(spark, pages_parquet, tmp_path):
    out, _ = _run(spark, pages_parquet, tmp_path, "spans", n_buckets=8)
    ext = spark.read.parquet(out + "/pages_extracted")
    src = spark.read.parquet(pages_parquet)
    # restrict to single-capture urls: ties on (url, warc_ts) would pair
    # the winner's spans with the loser's html
    singles = src.groupBy("url").count().filter("count = 1").select("url")
    joined = (
        ext.filter((F.col("doc_kind") == "html") & (F.col("n_blocks") > 0))
        .join(singles, "url")
        .join(src.select("url", "warc_ts", "html"), ["url", "warc_ts"])
        .select("url", "spans", "html")
        .limit(40)
        .collect()
    )
    assert len(joined) > 10
    for row in joined:
        for sp in row.spans:
            assert 0 <= sp.start <= sp.end <= len(row.html)


def test_resume_skips_committed_and_is_idempotent(spark, pages_parquet, tmp_path):
    out = str(tmp_path / "resume")
    cfg = JobConfig(run_id="resume", n_buckets=8, chunk_buckets=3)
    stats1 = run_extraction_job(spark, pages_parquet, out, cfg)
    assert stats1["n_chunks"] == 3  # ceil(8/3)
    texts1 = _texts(spark, out)

    # full rerun: all buckets committed -> nothing re-extracted
    stats2 = run_extraction_job(spark, pages_parquet, out, cfg)
    assert stats2["resumed_buckets_skipped"] == 8
    assert stats2["n_chunks"] == 0
    assert _texts(spark, out) == texts1

    # no duplicate rows per (url)
    df = spark.read.parquet(out + "/pages_extracted")
    assert df.count() == df.select("url").distinct().count()


_COUNTERS = ("n_docs", "n_ok", "n_err", "bytes_in", "bytes_out")


@pytest.fixture(scope="module")
def clean_chunked(spark, pages_parquet, tmp_path_factory):
    out = str(tmp_path_factory.mktemp("clean") / "out")
    stats = run_extraction_job(spark, pages_parquet, out, JobConfig(
        run_id="crash", n_buckets=8, chunk_buckets=3))
    return stats, _texts(spark, out)


def _fail_after_second_call(monkeypatch, cls, name):
    """Make ``cls.name`` raise on its second call, after the real call
    did its work."""
    real = getattr(cls, name)
    calls = []

    def wrapped(*args, **kwargs):
        calls.append(1)
        out = real(*args, **kwargs)
        if len(calls) == 2:
            raise RuntimeError(f"injected crash after {name}")
        return out

    monkeypatch.setattr(cls, name, wrapped)


def _tear_second_parquet_write(monkeypatch):
    """Make the second driver-side parquet write land only the first half
    of its bytes where it writes, then raise: a crash mid-write."""
    import io

    import pyarrow.parquet as pq

    real = pq.write_table
    calls = []

    def torn(table, where, *args, **kwargs):
        calls.append(1)
        if len(calls) != 2:
            return real(table, where, *args, **kwargs)
        buf = io.BytesIO()
        real(table, buf, *args, **kwargs)
        with open(where, "wb") as f:
            f.write(buf.getvalue()[:len(buf.getvalue()) // 2])
        raise RuntimeError("injected crash mid parquet write")

    monkeypatch.setattr(pq, "write_table", torn)


# chunks (of 3 buckets each) committed before the crash in the second
_CHUNKS_COMMITTED = {"after_write": 1, "torn_commit": 1, "after_commit": 2}


@pytest.mark.parametrize("boundary", list(_CHUNKS_COMMITTED))
def test_resume_after_crash_at_chunk_boundary(spark, pages_parquet, tmp_path,
                                              monkeypatch, clean_chunked, boundary):
    """Crash in the second of three chunks, then resume with the same
    run_id.  ``after_write`` fails after the chunk's data write, before
    its commit; ``torn_commit`` leaves a truncated commit file behind and
    fails; ``after_commit`` fails just after the commit landed.  Either
    way the resumed run re-extracts exactly the uncommitted buckets, and
    the totals count exactly what landed."""
    clean_stats, clean_texts = clean_chunked
    committed = list(range(3 * _CHUNKS_COMMITTED[boundary]))
    out = str(tmp_path / "crash")
    cfg = JobConfig(run_id="crash", n_buckets=8, chunk_buckets=3)
    if boundary == "after_write":
        _fail_after_second_call(monkeypatch, Table, "overwrite_partitions")
    elif boundary == "torn_commit":
        _tear_second_parquet_write(monkeypatch)
    else:
        _fail_after_second_call(monkeypatch, Table, "append_rows")
    with pytest.raises(RuntimeError, match="injected crash"):
        run_extraction_job(spark, pages_parquet, out, cfg)
    monkeypatch.undo()
    assert Catalog(spark, out).committed_bucket_ids("crash") == committed
    # a commit that raised removed its hidden temp file
    assert [f for f in os.listdir(out + "/lineage") if f.endswith(".tmp")] == []

    stats = run_extraction_job(spark, pages_parquet, out, cfg)
    assert stats["resumed_buckets_skipped"] == len(committed)
    assert stats["n_chunks"] == 3 - _CHUNKS_COMMITTED[boundary]
    landed = spark.read.parquet(out + "/pages_extracted").count()
    assert stats["n_docs"] == landed == clean_stats["n_docs"]
    assert stats["n_ok"] + stats["n_err"] == stats["n_docs"]
    assert {k: stats[k] for k in _COUNTERS} == {k: clean_stats[k] for k in _COUNTERS}
    assert _texts(spark, out) == clean_texts
    keys = spark.read.parquet(out + "/lineage").select("run_id", "bucket").collect()
    assert sorted(map(tuple, keys)) == [("crash", b) for b in range(8)]


def test_lineage_matches_spark_groupby(spark, pages_parquet, tmp_path):
    """The driver-side lineage rows equal a Spark ``groupBy("bucket")``
    over the landed table, on a multi-chunk run where half the buckets
    receive no rows: those commit a row of zeros, so a rerun skips them
    like the others."""
    out = str(tmp_path / "lin")
    sub = (prepare_pages(spark.read.parquet(pages_parquet), 8)
           .filter(F.col("bucket") < 4).drop("bucket", "host"))
    cfg = JobConfig(run_id="lin", n_buckets=8, chunk_buckets=3)
    stats = run_extraction_job(spark, sub, out, cfg)
    assert stats["n_chunks"] == 3
    landed = spark.read.parquet(out + "/pages_extracted")
    oracle = {tuple(r) for r in landed.groupBy("bucket").agg(
        F.count("*"),
        F.sum(F.when(F.col("status") == "ok", 1).otherwise(0)),
        F.sum(F.when(F.col("status") != "ok", 1).otherwise(0)),
        F.sum("bytes_in"), F.sum("bytes_out")).collect()}
    lineage = [tuple(r) for r in spark.read.parquet(out + "/lineage")
               .filter(F.col("run_id") == "lin")
               .select("bucket", *_COUNTERS).collect()]
    assert sorted(r[0] for r in lineage) == list(range(8))
    assert {r for r in lineage if r[1]} == oracle
    assert {r[0] for r in oracle} == {0, 1, 2, 3}
    assert {r for r in lineage if not r[1]} == {(b, 0, 0, 0, 0, 0) for b in range(4, 8)}
    assert sum(r[3] for r in lineage) > 0  # the corpus has error genres
    assert stats["n_docs"] == sum(r[1] for r in lineage) == landed.count()

    again = run_extraction_job(spark, sub, out, cfg)
    assert again["resumed_buckets_skipped"] == 8 and again["n_chunks"] == 0
    assert {k: again[k] for k in _COUNTERS} == {k: stats[k] for k in _COUNTERS}
