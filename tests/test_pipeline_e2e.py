"""E2E distributed == oracle equality (SURVEY.md §5.2.4-5).

The Spark job's extracted text must be BYTE-identical, per url, to the
pure-Python oracle applied row-by-row — across partitioning choices —
and the checkpoint manifest must make reruns idempotent.
"""

import hashlib

import pytest
from pyspark.sql import functions as F

from ocr_spark.data.synth import gen_pages
from ocr_spark.extractor.core import extract_bytes
from ocr_spark.plans.pipeline import JobConfig, run_extraction_job
from ocr_spark.sources.catalog import Catalog


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
# (3: html exchange, extract + text exchange, parquet write), lineage
# read-back (3: schema inference, aggregate, result)
FRESH_RUN_JOBS = 9


@pytest.fixture(scope="module")
def expected():
    return oracle_expected(gen_pages(400, seed=42))


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
    (absent) manifest and salting by the hot-host set launch none: the
    manifest is read with pyarrow on the driver and the hot set is a
    literal.  A row-less Python job (``createDataFrame`` of driver-held
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


def test_partitioning_invariance(spark, pages_parquet, tmp_path, expected):
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

    out_a, _ = _run(spark, pages_parquet, tmp_path, "pa",
                    n_buckets=4, parallelism=3, base_salts=1)
    out_b, _ = _run(spark, pages_parquet, tmp_path, "pb",
                    n_buckets=32, parallelism=16, base_salts=8, hot_salts=64)
    assert digest(out_a) == digest(out_b)


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


def test_resume_after_partial_run(spark, pages_parquet, tmp_path):
    """Simulate a kill after k buckets: pre-seed the manifest with a
    partial commit, run, and require the union to be complete + correct."""
    out_full = str(tmp_path / "full")
    run_extraction_job(spark, pages_parquet, out_full,
                       JobConfig(run_id="full", n_buckets=8))
    full_texts = _texts(spark, out_full)

    out = str(tmp_path / "partial")
    # first: run only a subset by chunking, interrupting after chunk 1 —
    # emulate by running with chunk_buckets=4 and a wrapped exception
    cat = Catalog(spark, out)
    cfg = JobConfig(run_id="partial", n_buckets=8, chunk_buckets=4)
    # run chunk 1 manually: commit buckets 0-3 via a restricted config
    import pyspark.sql.functions as F2
    pages = spark.read.parquet(pages_parquet)
    from ocr_spark.plans.pipeline import prepare_pages
    sub = prepare_pages(pages, 8).filter(F2.col("bucket") < 4).drop("bucket", "host")
    run_extraction_job(spark, sub, out, JobConfig(run_id="partial", n_buckets=8))
    committed = sorted(r.bucket for r in cat.committed_buckets("partial").collect())
    assert committed  # some buckets landed; 4-7 are empty but may commit
    # wipe manifest rows for buckets >= 4 to simulate the kill
    import shutil, os
    m = cat.manifest().read().filter("bucket < 4")
    rows = [(r.run_id, r.bucket, r.committed_at) for r in m.collect()]
    shutil.rmtree(os.path.join(out, "manifest"))
    if rows:
        cat.manifest().append(spark.createDataFrame(
            rows, "run_id string, bucket int, committed_at timestamp"))

    # resume with the full input: only buckets 4-7 re-extract
    stats = run_extraction_job(spark, pages_parquet, out,
                               JobConfig(run_id="partial", n_buckets=8))
    assert stats["resumed_buckets_skipped"] == 4
    assert _texts(spark, out) == full_texts
