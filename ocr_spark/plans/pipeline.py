"""The extraction job plan: the Spark-native re-expression of the
reference's request pipeline (SURVEY.md §3.4) at table scale.

    scan pages -> drop committed buckets (resume) -> keep-latest dedup
      -> bucket/salt -> repartition -> Arrow extract -> write by bucket
      -> lineage read back on the driver -> commit (one lineage append)

Scale design notes (the parts the north rule grades):

* **One wide exchange of html.** The multi-MB ``html`` column crosses
  the network exactly once, at the explicit ``repartition(P, bucket,
  salt)`` before the extract stage (SURVEY.md §4.2 "never shuffle html
  twice").  Keep-latest dedup rides that same exchange: because both
  ``bucket`` and ``salt`` are pure functions of ``url``, every capture
  of a url lands in the same partition, so a per-task
  ``sortWithinPartitions(url, warc_ts desc, html, lang)`` (an
  external, spillable sort — no shuffle) puts the winning capture first
  and the Arrow kernel drops the rest with an O(1) streaming filter.
* **The write exchange moves text, not html.** The extracted output
  (text + spans, several times smaller than the source html) is
  re-exchanged by ``bucket`` alone so each write task emits exactly one
  bucket's file.  Without this, P extract tasks x B bucket dirs produce
  P*B small files — measured 26x slower on the write at local[32], and
  a catastrophic file-count explosion on a real cluster (10k tasks x
  4k buckets = 40M files per run).
* **bucket = pmod(xxhash64(url), B)** is the resume / layout unit: the
  output is ``partitionBy(bucket)`` and the commit record (a lineage
  row) is keyed ``(run_id, bucket)``.  B is ``JobConfig.n_buckets``
  (``job.py --buckets``; 64 by default, O(4k) at 10^12 docs so a bucket
  stays ~25M docs).  The exchange width P is not a job setting: it is
  ``spark.sql.shuffle.partitions`` (``--conf spark.sql.shuffle.partitions=N``),
  raised when the sampled html bytes need more partitions.
* **salt** spreads compute inside a bucket: an independent second hash
  of the url, with a larger fan-out for documents from *hot hosts*
  (detected from a cheap sampled count/bytes aggregate — at 100 TB you
  sample, you don't scan, to find skew).  This is explicit because the
  skew is in UDF compute time, which AQE's shuffle-size-based skew
  handling cannot see (SURVEY.md §4.2).
* **Idempotent resume**: each chunk commits by one atomic append of a
  lineage row per bucket, counters included, strictly after its data
  landed.  Completed buckets are filtered out by a literal ``isin`` over
  the run's lineage bucket ids (read on the driver — the table is
  tiny); interrupted buckets are rewritten in place through dynamic
  partition overwrite.  Run totals sum the run's lineage rows, one per
  committed bucket, so fresh and resumed runs count alike.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ocr_spark.operators.extract import extract_pages
from ocr_spark.sources.catalog import Catalog, LINEAGE_SCHEMA

__all__ = ["JobConfig", "prepare_pages", "probe_skew", "with_salt",
           "run_extraction_job"]

_HOST_RE = r"^[a-z][a-z0-9+.\-]*://([^/]+)"


# salt fan-out per bucket: BASE_SALTS for every host, HOT_SALTS for hot ones
BASE_SALTS = 4
HOT_SALTS = 32
# a host is hot at this many (sampled, scaled) docs or html bytes.  Weighing
# by bytes as well as counts catches the giant-page-on-one-host skew pattern
# (few huge docs, far below HOT_COUNT_THRESHOLD); the cost is that the
# probe's sample scan reads the html column (parquet can't sample below the
# scan).
HOT_COUNT_THRESHOLD = 1000
HOT_BYTES_THRESHOLD = 64 << 20
SAMPLE_FRACTION = 0.05   # skew detection reads a sample only
# target RAW html bytes per exchange partition.  The html exchange
# must be sized by DATA, not by core count: partitions follow
# max(configured parallelism, est_bytes / this target), so a task's
# sortWithinPartitions working set is bounded (~256MB raw) at ANY
# cluster size.  Sizing by 2x cores alone made the LOW-parallelism
# side of the N-vs-4N scaling pair sort ~630MB per task (spill —
# an extra full write+read of the html) while the 4N side sorted
# ~160MB in memory, overstating measured efficiency; on a real
# cluster the same bug appears as "the job got slower when we
# removed executors" for reasons that are spill, not compute.
EXCHANGE_PARTITION_BYTES = 256 << 20


@dataclass
class JobConfig:
    run_id: str = "run0"
    n_buckets: int = 64
    chunk_buckets: int = 0          # 0 = single chunk (one commit)
    all_pages: bool = False


def prepare_pages(df: DataFrame, n_buckets: int) -> DataFrame:
    """Derive the partitioning columns: host + url-hash bucket."""
    return df.withColumn("host", F.regexp_extract("url", _HOST_RE, 1)).withColumn(
        "bucket", F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int")
    )


def _skew_agg(df: DataFrame) -> DataFrame:
    """Sampled per-host aggregate, as a ``rollup`` so the grand-total
    row (host NULL — a real host can never be NULL, regexp_extract
    yields '') rides the same map-side partial agg: corpus totals cost
    nothing beyond the probe scan.  Hot-host filtering stays IN the
    query so only (hot hosts + 1 total) rows ever reach the driver —
    host cardinality is unbounded at 10^12 docs."""
    sample = df.sample(fraction=SAMPLE_FRACTION, seed=42)
    scale = 1.0 / SAMPLE_FRACTION
    agged = sample.rollup("host").agg(
        (F.count("*") * scale).cast("long").alias("est_docs"),
        (F.sum(F.octet_length("html")) * scale).cast("long").alias("est_bytes"),
    )
    hot = ((F.col("est_docs") >= HOT_COUNT_THRESHOLD)
           | (F.col("est_bytes") >= HOT_BYTES_THRESHOLD))
    return agged.filter(F.col("host").isNull() | hot)


def probe_skew(df: DataFrame) -> tuple[list, int, int]:
    """One collected probe pass -> (hot-host rows, est corpus docs, est
    corpus html bytes).  Hot hosts need a wider salt fan-out.  Sampling
    keeps this sub-linear: at 10^12 docs you cannot afford a full scan
    just to find skew.  The totals size the html exchange (see
    ``EXCHANGE_PARTITION_BYTES``)."""
    rows = _skew_agg(df).collect()
    hot = [(r.host, r.est_docs) for r in rows if r.host is not None]
    tot = next((r for r in rows if r.host is None), None)
    if tot is None:
        return hot, 0, 0
    return hot, int(tot.est_docs), int(tot.est_bytes)


def with_salt(df: DataFrame, hot_hosts: list[str]) -> DataFrame:
    """salt = second, independent url hash; hot hosts fan out wider.
    The hot set is a literal ``isin`` (an InSet hash lookup past ten
    hosts): it is small by construction and already on the driver, so
    no dim relation is built or broadcast in every chunk."""
    salt_hash = F.xxhash64(F.col("url"), F.lit("salt"))
    fan_out = F.lit(BASE_SALTS)
    if hot_hosts:
        fan_out = F.when(F.col("host").isin(hot_hosts),
                         F.lit(HOT_SALTS)).otherwise(fan_out)
    return df.withColumn("salt", F.pmod(salt_hash, fan_out).cast("int"))


def run_extraction_job(
    spark: SparkSession,
    pages: DataFrame | str,
    out_root: str,
    cfg: JobConfig | None = None,
) -> dict:
    """Run (or resume) the extraction job.  Returns run stats.

    Output layout under ``out_root``:
      pages_extracted/bucket=N/*.parquet   (url, warc_ts, lang, text, spans, ...)
      lineage/*.parquet                    (run_id, bucket, counters,
                                            committed_at): the commit log
    """
    cfg = cfg or JobConfig()
    if isinstance(pages, str):
        pages = spark.read.parquet(pages)
    cat = Catalog(spark, out_root)
    out_table = cat.table("pages_extracted")

    t_start = time.perf_counter()
    phases: dict[str, float] = {}
    df = prepare_pages(pages, cfg.n_buckets)

    # resume: drop buckets this run already committed (a literal filter;
    # the lineage table is tiny by design and read on the driver)
    done_ids = cat.committed_bucket_ids(cfg.run_id)
    if done_ids:
        df = df.filter(~F.col("bucket").isin(done_ids))

    # skew probe runs eagerly (it is a tiny result by construction), so
    # its cost is visible in phases and the hot set ships as a literal
    # instead of re-running lazily under the plan
    t0 = time.perf_counter()
    hot_rows, _, est_bytes = probe_skew(df)
    phases["probe_s"] = round(time.perf_counter() - t0, 3)
    df = with_salt(df, [host for host, _ in hot_rows])

    parallelism = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if est_bytes:
        # bound the per-task sort working set regardless of core count
        # (see EXCHANGE_PARTITION_BYTES)
        parallelism = max(parallelism, -(-est_bytes // EXCHANGE_PARTITION_BYTES))

    all_buckets = sorted(set(range(cfg.n_buckets)) - set(done_ids))
    chunk = cfg.chunk_buckets or cfg.n_buckets
    chunks = [all_buckets[i:i + chunk] for i in range(0, len(all_buckets), chunk)]

    n_chunks = 0
    for bucket_ids in chunks:
        part = df.filter(F.col("bucket").isin(bucket_ids)) if len(chunks) > 1 else df
        # THE one wide exchange of html: distribute by (bucket, salt).
        # Explicit numPartitions so AQE's size-based coalescing cannot
        # serialize the compute-bound extract stage (html bytes are small
        # relative to the 64MB advisory target, extraction cost is not).
        part = part.repartition(parallelism, "bucket", "salt")
        # partition-local external sort (no shuffle): winner capture
        # first within each url group; kernel keeps first per url.
        # warc_ts desc places NULL warc_ts last (a null capture never
        # beats a dated one).  Exact-ts ties break on the raw html
        # bytes (unsigned lexicographic — identically comparable in
        # the JVM, Python and SQL, so the oracle can reproduce the
        # winner), then lang for a total order even on identical
        # payloads with divergent passthrough metadata.
        part = part.sortWithinPartitions("url", F.col("warc_ts").desc(), "html", "lang")
        extracted = extract_pages(
            part,
            payload_col="html",
            passthrough=("url", "warc_ts", "lang", "bucket"),
            all_pages=cfg.all_pages,
            dedup_first="url",
        )
        # narrow exchange of the (much smaller) extracted output,
        # hash-partitioned by bucket alone: every bucket's rows land in
        # exactly one write task, so each bucket partition dir still
        # gets exactly one file (a task owning k buckets writes k dirs
        # as dynamic partitions).  Buckets are the LAYOUT unit (dirs,
        # resume grain); write tasks are the PARALLELISM unit, decoupled
        # on purpose.  Tying tasks to |buckets| made write tasks tiny and
        # task-fixed costs dominant: at local[16] a 64-task write stage
        # measured 143 JVM-CPU-s + 78 GC-s vs 12 CPU-s at 16 tasks for
        # the same 64 files.
        extracted = extracted.repartition(min(parallelism, len(bucket_ids)), "bucket")
        t0 = time.perf_counter()
        out_table.overwrite_partitions(extracted, partition_by=("bucket",))
        wall_ms = int((time.perf_counter() - t0) * 1000)

        phases["extract_write_s"] = phases.get("extract_write_s", 0.0) + wall_ms / 1000.0

        # lineage: per-bucket counters read back from the files that just
        # landed, with pyarrow on the driver — no Spark job after the write
        t0 = time.perf_counter()
        chunk_rows = cat.landed_counters(out_table, cfg.run_id, bucket_ids, wall_ms)
        phases["lineage_s"] = round(
            phases.get("lineage_s", 0.0) + time.perf_counter() - t0, 3)
        # the commit: one atomic append, strictly after the data landed
        t0 = time.perf_counter()
        cat.lineage().append_rows(chunk_rows, LINEAGE_SCHEMA)
        phases["commit_s"] = round(
            phases.get("commit_s", 0.0) + time.perf_counter() - t0, 3)
        n_chunks += 1

    wall_s = time.perf_counter() - t_start
    # fresh and resumed runs alike: totals cover every committed bucket
    # of this run, including those committed by an interrupted run
    totals = cat.run_totals(cfg.run_id)
    return {
        "run_id": cfg.run_id,
        "wall_s": wall_s,
        "n_chunks": n_chunks,
        "resumed_buckets_skipped": len(done_ids),
        **totals,
        "docs_per_s": (totals["n_docs"] or 0) / wall_s if wall_s else 0.0,
        "gb_per_s": (totals["bytes_in"] or 0) / 1e9 / wall_s if wall_s else 0.0,
        "phases": phases,
    }
