"""SparkSession factory with the engine's scale-oriented defaults.

Tuned for both local[N] testing and multi-executor clusters: AQE on
(runtime coalesce + skew-join split), Arrow enabled with a small
records-per-batch cap because ``html`` is a multi-MB BinaryType column
(SURVEY.md §7.3.3 — batch memory, not row count, is the limit).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

__all__ = ["get_spark", "default_driver_mem", "ENGINE_CONFS"]

# the directory holding the ocr_spark package (or engine.zip): Python
# workers need it on their path whatever the working directory
PKG_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

ENGINE_CONFS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # html pages can be multi-MB; 10k-row default batches would put
    # GBs into one Python worker batch.  256 rows x ~100KB avg ~ 25MB.
    "spark.sql.execution.arrow.maxRecordsPerBatch": "256",
    # same hazard on the scan side: the vectorized parquet reader's
    # default 4096-row columnar batch holds ~400MB of 100KB html rows
    # PER TASK (32 tasks OOM'd a 16g heap).  256 rows x ~100KB ~ 25MB.
    "spark.sql.parquet.columnarReaderBatchSize": "256",
    # idempotent per-bucket re-extraction: overwrite only the touched
    # bucket partitions on resume (SURVEY.md §7.3.5)
    "spark.sql.sources.partitionOverwriteMode": "dynamic",
    "spark.sql.parquet.compression.codec": "zstd",
    "spark.ui.enabled": "false",
    "spark.ui.showConsoleProgress": "false",
    "spark.python.worker.reuse": "true",
    # the bypass-merge shuffle writer makes (map tasks x reducers) temp
    # files and deletes them after merging; with multi-MB rows and this
    # filesystem's slow metadata ops, executor threads serialize on
    # unlink (observed via jstack).  The sort-based writer emits one
    # data+index file per map task.
    "spark.shuffle.sort.bypassMergeThreshold": "8",
    "spark.shuffle.file.buffer": "1m",
}

# JVM options for any executor that handles multi-MB binary rows.
# Two measured pathologies (diagnosis artifacts: BENCH/BASELINE.md):
#
# 1. Heap commit/uncommit churn.  Spark passes only -Xmx to the local
#    driver JVM (InitialHeapSize stays ~2g), and html byte[] rows are
#    "humongous" under the default 16m G1 region, so G1 starts a
#    concurrent cycle every few seconds (12/63s "G1 Humongous
#    Allocation" + 8 "Metadata GC Threshold" in GC logs) and each cycle
#    SHRINKS the heap (MaxHeapFreeRatio), which the next allocation
#    burst re-commits.  The kernel-side mmap+zeroing scales with
#    allocation rate, i.e. with parallelism: measured 344 s of *system*
#    CPU vs 88 s user at local[16] (vs near-zero at local[4]) — an
#    anti-scaling extract/write stage whose JFR samples sat in
#    byte-copy frames (the fault happens at the copy instruction).
#    Fix: pin -Xms to -Xmx (commit once, never uncommit) and lift the
#    humongous threshold with 32m regions.
# 2. Lambda-form class unloading.  Each concurrent cycle also unloaded
#    the generated LambdaForm/DirectMethodHandle classes; every
#    subsequent task-closure deserialization re-spun them under N-way
#    contention (793 NoSuchMethodError throws, 10-40x task-deser CPU).
#    Fix: keep class unloading out of concurrent mark (full-GC
#    unloading still bounds metaspace) and raise the initial metaspace
#    over the threshold that triggered cycles.
#
# These go on EXECUTOR JVMs on a real cluster (where Spark already
# pins -Xms=-Xmx for executors, but the G1 flags still apply); in
# local mode the driver JVM is the executor, so they go on the driver.
GC_JVM_OPTS = ("-XX:G1HeapRegionSize=32m "
               "-XX:-ClassUnloadingWithConcurrentMark "
               "-XX:MetaspaceSize=256m")


def default_driver_mem(cores: int | None = None) -> str:
    """Local-mode driver heap sized from the host: a quarter of physical
    memory, at most 2 GB per core in use, within [1 GB, 32 GB].  -Xms is
    pinned to it, so it must be a heap the host can actually commit."""
    with open("/proc/meminfo") as f:
        mem_mb = int(f.readline().split()[1]) // 1024
    cores = cores or len(os.sched_getaffinity(0))
    return f"{max(1024, min(mem_mb // 4, 2048 * cores, 32768))}m"


def get_spark(app: str = "ocr_spark", cores: int | None = None,
              shuffle_partitions: int | None = None,
              extra: dict | None = None) -> SparkSession:
    """Build (or reuse) a session.  ``cores=None`` -> local[*] when no
    master is configured (spark-submit on a cluster supplies its own)."""
    if cores is None:
        cores = int(os.environ.get("SPARK_GRAFT_CPUS", "0")) or None
    builder = SparkSession.builder.appName(app)
    extra = dict(extra or {})
    if not os.environ.get("SPARK_MASTER") and "SPARK_ENV_LOADED" not in os.environ:
        builder = builder.master(f"local[{cores}]" if cores else "local[*]")
        heap = os.environ.get("SPARK_GRAFT_DRIVER_MEM") or default_driver_mem(cores)
        builder = builder.config("spark.driver.memory", heap)
        # workers find ocr_spark (and so the daemon below) from any cwd
        key = "spark.executorEnv.PYTHONPATH"
        extra[key] = os.pathsep.join(filter(None, (PKG_ROOT, extra.get(key))))
        # lazy zip-archive invalidation: a task no longer pays ~0.2 s of
        # archive re-reads before its first row (see ocr_spark.pyworker).
        # On a cluster, pass it with --conf where engine.zip is on the
        # workers' PYTHONPATH.
        extra.setdefault("spark.python.daemon.module", "ocr_spark.pyworker")
        # local mode: the driver JVM is the executor; -Xms pins the
        # heap (Spark passes only -Xmx to the driver — see GC_JVM_OPTS
        # pathology #1; executors get -Xms=-Xmx from Spark itself)
        # Size every JVM-internal pool (GC workers, JIT compiler
        # threads, common ForkJoin) to the parallelism actually
        # requested, not the host's logical-CPU count: on this 32-lcpu
        # host a local[16] JVM otherwise spins ~23 parallel GC workers
        # plus compiler threads, and under the allocation-heavy html
        # workload the surplus threads overflow task threads onto SMT
        # siblings (measured: user-CPU per identical run inflates ~1.6x
        # at local[16] vs local[4]).  On a real cluster Spark sizes
        # executor JVMs with the same intent via cores-per-executor.
        builder = builder.config(
            "spark.driver.extraJavaOptions",
            f"-Xms{heap} {GC_JVM_OPTS}"
            + (f" -XX:ActiveProcessorCount={cores}" if cores else ""))
    builder = builder.config("spark.executor.extraJavaOptions", GC_JVM_OPTS)
    if os.environ.get("SPARK_GRAFT_LOCAL_DIR"):
        builder = builder.config("spark.local.dir",
                                 os.environ["SPARK_GRAFT_LOCAL_DIR"])
    n_shuffle = shuffle_partitions or (cores * 2 if cores else 32)
    builder = builder.config("spark.sql.shuffle.partitions", str(n_shuffle))
    for k, v in ENGINE_CONFS.items():
        builder = builder.config(k, v)
    for k, v in extra.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
