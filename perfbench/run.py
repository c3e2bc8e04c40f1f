"""Benchmark of the batch extraction job
``ocr_spark.plans.pipeline.run_extraction_job``.

    python3 perfbench/run.py --workload html_boilerplate --seed 1 --seconds 16 --trace 0

One Spark application at ``local[nproc - 1]`` runs a closed loop: one
job at a time, a discarded warm-up job first, then fresh jobs until
``--seconds`` of job wall time are measured.  Every job's landed table is checked
against the single-process extractor (``gate.py``), and a no-op resume
of the last job must write nothing; any violation makes the run exit 1.

The last stdout line is the result JSON.  ``--trace 0`` reports the
end-to-end metrics; ``--trace 1`` reports the per-layer metrics, timed
from outside around calls into each module, and writes the spans to
``.perfbench_work/traces/``.  Earlier stdout lines echo the pinned host
settings and the run's validity counters (host steal, process-tree CPU).
"""

from __future__ import annotations

import argparse
import contextlib
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time
import traceback

import gate
import procmeter
import spans
import workloads

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORK = os.path.join(ROOT, ".perfbench_work")
sys.path.insert(0, ROOT)

DEFAULT_SEED = 1
SETUP_SAMPLES = 2   # cold session starts per run; setup_s is their median
CACHE_KEEP = 6      # corpora kept in the cache
LOOP_CAP_S = 110    # start no job after this much run time

# workload -> (JobConfig fields, whether each job writes into a table
# that already holds a previous run)
JOBS = {
    "html_boilerplate": ({"n_buckets": 16}, False),
    "pdf_layout": ({"n_buckets": 16, "all_pages": True}, False),
    "tiny_recrawl": ({"n_buckets": 24, "chunk_buckets": 8}, True),
}

# sha256 of the sorted (url, text) pairs for DEFAULT_SEED, by (workload, size)
PINNED_DIGESTS = {
    ("html_boilerplate", "full"): "970d58ecf7d379405a8b87871ca9c6b97441d73d8dbd9e17d705b02d43c92794",
    ("html_boilerplate", "smoke"): "c825cfdeebc77d1f8f741f5cf5789d97a57f3749b4e8404ad9e1586f5ed5da2a",
    ("pdf_layout", "full"): "bc5b92521278270bfb06b67021a00b79ec6b683da1df978822c347848f231cf7",
    ("pdf_layout", "smoke"): "96140a3e6d2e34587956c388d2c34073741484bcebde77d9e69d188d28fb26d0",
    ("tiny_recrawl", "full"): "cc824dc6b3ff1c0d3f128b9bc26991ba7c22cb407b79a8309e8758e1d5576c18",
    ("tiny_recrawl", "smoke"): "e24504423e0fe6bc62107944fcd3b10ecab0bfe66fceec2d53ba036cfb32ccad",
}

END_TO_END = {
    "setup_s": "s", "docs_per_s": "1/s", "mb_per_s": "MB/s",
    "cpu_s_per_kdoc": "s/kdoc",
}
PER_LAYER = {
    "session.start_s": "s", "session.first_job_s": "s",
    "core.docs_per_s": "1/s", "core.mb_per_s": "MB/s",
    "core.html_us_p50": "us", "core.html_us_p99": "us",
    "core.pdf_us_p50": "us", "core.pdf_us_p99": "us",
    "core.html_docs": "count", "core.pdf_docs": "count", "core.other_docs": "count",
    "extract.stage_s": "s", "extract.docs_per_s": "1/s",
    "extract.kernel_ms_sum": "ms", "extract.kernel_share": "ratio",
    "pipeline.probe_s": "s", "pipeline.extract_write_s": "s",
    "pipeline.lineage_s": "s", "pipeline.commit_s": "s",
    "pipeline.job_self_s": "s",
    "pipeline.rows_in": "count", "pipeline.docs_out": "count",
    "pipeline.dups_dropped": "count", "pipeline.hot_hosts": "count",
    "pipeline.bucket_skew": "ratio", "pipeline.overhead_share": "ratio",
    "catalog.committed_buckets_s": "s", "catalog.resume_s": "s",
    "catalog.out_files": "count", "catalog.out_bytes": "bytes",
    "catalog.files_per_bucket_max": "count",
    "catalog.manifest_files": "count", "catalog.lineage_files": "count",
    "spark.jobs": "count", "spark.stages": "count",
    "spark.tasks": "count", "spark.tasks_failed": "count",
    "host.steal_s": "s", "host.user_cpu_s": "s", "host.sys_cpu_s": "s",
    "trace.overhead_frac": "ratio", "docs_failed_frac": "ratio",
    # end-to-end in intent, but it moves ~40% between identical runs
    # with the number of live Python workers and touched heap pages
    "peak_rss_mb": "MB",
}


def log(t_run: float, msg: str) -> None:
    print(f"perfbench: {time.perf_counter() - t_run:7.2f}s {msg}", file=sys.stderr, flush=True)


def pin_host() -> dict:
    """Fix the settings a run depends on in this process's environment
    (inherited by the JVM, its Python workers and setup probes) and
    return them for the log."""
    # one vCPU stays free for the driver, the JVM's own threads and the
    # host's other tenants: on a 4-vCPU shared host local[4] ran html jobs
    # ~15% slower than local[3], with 4x the run-to-run spread
    cores = max(1, len(os.sched_getaffinity(0)) - 1)
    with open("/proc/meminfo") as f:
        mem_mb = int(f.readline().split()[1]) // 1024
    tmp = os.path.join(WORK, "tmp")
    local = os.path.join(WORK, "spark-local")
    for d in (tmp, local):
        os.makedirs(d, exist_ok=True)
    env = {
        "SPARK_GRAFT_CPUS": str(cores),
        # the session pins -Xms to this, so it must fit the host
        "SPARK_GRAFT_DRIVER_MEM": f"{min(4096, max(1024, mem_mb // 8))}m",
        "SPARK_GRAFT_LOCAL_DIR": local,
        "SPARK_LOCAL_DIRS": local,
        # Python workers import ocr_spark whatever the working directory
        "PYTHONPATH": os.pathsep.join(filter(None, (ROOT, os.environ.get("PYTHONPATH")))),
        "PYSPARK_PYTHON": sys.executable,
        "PYTHONHASHSEED": "0",  # same dict/set layout in every run
        "TMPDIR": tmp,
        "SPARK_SUBMIT_OPTS": " ".join(filter(None, (
            os.environ.get("SPARK_SUBMIT_OPTS"),
            f"-Djava.io.tmpdir={tmp}", "-XX:-UsePerfData"))),
    }
    for k in ("SPARK_MASTER", "SPARK_ENV_LOADED"):  # would override local[N]
        os.environ.pop(k, None)
    os.environ.update(env)
    return {"master": f"local[{cores}]", "host_mem_mb": mem_mb, **env}


def start_session(cores: int, tracer: spans.Tracer):
    """get_spark, then the first trivial Python-worker job.  Returns
    (spark, get_spark seconds, first job seconds)."""
    from ocr_spark.session import get_spark

    with tracer.span("get_spark"):
        t0 = time.perf_counter()
        spark = get_spark("perfbench", cores=cores)
        t1 = time.perf_counter()
    with tracer.span("first_job"):
        spark.sparkContext.parallelize(range(cores), cores).map(lambda x: x).count()
        t2 = time.perf_counter()
    return spark, t1 - t0, t2 - t1


def stop_session(spark) -> None:
    """Stop the context and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits when its stdin closes
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def setup_probe() -> int:
    """Child mode: one cold session start, printed as JSON."""
    spark, start_s, first_s = start_session(int(os.environ["SPARK_GRAFT_CPUS"]),
                                            spans.Tracer("probe", False))
    stop_session(spark)
    print(json.dumps({"setup_s": start_s + first_s}))
    return 0


def probe_setup_in_child() -> float:
    out = subprocess.run([sys.executable, os.path.abspath(__file__), "--setup-probe"],
                         cwd=ROOT, capture_output=True, text=True, timeout=120)
    if out.returncode:
        raise RuntimeError(f"setup probe failed:\n{out.stderr[-2000:]}")
    return json.loads(out.stdout.strip().splitlines()[-1])["setup_s"]


def evict_cache(cache: str, keep: str) -> None:
    dirs = sorted((os.path.join(cache, d) for d in os.listdir(cache)),
                  key=os.path.getmtime, reverse=True)
    for d in dirs[CACHE_KEEP:]:
        if d != keep:
            shutil.rmtree(d, ignore_errors=True)


def spark_counts(sc, group: str) -> dict:
    """Jobs, stages run, tasks run and tasks failed in one job group."""
    st = sc.statusTracker()
    c = {"spark.jobs": 0, "spark.stages": 0, "spark.tasks": 0, "spark.tasks_failed": 0}
    for jid in st.getJobIdsForGroup(group):
        c["spark.jobs"] += 1
        info = st.getJobInfo(jid)
        for sid in (info.stageIds if info else ()):
            si = st.getStageInfo(sid)
            if si and si.numCompletedTasks + si.numFailedTasks:
                c["spark.stages"] += 1
                c["spark.tasks"] += si.numCompletedTasks + si.numFailedTasks
                c["spark.tasks_failed"] += si.numFailedTasks
    return c


def table_layout(out: str, run_id: str) -> dict:
    """Catalog file counts and the docs-per-bucket skew of ``run_id``."""
    import pyarrow.parquet as pq

    parts = gate.table_files(os.path.join(out, "pages_extracted"))
    files = [f for fs in parts.values() for f in fs]

    def n_parquet(d: str) -> int:
        d = os.path.join(out, d)
        return sum(f.endswith(".parquet") for f in os.listdir(d)) if os.path.isdir(d) else 0

    lin = pq.read_table(os.path.join(out, "lineage")).to_pydict()
    per_bucket = [n for r, n in zip(lin["run_id"], lin["n_docs"]) if r == run_id and n]
    return {
        "catalog.out_files": len(files),
        "catalog.out_bytes": sum(os.path.getsize(f) for f in files),
        "catalog.files_per_bucket_max": max(map(len, parts.values()), default=0),
        "catalog.manifest_files": n_parquet("manifest"),
        "catalog.lineage_files": n_parquet("lineage"),
        "pipeline.bucket_skew": (max(per_bucket) / statistics.mean(per_bucket)
                                 if per_bucket else 0.0),
    }


def one_job(spark, corpus: str, out: str, cfg, expected: dict,
            tracer: spans.Tracer, traced: bool) -> dict:
    """Run one fresh job, timed, then check what it landed."""
    from ocr_spark.plans import pipeline
    from ocr_spark.sources.catalog import Catalog

    if tracer.enabled:
        spark.sparkContext.setJobGroup(cfg.run_id, cfg.run_id)
    job_tracer = tracer if traced else spans.Tracer("", False)
    cpu0 = sum(procmeter.tree_cpu())
    t0 = time.perf_counter()
    try:
        with contextlib.ExitStack() as stack:
            stack.enter_context(job_tracer.span("run_extraction_job"))
            stack.enter_context(job_tracer.wrap(pipeline, "probe_skew", "probe_skew"))
            stack.enter_context(job_tracer.wrap(Catalog, "committed_buckets",
                                                "committed_buckets"))
            stats = pipeline.run_extraction_job(spark, corpus, out, cfg)
    except Exception:  # a failed attempt counts every doc as failed
        traceback.print_exc()
        return {"wall": time.perf_counter() - t0, "cpu": 0.0, "landed": 0,
                "failed": len(expected), "problems": [f"{cfg.run_id} raised"],
                "stats": None, "traced": traced, "run_id": cfg.run_id}
    wall = time.perf_counter() - t0
    job = {"wall": wall, "cpu": sum(procmeter.tree_cpu()) - cpu0, "stats": stats,
           "traced": traced, "run_id": cfg.run_id, **gate.check_job(out, stats, expected)}
    if traced:
        job["layers"] = {**table_layout(out, cfg.run_id),
                         **spark_counts(spark.sparkContext, cfg.run_id),
                         "pipeline.hot_hosts": len(tracer.last["probe_skew"][0])}
    return job


def percentile(xs: list[float], p: int) -> float:
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=100, method="inclusive")[p - 1]


def layer_metrics(spark, tracer, corpus, cfg, cores, jobs, oracle_runs,
                  winner_bytes, n_rows) -> dict:
    """Per-layer metrics that need the live session; the rest are added
    by the caller."""
    from pyspark.sql import functions as F

    from ocr_spark.operators.extract import extract_pages

    med = statistics.median
    traced = [j for j in jobs if j["traced"] and j["stats"]]
    plain = [j for j in jobs if not j["traced"] and j["stats"]]
    m = {k: statistics.median_low(j["layers"][k] for j in traced)
         for k in traced[0]["layers"]}

    secs = [end - start for _, _, start, end in oracle_runs]
    by_kind = {"html": [], "pdf": []}
    for (_, kind, start, end) in oracle_runs:
        by_kind.get(kind, []).append((end - start) * 1e6)
    core_s = sum(secs)
    m.update({
        "core.docs_per_s": len(secs) / core_s,
        "core.mb_per_s": winner_bytes / 1e6 / core_s,
        "core.html_us_p50": percentile(by_kind["html"], 50),
        "core.html_us_p99": percentile(by_kind["html"], 99),
        "core.pdf_us_p50": percentile(by_kind["pdf"], 50),
        "core.pdf_us_p99": percentile(by_kind["pdf"], 99),
        "core.html_docs": len(by_kind["html"]),
        "core.pdf_docs": len(by_kind["pdf"]),
        "core.other_docs": len(secs) - len(by_kind["html"]) - len(by_kind["pdf"]),
    })

    # the operator alone: scan + kernel, no exchange; the aggregate needs
    # every output row, so every input row runs through the kernel
    spark.sparkContext.setJobGroup("extract_pages", "extract_pages")
    with tracer.span("extract_pages"):
        t0 = time.perf_counter()
        r = (extract_pages(spark.read.parquet(corpus), passthrough=("url",),
                           all_pages=cfg.all_pages)
             .agg(F.count("*").alias("n"), F.sum("extract_ms").alias("ms")).first())
        stage_s = time.perf_counter() - t0
    m.update({
        "extract.stage_s": stage_s,
        "extract.docs_per_s": r["n"] / stage_s,
        "extract.kernel_ms_sum": r["ms"],
        "extract.kernel_share": r["ms"] / 1000 / (stage_s * cores),
    })

    wall = med(j["wall"] for j in traced)
    for k in ("probe_s", "extract_write_s", "lineage_s", "commit_s"):
        m[f"pipeline.{k}"] = med(j["stats"]["phases"][k] for j in traced)
    m.update({
        "pipeline.job_self_s": med(tracer.self_times("run_extraction_job")),
        "pipeline.rows_in": n_rows,
        "pipeline.docs_out": traced[-1]["stats"]["n_docs"],
        "pipeline.dups_dropped": n_rows - traced[-1]["stats"]["n_docs"],
        "pipeline.overhead_share": 1 - core_s / (cores * wall),
        "trace.overhead_frac": 1 - (med(j["landed"] / j["wall"] for j in traced)
                                    / med(j["landed"] / j["wall"] for j in plain)),
    })
    return m


def run(args) -> int:
    from ocr_spark.plans.pipeline import JobConfig, run_extraction_job
    from ocr_spark.sources.catalog import Catalog

    t_run = time.perf_counter()
    settings = pin_host()
    cores = int(settings["SPARK_GRAFT_CPUS"])
    print("perfbench: settings " + json.dumps(settings), flush=True)
    host0, cpu0 = procmeter.host_cpu(), procmeter.tree_cpu()
    tracer = spans.Tracer(f"{args.workload}-seed{args.seed}-{os.getpid()}", bool(args.trace))
    cfg_fields, into_existing = JOBS[args.workload]
    _, _, full_rows, smoke_rows = workloads.WORKLOADS[args.workload]

    cache = os.path.join(WORK, "cache")
    corpus = workloads.corpus(cache, args.workload, args.seed,
                              full_rows if args.size == "full" else smoke_rows, cores)
    evict_cache(cache, corpus)
    docs, n_rows, n_bytes = gate.winners(corpus)
    with tracer.span("oracle") as sp:
        oracle_runs = gate.oracle(docs, cfg_fields.get("all_pages", False), cores)
    for _, _, start, end in oracle_runs if tracer.enabled else ():
        tracer.add("extract_bytes", start, end, parent=sp["id"])
    expected = {url: r[0] for (url, _), r in zip(docs, oracle_runs)}
    log(t_run, f"corpus and oracle ready: {n_rows} rows, {len(docs)} urls")

    setup = [] if args.trace else [probe_setup_in_child()
                                   for _ in range(SETUP_SAMPLES - 1)]
    spark, start_s, first_job_s = start_session(cores, tracer)
    setup.append(start_s + first_job_s)
    log(t_run, f"session up; setup samples {setup}")

    run_dir = os.path.join(WORK, f"run-{os.getpid()}")
    problems: list[str] = []
    committed_s = resume_s = 0.0
    layers: dict = {}
    try:
        def run_job(out: str, run_id: str, traced: bool = False) -> dict:
            return one_job(spark, corpus, out, JobConfig(run_id=run_id, **cfg_fields),
                           expected, tracer, traced)

        warm = os.path.join(run_dir, "warmup")
        problems += run_job(warm, "warmup")["problems"]
        # the warm-up's output is the previous run that timed jobs write into
        template = warm if into_existing else None
        log(t_run, "warm-up job done")
        jobs: list[dict] = []
        out = None
        min_jobs = 4 if args.trace else 3
        # the RSS sampler polls /proc, so only the traced run carries it
        with procmeter.RssSampler() if args.trace else contextlib.nullcontext() as rss:
            while len(jobs) < min_jobs or (
                    sum(j["wall"] for j in jobs) < args.seconds
                    and time.perf_counter() - t_run < LOOP_CAP_S):
                if out:
                    shutil.rmtree(out)
                out = os.path.join(run_dir, f"job{len(jobs)}")
                if template:
                    shutil.copytree(template, out)
                # the traced run orders jobs untraced, traced, traced,
                # untraced, ... so drift within the run cancels out of
                # trace.overhead_frac
                jobs.append(run_job(out, f"job{len(jobs)}",
                                    traced=bool(args.trace) and len(jobs) % 4 in (1, 2)))
        for j in jobs:
            log(t_run, f"{j['run_id']} wall {j['wall']:.2f}s cpu {j['cpu']:.1f}s "
                f"phases {j['stats'] and j['stats']['phases']}")
        for j in jobs:
            problems += j["problems"]
            pinned = PINNED_DIGESTS.get((args.workload, args.size))
            if args.seed == DEFAULT_SEED and j["stats"] and j.get("digest") != pinned:
                problems.append(f"{j['run_id']} digest {j.get('digest')} != pinned {pinned}")

        last = jobs[-1]
        if last["stats"]:
            if args.trace:
                spark.sparkContext.setJobGroup("catalog", "catalog")
            with tracer.span("committed_buckets"):
                t0 = time.perf_counter()
                Catalog(spark, out).committed_buckets(last["run_id"]).count()
                committed_s = time.perf_counter() - t0
            with tracer.span("resume"):
                t0 = time.perf_counter()
                resumed = run_extraction_job(spark, corpus, out, JobConfig(
                    run_id=last["run_id"], **cfg_fields))
                resume_s = time.perf_counter() - t0
            log(t_run, "resume checked")
            problems += gate.check_resume(last["stats"], resumed, cfg_fields["n_buckets"])
        if args.trace and last["stats"]:
            layers = layer_metrics(spark, tracer, corpus, JobConfig(**cfg_fields), cores,
                                   jobs, oracle_runs, sum(len(h) for _, h in docs), n_rows)
    finally:
        stop_session(spark)
        shutil.rmtree(run_dir, ignore_errors=True)

    host1, cpu1 = procmeter.host_cpu(), procmeter.tree_cpu()
    validity = {"host_steal_s": host1["steal"] - host0["steal"],
                "tree_user_cpu_s": cpu1[0] - cpu0[0], "tree_sys_cpu_s": cpu1[1] - cpu0[1],
                "run_wall_s": time.perf_counter() - t_run, "jobs": len(jobs)}
    print("perfbench: validity " + json.dumps(validity), flush=True)
    for p in problems:
        print(f"perfbench: FAIL {p}", file=sys.stderr)

    failed = sum(j["failed"] for j in jobs)
    attempted = len(jobs) * len(expected)
    med = statistics.median
    if args.trace:
        metrics = {**layers,
                   "session.start_s": start_s, "session.first_job_s": first_job_s,
                   "catalog.committed_buckets_s": committed_s, "catalog.resume_s": resume_s,
                   "host.steal_s": validity["host_steal_s"],
                   "host.user_cpu_s": validity["tree_user_cpu_s"],
                   "host.sys_cpu_s": validity["tree_sys_cpu_s"],
                   "docs_failed_frac": failed / attempted,
                   "peak_rss_mb": rss.peak_bytes / 2**20}
        units = PER_LAYER
        tracer.write(os.path.join(WORK, "traces", f"{tracer.run}.spans.jsonl"))
    else:
        metrics = {
            "setup_s": med(setup),
            "docs_per_s": med(j["landed"] / j["wall"] for j in jobs),
            "mb_per_s": med(n_bytes / 1e6 / j["wall"] for j in jobs),
            "cpu_s_per_kdoc": med(j["cpu"] / (len(expected) / 1000) for j in jobs),
        }
        units = END_TO_END
    ok = not problems and failed == 0
    # a run that failed before a layer was measured reports it as 0
    print(json.dumps({"correct": ok, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": metrics.get(k, 0.0), "unit": u}
                                  for k, u in units.items()}}), flush=True)
    return 0 if ok else 1


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", choices=sorted(JOBS))
    ap.add_argument("--seed", type=int, default=DEFAULT_SEED)
    ap.add_argument("--seconds", type=float, default=16.0,
                    help="job wall time to measure, after the warm-up")
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--size", choices=("full", "smoke"), default="full")
    ap.add_argument("--setup-probe", action="store_true", help=argparse.SUPPRESS)
    args = ap.parse_args(argv)
    try:
        import ocr_spark  # noqa: F401
    except ImportError as exc:
        print(f"perfbench: the program under test is missing: {exc}", file=sys.stderr)
        return 2
    if not args.setup_probe and not args.workload:
        ap.error("--workload is required")
    procmeter.become_subreaper()
    # a terminated run still stops what it started, in the finally below
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    try:
        return setup_probe() if args.setup_probe else run(args)
    finally:
        procmeter.end_descendants()


if __name__ == "__main__":
    sys.exit(main())
