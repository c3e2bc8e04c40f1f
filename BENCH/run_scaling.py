"""Scaling-efficiency measurement: the same extraction job at two
parallelism levels (the sandbox substitution for N vs 4N executors —
BASELINE.json north_rule; no real cluster is available here).

Runs ``job.py`` as a subprocess (fresh JVM per run, so one run's JIT /
page cache cannot leak into the other configuration's timing) at
local[8] (N) and local[32] (4N) over the SAME cached synthetic pages
corpus, RUNS times each, alternating.  Reports median throughput at
both levels and

    efficiency = X(4N) / (4 * X(N))     where X = docs/sec

Wall time is the job's own ``wall_s`` (first Spark action to last
chunk commit) — JVM/session startup is excluded on both sides, as
it would be on a real cluster where executors are provisioned before
the job is timed.

Writes BENCH/scaling.json and BENCH/scaling_table.autogen.md (the
results table, for manual copy-in to the hand-maintained BASELINE.md).

Usage:  python BENCH/run_scaling.py [--pages 60000] [--size-mult 6]
        [--runs 3] [--low 8] [--high 32]
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_DIR = os.path.join(ROOT, "BENCH")
CACHE = os.path.join(ROOT, ".cache")


def ensure_corpus(pages: int, size_mult: int, seed: int = 42,
                  boiler_mult: int = 1) -> str:
    sys.path.insert(0, ROOT)
    from ocr_spark.data.synth import (write_pages_parquet,
                                      write_pages_parquet_parallel)

    os.makedirs(CACHE, exist_ok=True)
    path = os.path.join(
        CACHE, f"scaling_pages_{pages}_m{size_mult}_b{boiler_mult}.parquet")
    if not os.path.exists(path):
        t0 = time.perf_counter()
        if pages > 25000:
            n = write_pages_parquet_parallel(path, n=pages, seed=seed,
                                             size_mult=size_mult,
                                             boiler_mult=boiler_mult,
                                             workers=24)
        else:
            n = write_pages_parquet(path, n=pages, seed=seed,
                                    size_mult=size_mult,
                                    boiler_mult=boiler_mult)
        sz = sum(os.path.getsize(os.path.join(path, f))
                 for f in os.listdir(path)) if os.path.isdir(path) \
            else os.path.getsize(path)
        print(f"synthesized {n} pages -> {path} "
              f"({time.perf_counter() - t0:.1f}s, {sz / 1e6:.0f} MB parquet)")
    return path


def run_once(corpus: str, cores: int, tag: str,
             out_root: str = "/tmp/ocr_spark_bench",
             scratch: str = "/root/spark_scratch",
             job_script: str = "job.py") -> dict:
    from hostmeter import cpu_delta, membw_mbps, read_cpu
    # outputs go outside the repo tree: writing many task files under
    # /root/repo is ~5x slower in this sandbox (dir appears watched).
    # Pass --out-root/--scratch /dev/shm/... to take the single shared
    # NVMe out of the measurement: on a real N-vs-4N cluster, output
    # and shuffle disks scale WITH the executors (every node brings its
    # own), so tmpfs is the honest single-box substitution when the
    # corpus makes the job I/O-heavy.
    out = os.path.join(out_root, f"scaling_out_{tag}")
    shutil.rmtree(out, ignore_errors=True)
    env = dict(os.environ, SPARK_GRAFT_CPUS=str(cores))
    env["SPARK_GRAFT_LOCAL_DIR"] = env.get("SPARK_GRAFT_LOCAL_DIR", scratch)
    os.makedirs(env["SPARK_GRAFT_LOCAL_DIR"], exist_ok=True)
    bw0 = membw_mbps()
    cpu0 = read_cpu()
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, job_script),
         "--input", corpus, "--output", out,
         "--cores", str(cores), "--run-id", tag, "--buckets", "64"],
        capture_output=True, text=True, env=env, cwd=ROOT, timeout=3600,
    )
    host = cpu_delta(cpu0, read_cpu())
    host["membw_before"], host["membw_after"] = bw0, membw_mbps()
    if proc.returncode != 0:
        sys.stderr.write(proc.stdout[-2000:] + proc.stderr[-4000:])
        raise RuntimeError(f"job failed at local[{cores}]")
    stats = json.loads(proc.stdout.strip().splitlines()[-1])
    stats["host_cpu"] = host
    shutil.rmtree(out, ignore_errors=True)
    print(f"  local[{cores}] {tag}: wall={stats['wall_s']:.1f}s "
          f"docs/s={stats['docs_per_s']:.0f} GB/s={stats['gb_per_s']:.4f} "
          f"steal_cores={host['steal_cores']:.2f} "
          f"membw={host['membw_before']:.0f}/{host['membw_after']:.0f}MB/s",
          flush=True)
    return stats


def wait_quiet(gate_cores: float, max_wait_s: int,
               window_s: float = 20.0, membw_gate: float = 0.0) -> None:
    """Poll hypervisor steal in ``window_s`` windows; return once a
    window reads below ``gate_cores`` AND the memory-bandwidth canary
    reads above ``membw_gate`` (or ``max_wait_s`` elapses — then launch
    anyway; the post-run gate still applies).  Launching into a
    known-busy burst wastes a full run; the neighbor's bursts run
    minutes, its quiet stretches longer."""
    from hostmeter import membw_mbps, read_cpu, steal_cores

    if max_wait_s <= 0:
        return
    t0 = time.time()
    while True:
        before = read_cpu()
        time.sleep(window_s)
        sc = steal_cores(before, read_cpu())
        bw = membw_mbps() if membw_gate > 0 else float("inf")
        if sc <= gate_cores and bw >= membw_gate:
            return
        waited = time.time() - t0
        print(f"    wait_quiet: steal={sc:.2f} cores (gate "
              f"{gate_cores:.2f}), membw={bw:.0f} MB/s (gate "
              f"{membw_gate:.0f}) ({waited:.0f}s waited)", flush=True)
        if waited >= max_wait_s:
            print("    wait_quiet: timeout, launching anyway", flush=True)
            return


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--pages", type=int, default=100000)
    ap.add_argument("--size-mult", type=int, default=64)
    ap.add_argument("--boiler-mult", type=int, default=1)
    ap.add_argument("--runs", type=int, default=3)
    ap.add_argument("--low", type=int, default=8)
    ap.add_argument("--high", type=int, default=32)
    ap.add_argument("--corpus", help="pre-built pages parquet (skips synth)")
    ap.add_argument("--out-root", default="/tmp/ocr_spark_bench")
    ap.add_argument("--scratch", default="/root/spark_scratch")
    ap.add_argument("--steal-gate", type=float, default=None,
                    help="max avg hypervisor-stolen cores for a run to "
                         "count (flat; legacy — prefer --steal-frac-gate)")
    ap.add_argument("--steal-frac-gate", type=float, default=0.08,
                    help="max stolen fraction of the cores under test "
                         "(steal ticks accrue only on runnable vCPUs, so "
                         "a flat core gate hits local[4] 4x harder than "
                         "local[16]; the fraction gate is symmetric)")
    ap.add_argument("--membw-gate", type=float, default=5500.0,
                    help="min MB/s the single-thread memcpy canary must "
                         "read BEFORE and AFTER a run for it to count; "
                         "co-tenant memory-bandwidth pressure slows runs "
                         "30-40%% at near-zero steal (round-3 finding: "
                         "healthy reads 6900-8200 on this box, "
                         "contaminated windows read 2100-4400), so steal "
                         "alone under-gates.  Applied to the BEFORE "
                         "sample only (the after-sample anti-correlates "
                         "with contamination, see _dirty).  0 disables")
    ap.add_argument("--max-retries", type=int, default=2)
    ap.add_argument("--job-script", default="job.py",
                    help="job entrypoint relative to the repo root; must "
                         "accept --input/--output/--cores/--run-id/"
                         "--buckets and print the one-line stats JSON "
                         "(e.g. BENCH/curate_job.py for the dedup-heavy "
                         "curation series)")
    ap.add_argument("--out-json", default="scaling.json",
                    help="summary filename inside BENCH/")
    ap.add_argument("--no-md", action="store_true",
                    help="skip rewriting scaling_table.autogen.md (use "
                         "for secondary series so the headline table "
                         "is not clobbered)")
    ap.add_argument("--wait-quiet-s", type=int, default=900,
                    help="before each attempt, poll hypervisor steal in "
                         "20s windows up to this long and launch only "
                         "once a window is below the gate (0 = launch "
                         "immediately); avoids burning a 10-minute run "
                         "during a known-busy neighbor burst")
    args = ap.parse_args()

    corpus = args.corpus or ensure_corpus(args.pages, args.size_mult,
                                          boiler_mult=args.boiler_mult)

    results: dict[int, list[dict]] = {args.low: [], args.high: []}
    attempts_log: dict[int, list[dict]] = {args.low: [], args.high: []}
    for i in range(args.runs):
        # alternate so drift (thermal, page cache) hits both levels evenly
        for cores in (args.high, args.low):
            # hypervisor-steal gate (see hostmeter.py): a run whose
            # window saw the co-tenant steal more than STEAL_GATE cores
            # is re-run (bounded retries); every attempt is persisted.
            gate = (args.steal_gate if args.steal_gate is not None
                    else args.steal_frac_gate * cores)
            attempts: list[dict] = []

            def _dirty(a: dict) -> bool:
                # gate on the BEFORE canary only: the after-sample
                # anti-correlates with contamination (the fastest runs'
                # own output writeback is still draining when it reads
                # — r4d discarded two of the round's three fastest runs
                # on it).  membw_after stays recorded as a diagnostic.
                h = a["host_cpu"]
                return (h["steal_cores"] > gate
                        or (args.membw_gate > 0
                            and h["membw_before"] < args.membw_gate))

            for attempt in range(args.max_retries + 1):
                wait_quiet(gate, args.wait_quiet_s,
                           membw_gate=args.membw_gate)
                r = run_once(corpus, cores, f"c{cores}r{i}a{attempt}",
                             args.out_root, args.scratch,
                             job_script=args.job_script)
                attempts.append(r)
                if not _dirty(r):
                    break
                h = r["host_cpu"]
                print(f"    dirty window: steal={h['steal_cores']:.2f} "
                      f"(gate {gate:.2f}), membw="
                      f"{min(h['membw_before'], h['membw_after']):.0f} "
                      f"(gate {args.membw_gate:.0f}) -> rerun", flush=True)
            # count the least-contaminated attempt for this run slot —
            # gate-clean first, then min steal, then min wall (steal /
            # membw contention only ever SLOWS a run, so at equal
            # cleanliness the faster attempt is the closer-to-truth
            # one).  Earlier code counted whatever attempt came last,
            # letting a dirty final retry poison the median while its
            # cleaner predecessors were discarded.
            best = min(attempts,
                       key=lambda a: (_dirty(a),
                                      a["host_cpu"]["steal_cores"],
                                      a["wall_s"]))
            for a in attempts:
                a["counted"] = a is best
            results[cores].append(best)
            attempts_log[cores].extend(attempts)

    def med(cores: int, key: str) -> float:
        return statistics.median(r[key] for r in results[cores])

    x_low, x_high = med(args.low, "docs_per_s"), med(args.high, "docs_per_s")
    g_low, g_high = med(args.low, "gb_per_s"), med(args.high, "gb_per_s")
    ratio = args.high / args.low
    eff = x_high / (ratio * x_low) if x_low else 0.0

    corpus_bytes = (
        sum(os.path.getsize(os.path.join(corpus, f)) for f in os.listdir(corpus))
        if os.path.isdir(corpus) else os.path.getsize(corpus)
    )
    summary = {
        "corpus": {"pages": args.pages, "size_mult": args.size_mult,
                   "path": corpus,
                   "parquet_mb": round(corpus_bytes / 1e6, 1),
                   "n_docs_extracted": results[args.high][0]["n_docs"],
                   "bytes_in": results[args.high][0]["bytes_in"]},
        "runs": args.runs,
        "low": {"cores": args.low, "wall_s": med(args.low, "wall_s"),
                "docs_per_s": round(x_low, 1), "gb_per_s": round(g_low, 4)},
        "high": {"cores": args.high, "wall_s": med(args.high, "wall_s"),
                 "docs_per_s": round(x_high, 1), "gb_per_s": round(g_high, 4)},
        "scaling_efficiency": round(eff, 3),
        "target": 0.8,
        "pass": eff >= 0.8,
        "all_runs": {str(c): rs for c, rs in results.items()},
        "all_attempts": {str(c): rs for c, rs in attempts_log.items()},
    }
    os.makedirs(BENCH_DIR, exist_ok=True)
    summary["job_script"] = args.job_script
    with open(os.path.join(BENCH_DIR, args.out_json), "w") as f:
        json.dump(summary, f, indent=2)

    md = f"""# BENCH/BASELINE — measured scaling efficiency

North-rule criterion: throughput scaling efficiency >= 0.8 from N to 4N
executors.  Sandbox substitution (no real cluster): the identical job on
the identical input at `local[{args.low}]` (N={args.low} cores) vs
`local[{args.high}]` (4N={args.high}; the host has 32 cores).  Median of
{args.runs} alternating runs; fresh JVM per run; wall time is the job's own
span (startup excluded on both sides).  Produced by
`python BENCH/run_scaling.py`; raw numbers in `BENCH/scaling.json`.

Corpus: {summary['corpus']['n_docs_extracted']} extracted docs
({summary['corpus']['parquet_mb']} MB parquet,
{summary['corpus']['bytes_in'] / 1e9:.2f} GB html bytes), seeded synthetic
pages (`ocr_spark.data.synth.gen_pages`, seed=42,
size_mult={args.size_mult}).

| parallelism | median wall (s) | docs/s | GB/s (html in) |
|---|---|---|---|
| local[{args.low}] (N) | {med(args.low, 'wall_s'):.1f} | {x_low:.0f} | {g_low:.4f} |
| local[{args.high}] (4N) | {med(args.high, 'wall_s'):.1f} | {x_high:.0f} | {g_high:.4f} |

**Scaling efficiency = X(4N) / (4 x X(N)) = {eff:.3f}** (target >= 0.8:
**{'PASS' if eff >= 0.8 else 'FAIL'}**).
"""
    # BASELINE.md is maintained by hand (it carries the controls and
    # pathology analysis alongside the numbers); emit the autogen table
    # next to it for copy-in instead of clobbering.
    if not args.no_md:
        with open(os.path.join(BENCH_DIR, "scaling_table.autogen.md"),
                  "w") as f:
            f.write(md)
    print(json.dumps({k: v for k, v in summary.items()
                      if k not in ("all_runs", "all_attempts")}))


if __name__ == "__main__":
    main()
