"""Self-test of the benchmark.

    python3 perfbench/selftest.py

Runs a smoke-size corpus of every workload with tracing off and on, and
checks that each run passes the correctness gate and prints exactly the
metrics ``BENCHMARK.json`` lists, each with its unit, and that no
process it started is still running when it exits.  Then checks that
a copy holding only the benchmark, without the program, fails without
printing a result.
"""

from __future__ import annotations

import json
import math
import os
import shutil
import subprocess
import sys

import procmeter
import run

ROOT = run.ROOT


def result(cwd: str, *args: str, env: dict | None = None) -> tuple[int, dict | None, list]:
    """Exit code, result JSON and the processes the run left behind."""
    p = subprocess.Popen([sys.executable, "perfbench/run.py", *args], cwd=cwd, env=env,
                         stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
                         start_new_session=True)
    stdout, _ = p.communicate(timeout=180)
    left = procmeter.session_pids(p.pid)
    lines = stdout.strip().splitlines()
    try:
        return p.returncode, json.loads(lines[-1]) if lines else None, left
    except json.JSONDecodeError:
        return p.returncode, None, left


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    failures = []
    declared = {
        0: {m["name"]: m["unit"] for m in bench["end_to_end"]},
        1: {m["name"]: m["unit"] for m in bench["per_layer"]},
    }
    if declared != {0: run.END_TO_END, 1: run.PER_LAYER}:
        failures.append("BENCHMARK.json metrics differ from run.py's")
    for w in bench["workloads"]:
        if w["name"] not in run.JOBS:
            failures.append(f"BENCHMARK.json workload {w['name']} is unknown")

    for workload in sorted(run.JOBS):
        for trace in (0, 1):
            code, out, left = result(ROOT, "--workload", workload,
                                     "--seed", str(run.DEFAULT_SEED), "--seconds", "1",
                                     "--trace", str(trace), "--size", "smoke")
            tag = f"{workload} --trace {trace}"
            if left:
                failures.append(f"{tag}: processes {left} outlived the run")
            if code or not out:
                failures.append(f"{tag}: exit {code}, result {out}")
                continue
            if set(out) != {"correct", "attempted", "failed", "metrics"}:
                failures.append(f"{tag}: result keys {sorted(out)}")
            if not out["correct"] or out["failed"] or out["attempted"] < 1:
                failures.append(f"{tag}: gate {out['correct']}, "
                                f"{out['failed']}/{out['attempted']} failed")
            got = {k: v["unit"] for k, v in out["metrics"].items()}
            if got != declared[trace]:
                failures.append(f"{tag}: metrics/units {got} != {declared[trace]}")
            for k, v in out["metrics"].items():
                if not isinstance(v["value"], (int, float)) or not math.isfinite(v["value"]):
                    failures.append(f"{tag}: {k} = {v['value']!r}")
            print(f"selftest: {tag} ok", flush=True)

    bare = os.path.join(run.WORK, "bare")
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(run.HERE, os.path.join(bare, "perfbench"),
                    ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), bare)
    code, out, _ = result(bare, "--workload", bench["workloads"][0]["name"], "--seed", "1",
                          "--seconds", "1", "--trace", "0",
                          env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"})
    shutil.rmtree(bare, ignore_errors=True)
    if code == 0 or out is not None:
        failures.append(f"without the program: exit {code}, result {out}")

    for f in failures:
        print(f"selftest: FAIL {f}")
    print("selftest: " + ("FAILED" if failures else "passed"))
    return 1 if failures else 0


if __name__ == "__main__":
    sys.exit(main())
