"""Tiny-size self-test of the benchmark.

    python3 perfbench/selftest.py

Runs every workload end to end at the ``TINY`` input sizes through the
real entry point (``run.py --tiny``), correctness checks included, and
asserts that each run is correct and prints exactly the metric names
``BENCHMARK.json`` declares for its trace mode. Finally copies only
``BENCHMARK.json`` and this directory into a scratch checkout and
asserts the benchmark refuses to run there (non-zero exit, no result).
Takes a few minutes: each run starts its own JVM.
"""

from __future__ import annotations

import json
import shutil
import subprocess
import sys
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent

# (workload, trace): both output modes and every workload are covered
RUNS = (("backup_chain", 1), ("catalog_fleet", 0), ("analytics_mix", 1), ("analytics_mix", 0))


def run_bench(cwd: Path, workload: str, trace: int) -> subprocess.CompletedProcess:
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", "7",
           "--seconds", "1", "--trace", str(trace), "--tiny"]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True, timeout=600)


def check_run(spec: dict, workload: str, trace: int) -> list[str]:
    proc = run_bench(ROOT, workload, trace)
    if proc.returncode != 0:
        return [f"{workload}/trace={trace}: exit {proc.returncode}\n{proc.stderr[-3000:]}"]
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    problems = []
    if set(result) != {"correct", "attempted", "failed", "metrics"}:
        problems.append(f"{workload}: result keys {sorted(result)}")
    if not result["correct"] or result["failed"] or result["attempted"] < 1:
        problems.append(f"{workload}/trace={trace}: {({k: v for k, v in result.items() if k != 'metrics'})}")
    want = {m["name"]: m["unit"] for m in spec["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in result["metrics"].items()}
    if got != want:
        problems.append(f"{workload}/trace={trace}: metric names/units differ: {sorted(set(got) ^ set(want))}")
    if not trace:
        zero = [k for k, v in result["metrics"].items() if v["value"] == 0]
        if zero:
            problems.append(f"{workload}: end-to-end metrics read 0: {zero}")
    print(f"{workload} trace={trace}: attempted={result['attempted']} failed={result['failed']}", flush=True)
    return problems


def check_refuses_without_package() -> list[str]:
    bare = ROOT / ".bench_work" / "selftest_bare"
    shutil.rmtree(bare, ignore_errors=True)
    shutil.copytree(HERE, bare / "perfbench", ignore=shutil.ignore_patterns("__pycache__"))
    shutil.copy(ROOT / "BENCHMARK.json", bare / "BENCHMARK.json")
    try:
        proc = run_bench(bare, "backup_chain", 0)
    finally:
        shutil.rmtree(bare, ignore_errors=True)
    if proc.returncode == 0 or proc.stdout.strip():
        return [f"bare checkout: exit {proc.returncode}, stdout {proc.stdout[-300:]!r}"]
    return []


def main() -> int:
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    problems = check_refuses_without_package()
    for workload, trace in RUNS:
        problems += check_run(spec, workload, trace)
    for p in problems:
        print("FAIL:", p, file=sys.stderr)
    print("selftest", "FAILED" if problems else "passed")
    return 1 if problems else 0


if __name__ == "__main__":
    sys.exit(main())
