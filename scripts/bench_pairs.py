#!/usr/bin/env python
"""Interleaved A/B runs of the repo benchmark on two checkouts.

    python scripts/bench_pairs.py PARENT_DIR CHANGE_DIR --workload backup_chain \\
        --seeds 1 2 3 4 5 6 7 8 9 10 [--seconds 24] [--trace 0] [--out pairs.json]

Each checkout runs its own ``perfbench/run.py`` as a subprocess (cwd =
the checkout), one pair per seed, and the side that runs first
alternates from pair to pair so drift on the host hits both sides
alike. For every metric the runs report, it prints the parent and
change medians and quartiles and the change's win count (ties count for
neither side), then whether the pair set supports a gain claim: the
change wins at least nine tenths of the pairs and the medians differ by
more than the parent's interquartile range. Metric directions come from
the parent checkout's ``BENCHMARK.json``. A run that exits non-zero is
reported and left out of its metric's pairs.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path


def run_once(checkout: Path, workload: str, seed: int, seconds: float, trace: int) -> dict | None:
    cmd = [
        sys.executable, "perfbench/run.py", "--workload", workload,
        "--seed", str(seed), "--seconds", str(seconds), "--trace", str(trace),
    ]
    t0 = time.monotonic()
    proc = subprocess.run(cmd, cwd=checkout, capture_output=True, text=True)
    wall = time.monotonic() - t0
    if proc.returncode != 0:
        tail = proc.stderr.strip().splitlines()[-3:]
        print(f"  {checkout.name} seed {seed}: exit {proc.returncode} after {wall:.0f} s: {tail}", file=sys.stderr)
        return None
    result = json.loads(proc.stdout.strip().splitlines()[-1])
    print(f"  {checkout.name} seed {seed}: {wall:.0f} s, correct={result['correct']}", file=sys.stderr)
    return {name: m["value"] for name, m in result["metrics"].items()}


def directions(checkout: Path) -> dict[str, str]:
    spec = json.loads((checkout / "BENCHMARK.json").read_text())
    return {m["name"]: m["better"] for m in spec.get("end_to_end", []) + spec.get("per_layer", [])}


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) == 1:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def summarize(pairs: list[tuple[dict, dict]], better: dict[str, str]) -> list[dict]:
    rows = []
    for name in sorted({n for a, b in pairs for n in a.keys() & b.keys()}):
        both = [(a[name], b[name]) for a, b in pairs if name in a and name in b]
        pa, pb = [x for x, _ in both], [y for _, y in both]
        lower = better.get(name, "lower") == "lower"
        wins = sum((y < x) if lower else (y > x) for x, y in zip(pa, pb))
        (a1, am, a3), (b1, bm, b3) = quartiles(pa), quartiles(pb)
        gap = (am - bm) if lower else (bm - am)
        rows.append({
            "metric": name, "better": "lower" if lower else "higher", "pairs": len(pa),
            "parent_median": am, "parent_q1": a1, "parent_q3": a3,
            "change_median": bm, "change_q1": b1, "change_q3": b3,
            "change_wins": wins,
            "gain_supported": wins >= 0.9 * len(pa) and gap > a3 - a1,
        })
    return rows


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("parent", type=Path, help="checkout of the parent commit")
    ap.add_argument("change", type=Path, help="checkout of the change")
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", type=int, nargs="+", required=True, help="one pair per seed")
    ap.add_argument("--seconds", type=float, default=24)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", type=Path, default=None, help="write every run's metrics and the summary as JSON")
    args = ap.parse_args(argv)

    parent, change = args.parent.resolve(), args.change.resolve()
    pairs, failed = [], 0
    for i, seed in enumerate(args.seeds):
        order = (parent, change) if i % 2 == 0 else (change, parent)
        got = {side: run_once(side, args.workload, seed, args.seconds, args.trace) for side in order}
        if got[parent] is None or got[change] is None:
            failed += 1
            continue
        pairs.append((got[parent], got[change]))
    if not pairs:
        print("no complete pair", file=sys.stderr)
        return 1

    rows = summarize(pairs, directions(parent))
    print(f"{args.workload}: {len(pairs)} pairs, {failed} incomplete")
    print(f"{'metric':<44} {'parent median [q1, q3]':>34} {'change median [q1, q3]':>34} {'wins':>6}  claim")
    for r in rows:
        p = f"{r['parent_median']:.5g} [{r['parent_q1']:.5g}, {r['parent_q3']:.5g}]"
        c = f"{r['change_median']:.5g} [{r['change_q1']:.5g}, {r['change_q3']:.5g}]"
        claim = "yes" if r["gain_supported"] else "no"
        print(f"{r['metric']:<44} {p:>34} {c:>34} {r['change_wins']:>3}/{r['pairs']:<2}  {claim}")
    if args.out is not None:
        args.out.write_text(json.dumps({
            "workload": args.workload, "seeds": args.seeds, "seconds": args.seconds, "trace": args.trace,
            "pairs": [{"parent": a, "change": b} for a, b in pairs], "summary": rows,
        }, indent=1))
    return 0


if __name__ == "__main__":
    sys.exit(main())
