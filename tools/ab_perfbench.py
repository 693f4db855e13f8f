"""Alternating A/B runner for perfbench: compare two source trees in
paired runs taken at the same time.

    python3 tools/ab_perfbench.py --a ../parent --b . --workload grouped_sketches \
        --pairs 10 --seconds 8 --trace 0 --seed 9001

Each pair runs ``perfbench/run.py`` once in each tree with the same,
fresh seed (``--seed`` + pair index), so both sides read identical
inputs.  The order alternates (A B, B A, A B, …), so host drift, which
is larger than the benchmark's bounds, falls on both sides alike.  For
every metric it prints each side's median and interquartile range, the
paired ratios B/A and how many pairs B won (by the metric's direction
in ``BENCHMARK.json``).  A run that prints no result drops its pair;
pairs with a failed op or no result are listed at the end.  ``--out``
writes every run's result as JSON.  Nothing under ``perfbench/`` is
changed; the runner reads only ``run.py``'s last output line.
"""

from __future__ import annotations

import argparse
import json
import statistics
import subprocess
import sys
import time
from pathlib import Path


def parse_args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--a", required=True, type=Path, help="baseline source tree (e.g. the parent commit)")
    ap.add_argument("--b", required=True, type=Path, help="changed source tree")
    ap.add_argument("--workload", required=True, action="append", help="repeat for several workloads")
    ap.add_argument("--pairs", type=int, default=10)
    ap.add_argument("--seed", type=int, required=True, help="seed of the first pair; pair i uses seed + i")
    ap.add_argument("--seconds", type=float, default=8)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--timeout", type=float, default=900, help="seconds before one run is killed")
    ap.add_argument("--out", type=Path, help="write every run's result here as JSON")
    return ap.parse_args(argv)


def run_once(tree: Path, workload: str, seed: int, seconds: float, trace: int, timeout: float) -> dict | None:
    """One perfbench run in ``tree``; its result line, or None if it failed."""
    cmd = [sys.executable, "perfbench/run.py", "--workload", workload, "--seed", str(seed)]
    cmd += ["--seconds", str(seconds), "--trace", str(trace)]
    try:
        p = subprocess.run(cmd, cwd=tree, capture_output=True, text=True, timeout=timeout)
    except subprocess.TimeoutExpired:
        return None
    lines = p.stdout.strip().splitlines()
    if p.returncode != 0 or not lines:
        sys.stderr.write(p.stderr[-2000:])
        return None
    try:
        return json.loads(lines[-1])
    except json.JSONDecodeError:
        return None


def quartiles(xs: list[float]) -> tuple[float, float, float]:
    if len(xs) < 2:
        return xs[0], xs[0], xs[0]
    q1, q2, q3 = statistics.quantiles(xs, n=4, method="inclusive")
    return q1, q2, q3


def directions(tree: Path) -> dict[str, str]:
    spec = json.loads((tree / "BENCHMARK.json").read_text())
    return {m["name"]: m["better"] for m in spec.get("end_to_end", []) + spec.get("per_layer", [])}


def report(workload: str, pairs: list[tuple[int, str, dict, dict]], better: dict[str, str]) -> None:
    print(f"\n== {workload}: {len(pairs)} pairs (B/A ratio per pair, in run order) ==")
    names = sorted(set(pairs[0][2]["metrics"]) & set(pairs[0][3]["metrics"]))
    print(f"{'metric':32} {'A median':>12} {'A IQR/med':>9} {'B median':>12} {'B IQR/med':>9} {'B/A med':>8} {'B wins':>7}  ratios")
    for name in names:
        a = [p[2]["metrics"][name]["value"] for p in pairs]
        b = [p[3]["metrics"][name]["value"] for p in pairs]
        ratios = [y / x if x else float("nan") for x, y in zip(a, b)]
        sign = -1 if better.get(name) == "lower" else 1
        wins = sum(1 for x, y in zip(a, b) if sign * (y - x) > 0)
        (a1, am, a3), (b1, bm, b3) = quartiles(a), quartiles(b)
        spread = lambda lo, med, hi: (hi - lo) / med if med else float("nan")
        print(
            f"{name:32} {am:12.6g} {spread(a1, am, a3):9.3f} {bm:12.6g} {spread(b1, bm, b3):9.3f} "
            f"{statistics.median(ratios):8.3f} {wins:>3}/{len(pairs):<3}  " + " ".join(f"{r:.3f}" for r in ratios)
        )
    print("runs (seed, first side): " + ", ".join(f"{s}{first}" for s, first, _, _ in pairs))


def main(argv=None) -> int:
    args = parse_args(argv)
    trees = {"A": args.a.resolve(), "B": args.b.resolve()}
    for tree in trees.values():
        if not (tree / "perfbench" / "run.py").is_file():
            print(f"no perfbench/run.py under {tree}", file=sys.stderr)
            return 2
    better = directions(trees["B"])
    every, failed = [], []
    for workload in args.workload:
        pairs = []
        for i in range(args.pairs):
            seed = args.seed + i
            order = ("A", "B") if i % 2 == 0 else ("B", "A")
            got = {}
            for side in order:
                t0 = time.time()
                got[side] = run_once(trees[side], workload, seed, args.seconds, args.trace, args.timeout)
                res = got[side]
                status = "no result" if res is None else f"failed {res['failed']}/{res['attempted']}"
                print(f"[{workload} seed {seed} {side}] {time.time() - t0:.0f} s, {status}", flush=True)
                every.append({"workload": workload, "seed": seed, "side": side, "result": res})
            if any(r is None or r["failed"] for r in got.values()):
                failed.append((workload, seed))
            if all(r is not None for r in got.values()):
                pairs.append((seed, order[0], got["A"], got["B"]))
        if pairs:
            report(workload, pairs, better)
    if failed:
        print("\npairs with a failed op or no result: " + ", ".join(f"{w} seed {s}" for w, s in failed))
    if args.out:
        args.out.write_text(json.dumps(every))
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
