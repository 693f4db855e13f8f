"""Run the benchmark on one workload with several seeds, one run after
another, and print each end-to-end metric's median and its quartile
spread ((Q3 - Q1) / median) against the bound in BENCHMARK.json.

    python3 perfbench/spread.py --workload screen_probe --seeds 1-10

Run from the root of a source tree; each run's result line is appended
to ``.bench_work/spread-<workload>.jsonl``.
"""

from __future__ import annotations

import argparse
import json
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

import measure  # noqa: E402


def seed_list(spec: str) -> list[int]:
    out: list[int] = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out.extend(range(int(lo), int(hi or lo) + 1))
    return out


def main(argv=None) -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    args = ap.parse_args(argv)
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    log_path = ROOT / ".bench_work" / f"spread-{args.workload}.jsonl"
    log_path.parent.mkdir(parents=True, exist_ok=True)
    values: dict[str, list[float]] = {m["name"]: [] for m in spec["end_to_end"]}
    bad = 0
    for seed in seed_list(args.seeds):
        cmd = [*spec["command"], "--workload", args.workload, "--seed", str(seed)]
        cmd += ["--seconds", str(spec["run_seconds"]), "--trace", "0"]
        t0 = time.monotonic()
        proc = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True, timeout=300)
        wall = time.monotonic() - t0
        lines = proc.stdout.strip().splitlines()
        if proc.returncode != 0 or not lines:
            print(f"seed {seed}: exit {proc.returncode}\n{proc.stderr[-2000:]}", flush=True)
            bad += 1
            continue
        res = json.loads(lines[-1])
        with log_path.open("a") as f:
            f.write(json.dumps({"seed": seed, "wall_s": wall, **res}) + "\n")
        for k in values:
            values[k].append(res["metrics"][k]["value"])
        shown = " ".join(f"{k}={res['metrics'][k]['value']:.5g}" for k in values)
        print(f"seed {seed}: wall {wall:.1f}s correct={res['correct']} {res['failed']}/{res['attempted']} {shown}", flush=True)
        bad += int(not res["correct"])
    for m in spec["end_to_end"]:
        xs = values[m["name"]]
        if len(xs) >= 2:
            spread = measure.quartile_spread(xs)
            verdict = "ok" if spread < m["bound"] / 3 else ("within bound" if spread <= m["bound"] else "TOO WIDE")
            print(f"{m['name']}: median {measure.median(xs):.5g} {m['unit']}, spread {spread:.4f} (bound {m['bound']}) {verdict}")
    return 1 if bad else 0


if __name__ == "__main__":
    sys.exit(main())
