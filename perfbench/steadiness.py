"""Run the benchmark over several seeds and summarise its steadiness.

    python3 perfbench/steadiness.py --workload headline --seeds 1-10 [--trace 0]

Runs ``run.py`` once per seed from the repository root, keeps each
run's record (``.perfbench_work/records``), each measuring
``run_seconds`` of ``BENCHMARK.json``, and prints, per metric, the
median, the quartiles and the spread ``(q3 - q1) / median`` that the
benchmark's bounds are judged against. ``--out FILE`` also writes the
runs and the summary as JSON.
"""

from __future__ import annotations

import argparse
import json
import os
import subprocess
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from harness import ROOT, WORK  # noqa: E402
from stats import spread  # noqa: E402


def seeds(text: str) -> list[int]:
    out: list[int] = []
    for part in text.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def summarise(runs: list[dict]) -> dict[str, dict[str, float]]:
    values: dict[str, list[float]] = {}
    for r in runs:
        for k, v in {**r["end_to_end"], **r["extra"]}.items():
            values.setdefault(k, []).append(v)
    out = {}
    for k, xs in values.items():
        if len(xs) >= 2:
            q1, q2, q3, sp = spread(xs)
            out[k] = {"n": len(xs), "q1": q1, "median": q2, "q3": q3, "spread": sp}
    return out


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--out")
    args = ap.parse_args()
    with open(ROOT / "BENCHMARK.json") as f:
        seconds = json.load(f)["run_seconds"]
    runs = []
    for seed in seeds(args.seeds):
        t0 = time.perf_counter()
        proc = subprocess.run(
            [sys.executable, "perfbench/run.py", "--workload", args.workload, "--seed", str(seed),
             "--seconds", str(seconds), "--trace", str(args.trace)],
            cwd=ROOT, capture_output=True, text=True,
        )
        wall = time.perf_counter() - t0
        last = (proc.stdout.strip().splitlines() or [""])[-1]
        print(f"seed {seed}: exit {proc.returncode} wall {wall:.1f}s {last[:160]}", flush=True)
        if proc.returncode != 0:
            print(proc.stdout[-2000:], proc.stderr[-2000:], file=sys.stderr)
            return 1
        rec_path = WORK / "records" / f"{args.workload}-s{seed}-t{args.trace}.json"
        with open(rec_path) as f:
            rec = json.load(f)
        rec["wall_s"] = wall
        runs.append(rec)
    summary = summarise(runs)
    for k, row in summary.items():
        print(
            f"{k:<24} median {row['median']:>12.4f}  q1 {row['q1']:>12.4f}  "
            f"q3 {row['q3']:>12.4f}  spread {row['spread']:.3f}"
        )
    print(f"{'wall_s':<24} total {sum(r['wall_s'] for r in runs):.1f}")
    if args.out:
        with open(args.out, "w") as f:
            json.dump({"workload": args.workload, "runs": runs, "summary": summary}, f, indent=1)
    return 0


if __name__ == "__main__":
    sys.exit(main())
