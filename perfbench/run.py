"""Benchmark entry point.

    python3 perfbench/run.py --workload headline --seed 1 --seconds 20 --trace 0

Run from the repository root. Builds the workload's inputs from the
seed, runs it against the engine in this checkout, checks every answer
and prints each metric by name and unit, then one JSON line:
``{"correct", "attempted", "failed", "metrics"}`` with the end-to-end
metrics of ``BENCHMARK.json`` (``--trace 0``) or its per-layer metrics
(``--trace 1``, which also writes the spans under ``.perfbench_work``).
Exits 1 when an answer check fails, 2 when the run cannot start.
"""

from __future__ import annotations

import time

T0 = time.perf_counter()

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import sys  # noqa: E402
import traceback  # noqa: E402

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import harness  # noqa: E402
import layers  # noqa: E402
from stats import median, tail  # noqa: E402

WORKLOADS = ("headline", "logs_http")


def _module(name: str):
    if name == "headline":
        import w_headline

        return w_headline
    import w_logs_http

    return w_logs_http


def _end_to_end(res: dict) -> dict[str, tuple[float, str]]:
    lat = res["samples_ms"]
    return {
        "p50_ms": (median(lat), "ms"),
        "ops_per_s": (len(lat) / res["elapsed_s"], "1/s"),
        "cpu_ms_per_op": (1e3 * res["cpu_s"] / len(lat), "ms"),
        "read_mb_per_op": (res["read_bytes"] / 2**20 / len(lat), "MB"),
        "write_mb_per_op": (res["write_bytes"] / 2**20 / len(lat), "MB"),
        "setup_s": (res["setup_s"], "s"),
        "peak_mem_mb": (res["peak_mem_mb"], "MB"),
    }


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    run = harness.Run(args.workload, args.seed, args.seconds, bool(args.trace), T0)
    env = harness.pin_environment(run)
    try:
        import parseable_spark  # noqa: F401 — the program must be present
    except ImportError as e:
        print(f"perfbench: cannot import the engine: {e}", file=sys.stderr)
        harness.cleanup(run)
        return 2

    from spans import NullTracer, Tracer

    tracer = Tracer() if run.trace else NullTracer()
    try:
        res = _module(args.workload).run(run, tracer, run.trace)
    except Exception:  # noqa: BLE001 — a crashed run prints no result
        traceback.print_exc()
        harness.cleanup(run)
        return 2
    errors = res["errors"]
    e2e = _end_to_end(res)
    extra = dict(res["extra"])
    extra["error_rate"] = (len(errors) / res["attempted"], "ratio")
    t = tail(res["samples_ms"])
    if t is not None:
        extra["tail_ms"] = (t[0], f"ms p{t[1]:.0f}")

    record = {
        "workload": args.workload,
        "env": harness.environment(run, env, res["scale"]),
        "samples_ms": res["samples_ms"],
        "end_to_end": {k: v for k, (v, _) in e2e.items()},
        "extra": {k: v for k, (v, _) in extra.items()},
        "errors": errors,
        "phases": res["phases"],
    }
    print(f"# {args.workload}: " + json.dumps(record["env"], sort_keys=True))
    for name, (value, unit) in {**e2e, **extra}.items():
        print(f"{name:<28} {value:>14.4f} {unit}")
    print(f"{'samples':<28} {len(res['samples_ms']):>14d} count")
    for err in errors:
        print(f"CHECK FAILED: {err}")

    if run.trace:
        metrics = layers.report(res["layers"], tracer)
        record["layers"] = metrics
        summary = res.get("spans") or tracer.summary()
        record["spans"] = summary
        for name, row in sorted(summary.items()):
            print(
                f"span {name:<44} n={row['count']:<5} total={row['total_ms']:.1f}ms "
                f"self={row['self_ms']:.1f}ms"
            )
        if tracer.spans:  # logs_http's spans live in, and are written by, its server
            tracer.dump(os.path.join(harness.WORK, "traces", f"{args.workload}-s{args.seed}.json"))
    else:
        with open(harness.ROOT / "BENCHMARK.json") as f:
            declared = [m["name"] for m in json.load(f)["end_to_end"]]
        metrics = {k: {"value": e2e[k][0], "unit": e2e[k][1]} for k in declared}

    os.makedirs(os.path.join(harness.WORK, "records"), exist_ok=True)
    rec_path = os.path.join(
        harness.WORK, "records", f"{args.workload}-s{args.seed}-t{args.trace}.json"
    )
    with open(rec_path, "w") as f:
        json.dump(record, f)
    harness.cleanup(run)
    result = {
        "correct": not errors,
        "attempted": res["attempted"],
        "failed": len(errors),
        "metrics": metrics,
    }
    print(json.dumps(result))
    return 0 if not errors else 1


if __name__ == "__main__":
    sys.exit(main())
