"""Record the benchmark's steadiness and per-layer baseline.

    python3 perfbench/record.py steady [--runs 10] [--first-seed 1] [--workloads a,b]
    python3 perfbench/record.py layers [--seed 1] [--workloads a,b]

``steady`` runs every workload ``--runs`` times with consecutive seeds
(plain runs, ``run_seconds`` from BENCHMARK.json) and writes
``perfbench/steadiness.json`` (replacing only the workloads run): for
each end-to-end metric its values, median, quartiles and spread
(inter-quartile distance / median), the bound in BENCHMARK.json and the
bound the spread would justify (three times the spread), plus each
run's wall time and measured op wall times by op kind.

``layers`` makes one plain and then one traced run per workload with the
same seed and writes ``perfbench/baseline_layers.json``: the per-layer
metrics of the traced run and its tracing overhead (traced pass time /
the plain run's).  Both files record the core count.

Run from the repository root."""

from __future__ import annotations

import argparse
import json
import os
import platform
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

from perfbench import stats  # noqa: E402


def _bench() -> dict:
    with open("BENCHMARK.json") as f:
        return json.load(f)


def _run(workload: str, seed: int, seconds: int, trace: int) -> tuple[dict, float, dict]:
    """One run: (result line, wall seconds, {op kind: measured op walls})."""
    cmd = _bench()["command"] + ["--workload", workload, "--seed", str(seed),
                                 "--seconds", str(seconds), "--trace", str(trace)]
    t0 = time.perf_counter()
    p = subprocess.run(cmd, capture_output=True, text=True, timeout=900)
    wall = time.perf_counter() - t0
    lines = [line for line in p.stdout.splitlines() if line.strip()]
    if p.returncode != 0 or not lines:
        raise SystemExit(f"{workload} seed {seed}: exit {p.returncode}\n{p.stderr[-2000:]}")
    ops: dict[str, list[float]] = {}
    for line in p.stderr.splitlines():
        part = line.split()
        if len(part) == 4 and part[:2] == ["perfbench:", "measure"]:
            ops.setdefault(part[2], []).append(float(part[3].rstrip("s")))
    return json.loads(lines[-1]), wall, ops


def _host() -> dict:
    return {"cores": len(os.sched_getaffinity(0)), "machine": platform.machine(),
            "python": platform.python_version()}


def steady(args) -> None:
    b = _bench()
    bounds = {m["name"]: m["bound"] for m in b["end_to_end"]}
    path = os.path.join(HERE, "steadiness.json")
    try:  # keep the other workloads' records
        with open(path) as f:
            kept = json.load(f)["workloads"]
    except (OSError, ValueError, KeyError):
        kept = {}
    out = {"host": _host(), "run_seconds": b["run_seconds"], "runs": args.runs, "workloads": kept}
    for w in args.workloads:
        vals: dict[str, list[float]] = {}
        walls, op_walls, ok = [], [], True
        for i in range(args.runs):
            res, wall, ops = _run(w, args.first_seed + i, b["run_seconds"], 0)
            walls.append(wall)
            op_walls.append(ops)
            ok = ok and res["correct"]
            for k, m in res["metrics"].items():
                vals.setdefault(k, []).append(m["value"])
            print(f"{w} seed {args.first_seed + i}: {wall:.1f}s "
                  + " ".join(f"{k}={v[-1]:.4f}" for k, v in vals.items()), file=sys.stderr)
        metrics = {}
        for k, v in vals.items():
            q1, q2, q3 = stats.quartiles(v)
            metrics[k] = {"values": v, "median": q2, "q1": q1, "q3": q3,
                          "spread": (q3 - q1) / q2, "bound": bounds.get(k),
                          "bound_from_spread": 3 * (q3 - q1) / q2}
        out["workloads"][w] = {"all_correct": ok, "wall_s": walls,
                               "wall_median_s": statistics.median(walls), "metrics": metrics,
                               "op_walls_per_run": op_walls}
    with open(path, "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")


def layers(args) -> None:
    b = _bench()
    out = {"host": _host(), "run_seconds": b["run_seconds"], "seed": args.seed, "workloads": {}}
    for w in args.workloads:
        plain, _, _ = _run(w, args.seed, b["run_seconds"], 0)
        traced, _, _ = _run(w, args.seed, b["run_seconds"], 1)
        layer = {k: m["value"] for k, m in traced["metrics"].items()}
        out["workloads"][w] = {
            "correct": plain["correct"] and traced["correct"],
            "plain_end_to_end": {k: m["value"] for k, m in plain["metrics"].items()},
            "tracing_overhead_ratio": layer.get("tracing.overhead_ratio"),
            "per_layer": layer,
        }
    with open(os.path.join(HERE, "baseline_layers.json"), "w") as f:
        json.dump(out, f, indent=1)
        f.write("\n")


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("what", choices=("steady", "layers"))
    ap.add_argument("--runs", type=int, default=10)
    ap.add_argument("--first-seed", type=int, default=1)
    ap.add_argument("--seed", type=int, default=1)
    ap.add_argument("--workloads", default=None)
    args = ap.parse_args()
    args.workloads = (args.workloads.split(",") if args.workloads
                      else [w["name"] for w in _bench()["workloads"]])
    (steady if args.what == "steady" else layers)(args)


if __name__ == "__main__":
    main()
