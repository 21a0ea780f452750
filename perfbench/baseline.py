#!/usr/bin/env python3
"""Run the benchmark on several seeds and summarise every sample.

    python3 perfbench/baseline.py --seeds 1-10 [--traced 2] [--out perfbench/baseline.json]

Runs BENCHMARK.json's command once per workload and seed (untraced),
then ``--traced`` traced runs per workload, one after another, from the
repository root. For each workload and end-to-end metric it reports the
ten values, their median and quartiles, and the quartile spread as a
share of the median next to the metric's bound. It also pools the
per-query samples of all runs to give each workload's tails, and takes
tracing overhead as the traced minus the untraced median operation
time. Every sample is kept in the output file.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import tail  # noqa: E402


def seeds_of(spec: str) -> list[int]:
    lo, _, hi = spec.partition("-")
    return list(range(int(lo), int(hi or lo) + 1))


def run_once(bench: dict, workload: str, seed: int, trace: int) -> dict:
    cmd = bench["command"] + ["--workload", workload, "--seed", str(seed),
                              "--seconds", str(bench["run_seconds"]),
                              "--trace", str(trace)]
    t0 = time.time()
    p = subprocess.run(cmd, cwd=ROOT, capture_output=True, text=True,
                       timeout=900)
    wall = time.time() - t0
    lines = p.stdout.strip().splitlines()
    if p.returncode or len(lines) < 2:
        sys.stderr.write(p.stderr[-4000:])
        raise SystemExit(f"{workload} seed {seed} trace {trace}: exit "
                         f"{p.returncode}")
    result = json.loads(lines[-1])
    report = json.loads(lines[-2].removeprefix("REPORT "))
    print(f"{workload} seed={seed} trace={trace} wall={wall:.1f}s "
          f"correct={result['correct']} "
          + " ".join(f"{k}={v['value']:.4g}" for k, v in
                     result["metrics"].items() if trace == 0),
          flush=True)
    return {"seed": seed, "trace": trace, "wall_s": wall, "result": result,
            "report": report}


def spread(values: list[float]) -> dict:
    q1, q2, q3 = statistics.quantiles(values, n=4)
    med = statistics.median(values)
    return {"values": values, "median": med, "q1": q1, "q3": q3,
            "iqr_over_median": (q3 - q1) / med if med else None}


def summarise(bench: dict, runs: dict[str, list[dict]]) -> dict:
    bounds = {m["name"]: m["bound"] for m in bench["end_to_end"]}
    out = {}
    for w, rs in runs.items():
        plain = [r for r in rs if r["trace"] == 0]
        traced = [r for r in rs if r["trace"] == 1]
        e2e = {}
        for name, bound in bounds.items():
            s = spread([r["result"]["metrics"][name]["value"] for r in plain])
            s["bound"] = bound
            e2e[name] = s
        pooled = {}
        for key in ("first_op_ms", "op_ms", "maxscore_query_ms",
                    "build_turns_per_s"):
            vals = [v for r in plain for v in r["report"]["samples"].get(key, [])]
            if vals:
                pooled[key] = {"p50": statistics.median(vals),
                               "tail": tail(vals), "n": len(vals)}
        summary = {"end_to_end": e2e, "pooled": pooled,
                   "failed_ops_frac": sum(r["result"]["failed"] for r in rs)
                   / sum(r["result"]["attempted"] for r in rs),
                   "wall_s": [r["wall_s"] for r in rs]}
        if traced:
            traced_op = statistics.median(
                v for r in traced for v in r["report"]["samples"].get(
                    "op_ms", r["report"]["samples"]["first_op_ms"]))
            summary["tracing_overhead_ms"] = (
                traced_op - e2e["op_ms_p50"]["median"])
            summary["layers"] = {
                name: [r["result"]["metrics"][name]["value"] for r in traced]
                for name in traced[0]["result"]["metrics"]}
        out[w] = summary
    return out


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--traced", type=int, default=2)
    ap.add_argument("--workloads", default="")
    ap.add_argument("--out", default=os.path.join(HERE, "baseline.json"))
    args = ap.parse_args()
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    names = (args.workloads.split(",") if args.workloads
             else [w["name"] for w in bench["workloads"]])
    seeds = seeds_of(args.seeds)
    runs: dict[str, list[dict]] = {w: [] for w in names}
    for w in names:
        for s in seeds:
            runs[w].append(run_once(bench, w, s, 0))
        for s in seeds[:args.traced]:
            runs[w].append(run_once(bench, w, s, 1))
    summary = summarise(bench, runs)
    for w, s in summary.items():
        for name, m in s["end_to_end"].items():
            print(f"{w:18s} {name:12s} median={m['median']:.4g} "
                  f"spread={m['iqr_over_median']:.3f} bound={m['bound']}")
    with open(args.out, "w") as f:
        json.dump({"command": bench["command"],
                   "run_seconds": bench["run_seconds"],
                   "seeds": seeds, "summary": summary, "runs": runs},
                  f, indent=1)
        f.write("\n")


if __name__ == "__main__":
    main()
