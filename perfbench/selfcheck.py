#!/usr/bin/env python3
"""Self-check of the benchmark command at tiny scale (a few minutes).

    python3 perfbench/selfcheck.py

Runs every workload (BENCHMARK.json's and ``serve_batch``) untraced and
traced on 1,500-turn corpora and checks that the last line of each run is the
result object: exactly the keys correct/attempted/failed/metrics, a
correct run, and exactly the end-to-end (untraced) or per-layer
(traced) metrics with their units. Then runs the command from a
directory that holds only BENCHMARK.json and the benchmark, where it
must fail without printing a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)

from run import WORKLOADS  # noqa: E402


def run(bench: dict, cwd: str, workload: str, trace: int,
        scale: str = "tiny") -> subprocess.CompletedProcess:
    cmd = bench["command"] + ["--workload", workload, "--seed", "1",
                              "--seconds", "1", "--trace", str(trace),
                              "--scale", scale]
    return subprocess.run(cmd, cwd=cwd, capture_output=True, text=True,
                          timeout=600)


def check_result(bench: dict, p: subprocess.CompletedProcess,
                 trace: int) -> list[str]:
    if p.returncode != 0:
        return [f"exit {p.returncode}: {p.stderr[-2000:]}"]
    res = json.loads(p.stdout.strip().splitlines()[-1])
    errs = []
    if set(res) != {"correct", "attempted", "failed", "metrics"}:
        errs.append(f"keys {sorted(res)}")
    if res["correct"] is not True or res["failed"] != 0 \
            or res["attempted"] < 1:
        errs.append(f"not a correct run: {res['correct']} "
                    f"{res['failed']}/{res['attempted']}")
    want = {m["name"]: m["unit"]
            for m in bench["per_layer" if trace else "end_to_end"]}
    got = {k: v["unit"] for k, v in res["metrics"].items()}
    if got != want:
        errs.append(f"metrics differ: missing {sorted(set(want) - set(got))}"
                    f", extra {sorted(set(got) - set(want))}")
    if not all(isinstance(v["value"], (int, float))
               for v in res["metrics"].values()):
        errs.append("a metric value is not a number")
    return errs


def main() -> int:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    failures = 0
    for w in sorted(WORKLOADS):
        for trace in (0, 1):
            errs = check_result(bench, run(bench, ROOT, w, trace), trace)
            print(f"{w} trace={trace}: {'ok' if not errs else errs}")
            failures += bool(errs)
    lonely = os.path.join(ROOT, ".perfbench_work", "lonely")
    shutil.rmtree(lonely, ignore_errors=True)
    os.makedirs(lonely)
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), lonely)
    for path in bench["paths"]:
        shutil.copytree(os.path.join(ROOT, path), os.path.join(lonely, path),
                        ignore=shutil.ignore_patterns("__pycache__"))
    p = run(bench, lonely, bench["workloads"][0]["name"], 0, scale="full")
    lonely_ok = p.returncode != 0 and not p.stdout.strip()
    print(f"without the engine: exit {p.returncode}, "
          f"{'no result' if not p.stdout.strip() else 'printed a result'}")
    shutil.rmtree(lonely)
    return 1 if failures or not lonely_ok else 0


if __name__ == "__main__":
    sys.exit(main())
