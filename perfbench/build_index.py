"""Build the serving workloads' index in a JVM of its own, so the JVM
that serves it never built it.

    python3 perfbench/build_index.py --seed S --turns N --out DIR --result F [--trace]

Generates the seeded corpus, builds its index under DIR/index, checks
the build against the recount and writes the checks and the spans to F.
"""

from __future__ import annotations

import argparse
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import engine  # noqa: E402
import gen  # noqa: E402
from spans import Tracer  # noqa: E402


def do_build(args, tr: Tracer) -> dict:
    corpus = gen.generate(args.seed, args.turns)
    os.makedirs(args.out, exist_ok=True)
    path = os.path.join(args.out, "corpus.parquet")
    corpus.write(path)
    spark = engine.start_session(tr, "perfbench-prepare", phase="prep")
    try:
        built = engine.build(tr, spark, path, os.path.join(args.out, "index"),
                             op=0, phase="prep")
    finally:
        engine.stop(spark)
    errors = (engine.check_build(built, corpus.stats())
              + engine.check_term_stats(os.path.join(args.out, "index"), corpus))
    return {"errors": errors, "stages": built["stages"]}


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--turns", type=int, required=True)
    ap.add_argument("--out", required=True)
    ap.add_argument("--result", required=True)
    ap.add_argument("--trace", action="store_true")
    args = ap.parse_args()
    engine.setup_env()
    tr = Tracer(args.trace)
    out = do_build(args, tr)
    out["spans"] = tr.spans
    engine.write_json(args.result, out)


if __name__ == "__main__":
    main()
