#!/usr/bin/env python3
"""Benchmark of the transcript search engine on one host.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (see perfbench/README.md for why each exists):

- ``build``: one checkpointed index build of a seeded corpus, in a
  fresh JVM (the write path).
- ``serve_interactive``: k=10 titles one at a time through
  ``topk_auto``, and the run's last title also through
  ``wand_topk_maxscore``, from an index another JVM built (per-query
  fixed cost).
- ``serve_batch``: 300-topic TREC batches at k=1000 through
  ``topk_auto`` and ``trec_export`` (scan, decode and score).

Each run starts one Spark session, performs the workload's operations
in a closed loop with one client, checks every result, and prints a
``REPORT`` line with every metric and then, as its last line, the JSON
result: the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``. Spans and samples are written to
``.perfbench_work/results/``.
"""

from __future__ import annotations

import argparse
import fcntl
import hashlib
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
import traceback

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, HERE)

import engine  # noqa: E402
import gen  # noqa: E402
from spans import COUNTERS, RssSampler, Tracer  # noqa: E402

# Corpus sizes. The serving corpus is generated from a fixed seed so a
# checkout builds its index once; the run seed draws the queries.
SCALES = {
    "full": {"build_turns": 20_000, "serve_turns": 20_000,
             "batch_topics": 300, "min_titles": 5},
    "tiny": {"build_turns": 1_500, "serve_turns": 1_500,
             "batch_topics": 20, "min_titles": 1},
}
SERVE_SEED = 0
K_INTERACTIVE = 10
K_BATCH = 1000
ORACLE_SAMPLE = 4          # batch qids checked against the oracle
CHILD_TIMEOUT_S = 600

LAYER_SPANS = ("session.start", "docids.mint", "docids.doc_map",
               "tokenize.term_counts", "index_build.doc_stats",
               "index_build.term_stats", "index_build.index",
               "build_driver.open_index", "build_driver.prune",
               "query.plan", "query.exec", "query.export",
               "wand.plan", "wand.exec")
# spans whose calls never run a Spark job get no counters
NO_JOBS = {"session.start"}
# which spans of a run a layer metric is taken from, most preferred
# first: the timed operations, then the cold first one, then the run's
# MaxScore title, then checks and input preparation for layers the
# operations do not reach
PHASES = ("op", "first", "maxscore", "check", "prep", "setup")


class Run:
    def __init__(self, args, scale: dict):
        self.args = args
        self.scale = scale
        self.tr = Tracer(bool(args.trace))
        self.samples: dict[str, list[float]] = {}
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.report: dict = {}
        self.extra_spans: list[dict] = []
        self.handle = None  # (spark, index handle) while serving
        self.conf: dict = {}

    def sample(self, name: str, value: float) -> None:
        self.samples.setdefault(name, []).append(value)

    def op_result(self, errs: list[str]) -> None:
        self.attempted += 1
        if errs:
            self.failed += 1
            self.errors += errs[:5]

    def run_op(self, fn, i: int, phase: str) -> float:
        """One operation. ``fn(i, phase)`` returns its timed milliseconds
        and a check, which runs after the clock has stopped. An exception
        counts as a failed operation, timed up to the failure."""
        t0 = time.perf_counter()
        try:
            ms, check = fn(i, phase)
            self.op_result(check())
        except Exception:  # noqa: BLE001 - a failed op is a result, not a crash
            traceback.print_exc()
            ms = (time.perf_counter() - t0) * 1000
            self.op_result(["exception: " + traceback.format_exc(limit=1)])
        return ms

    def timed_loop(self, op_fn, min_ops: int | None) -> None:
        """The cold first operation, then warm ones until --seconds have
        passed since the first began (and at least ``min_ops`` warm).
        ``min_ops=None`` times the cold operation alone, so that every
        run measures the same thing however fast the host is."""
        start = time.perf_counter()
        self.sample("first_op_ms", self.run_op(op_fn, 0, "first"))
        i = 1
        while min_ops is not None and (
                i <= min_ops or time.perf_counter() - start < self.args.seconds):
            self.sample("op_ms", self.run_op(op_fn, i, "op"))
            i += 1


# -- workloads -------------------------------------------------------


def serve_index(run: Run) -> str:
    """Index of the serving corpus, built by a child JVM. Untraced runs
    reuse one per checkout, keyed by the sources that shape it (the
    engine, the generator, the build calls); a traced run builds its
    own, so the write path is traced too."""
    turns = run.scale["serve_turns"]
    if run.args.trace:
        d = os.path.join(engine.WORK, "serve-traced")
        shutil.rmtree(d, ignore_errors=True)
    else:
        h = hashlib.sha256(f"{SERVE_SEED}/{turns}".encode())
        sources = [os.path.join(HERE, f)
                   for f in ("gen.py", "engine.py", "build_index.py")]
        for root, dirs, files in os.walk(
                os.path.join(engine.ROOT, "search_engine_spark")):
            dirs.sort()
            sources += [os.path.join(root, f) for f in sorted(files)
                        if f.endswith((".py", ".txt"))]
        for path in sources:
            with open(path, "rb") as fh:
                h.update(fh.read())
        d = os.path.join(engine.WORK, "serve-" + h.hexdigest()[:16])
        if os.path.exists(os.path.join(d, "READY")):
            return os.path.join(d, "index")
        for old in os.listdir(engine.WORK):
            if old.startswith("serve-") and old != os.path.basename(d):
                shutil.rmtree(os.path.join(engine.WORK, old))
        shutil.rmtree(d, ignore_errors=True)
    result = os.path.join(engine.WORK, "prep.json")
    subprocess.run([sys.executable, os.path.join(HERE, "build_index.py"),
                    "--seed", str(SERVE_SEED), "--turns", str(turns),
                    "--out", d, "--result", result]
                   + (["--trace"] if run.args.trace else []),
                   check=True, cwd=engine.ROOT, stdout=sys.stderr,
                   timeout=CHILD_TIMEOUT_S)
    with open(result) as f:
        out = json.load(f)
    run.extra_spans += out["spans"]  # the child's build spans
    if out["errors"]:
        raise RuntimeError(f"serving index failed its checks: {out['errors']}")
    if not run.args.trace:
        open(os.path.join(d, "READY"), "w").close()
    return os.path.join(d, "index")


def postings_of(build_dir: str) -> tuple[dict[str, int], dict[str, int]]:
    """term -> Σ n_postings over its blocks, and term -> term bucket,
    read from the committed index table."""
    import pyarrow.dataset as ds
    t = ds.dataset(os.path.join(build_dir, "index"), format="parquet",
                   partitioning="hive").to_table(
        columns=["term", "n_postings", "term_bucket"]).to_pydict()
    n, bucket = {}, {}
    for term, p, b in zip(t["term"], t["n_postings"], t["term_bucket"]):
        n[term] = n.get(term, 0) + p
        bucket[term] = b
    return n, bucket


def coverage(run: Run, spark, ix, titles, oracle) -> list[int]:
    """Traced runs only: serve ``titles`` at k=10 as one call through
    every serving layer (prune, topk_auto, MaxScore, TREC export), so
    each layer reports on every workload, and check the answers.
    Returns the rows the call returned."""
    tr, rows = run.tr, []

    def op(i: int, phase: str):
        t0 = time.perf_counter()
        qt, blocked = engine.prune(tr, spark, ix, titles, i, phase)
        res, auto = engine.auto_topk(tr, ix, qt, blocked, K_INTERACTIVE, i, phase)
        ms = engine.maxscore_topk(tr, ix, qt, blocked, K_INTERACTIVE, i, phase)
        lines = engine.export(tr, res, i, phase)
        rows.append(len(auto))

        def check() -> list[str]:
            got = engine.ranked(auto)
            errs = [f"{q}: MaxScore differs from topk_auto"
                    for q, v in engine.ranked(ms).items() if got.get(q) != v]
            if engine.ranked_lines(lines) != got:
                errs.append("TREC export differs from the collected top-k")
            return errs + [f"{q}: differs from the oracle" for q, title in titles
                           if got.get(q, []) != engine.oracle_ranked(
                               oracle, title, K_INTERACTIVE)]
        return (time.perf_counter() - t0) * 1000, check

    run.run_op(op, -1, "check")
    return rows


def serve_session(run: Run, index_dir: str, op, min_ops: int | None):
    """Set-up (session start and open_index, timed together) and the
    timed loop, under the RSS sampler. Returns (spark, index handle)."""
    with RssSampler() as rss:
        t0 = time.perf_counter()
        spark = engine.start_session(run.tr, "perfbench-serve")
        run.conf = engine.session_conf(spark)
        ix = engine.open_(run.tr, spark, index_dir)
        run.sample("setup_s", time.perf_counter() - t0)
        run.handle = (spark, ix)
        run.timed_loop(op, min_ops)
    run.report["peak_rss_mb"] = rss.peak_bytes / 2**20
    return spark, ix


def w_serve_interactive(run: Run) -> None:
    from tests.oracle import OracleIndex
    corpus = gen.generate(SERVE_SEED, run.scale["serve_turns"])
    index_dir = serve_index(run)
    titles = gen.query_titles(corpus, run.args.seed, 1000)
    oracle = OracleIndex(corpus.docs())
    tr = run.tr
    rows: list[int] = []
    last: dict = {}

    def op(i: int, phase: str):
        """One title through topk_auto, from the term-bucket prune to the
        collected top-k."""
        spark, ix = run.handle
        q = titles[i]
        t0 = time.perf_counter()
        qt, blocked = engine.prune(tr, spark, ix, [q], i, phase)
        t1 = time.perf_counter()
        res, auto = engine.auto_topk(tr, ix, qt, blocked, K_INTERACTIVE, i,
                                     phase)
        t2 = time.perf_counter()
        rows.append(len(auto))
        last.update(i=i, qt=qt, blocked=blocked, res=res, auto=auto,
                    prune_ms=(t1 - t0) * 1000)

        def check() -> list[str]:
            got = engine.ranked(auto).get(q[0], [])
            if got != engine.oracle_ranked(oracle, q[1], K_INTERACTIVE):
                return [f"{q[0]}: differs from the oracle"]
            return []
        return (t2 - t0) * 1000, check

    def maxscore(i: int, phase: str):
        """The last title again, through wand_topk_maxscore on the same
        pruned postings; its time counts the prune it shares."""
        _, ix = run.handle
        t0 = time.perf_counter()
        ms = engine.maxscore_topk(tr, ix, last["qt"], last["blocked"],
                                  K_INTERACTIVE, i, phase)
        run.sample("maxscore_query_ms",
                   (time.perf_counter() - t0) * 1000 + last["prune_ms"])

        def check() -> list[str]:
            if engine.ranked(ms) != engine.ranked(last["auto"]):
                return [f"{titles[i][0]}: MaxScore differs from topk_auto"]
            return []
        return 0.0, check

    spark, ix = serve_session(run, index_dir, op, run.scale["min_titles"])
    run.run_op(maxscore, last["i"], "maxscore")
    if run.args.trace:
        # the one serving layer the titles do not reach
        def export(i: int, phase: str):
            lines = engine.export(tr, last["res"], i, phase)
            same = engine.ranked_lines(lines) == engine.ranked(last["auto"])
            return 0.0, lambda: ([] if same else [
                "TREC export differs from the collected top-k"])
        run.run_op(export, last["i"], "check")
        layer_counts(run, index_dir, titles[:len(rows)], rows)
    engine.stop(spark)


def w_serve_batch(run: Run) -> None:
    from tests.oracle import OracleIndex
    corpus = gen.generate(SERVE_SEED, run.scale["serve_turns"])
    index_dir = serve_index(run)
    topics = gen.query_titles(corpus, run.args.seed,
                              run.scale["batch_topics"])
    sample = {q for q, _ in topics[:ORACLE_SAMPLE]}
    oracle = OracleIndex(corpus.docs())
    tr = run.tr
    rows: list[int] = []

    def op(i: int, phase: str):
        spark, ix = run.handle
        t0 = time.perf_counter()
        qt, blocked = engine.prune(tr, spark, ix, topics, i, phase)
        res = engine.auto_plan(tr, ix, qt, blocked, K_BATCH, i, phase)
        lines = engine.export(tr, res, i, phase)
        ms = (time.perf_counter() - t0) * 1000
        rows.append(len(lines))
        return ms, lambda: engine.check_batch(
            engine.ranked_lines(lines), topics, oracle, K_BATCH, sample)

    spark, ix = serve_session(run, index_dir, op, None)
    if run.args.trace:
        coverage(run, spark, ix, topics[:ORACLE_SAMPLE], oracle)
        layer_counts(run, index_dir, topics, rows[:1])
    engine.stop(spark)


def w_build(run: Run) -> None:
    corpus = gen.generate(run.args.seed, run.scale["build_turns"])
    path = os.path.join(engine.WORK, "build-corpus.parquet")
    corpus.write(path)
    stats = corpus.stats()
    text_bytes = corpus.text_bytes()
    tr = run.tr
    outs: list[str] = []

    def op(i: int, phase: str):
        out = os.path.join(engine.WORK, f"build-out-{i}")
        shutil.rmtree(out, ignore_errors=True)
        outs.append(out)
        t0 = time.perf_counter()
        built = engine.build(tr, spark, path, out, i, phase)
        s = time.perf_counter() - t0
        run.sample("build_turns_per_s", corpus.n_turns / s)
        run.report["stages"] = built["stages"]
        return s * 1000, lambda: (engine.check_build(built, stats)
                                  + engine.check_term_stats(out, corpus))

    with RssSampler() as rss:
        t0 = time.perf_counter()
        spark = engine.start_session(tr, "perfbench-build")
        run.sample("setup_s", time.perf_counter() - t0)
        run.conf = engine.session_conf(spark)
        run.timed_loop(op, None)
    run.report["peak_rss_mb"] = rss.peak_bytes / 2**20
    run.report["index_bytes_per_text_byte"] = (engine.index_bytes(outs[-1])
                                               / text_bytes)
    if run.args.trace:
        # serving layers, checked, in this JVM: a traced run only needs
        # them to report, not to time a cold serving process
        from tests.oracle import OracleIndex
        titles = gen.query_titles(corpus, run.args.seed, ORACLE_SAMPLE)
        ix = engine.open_(tr, spark, outs[-1])
        rows = coverage(run, spark, ix, titles, OracleIndex(corpus.docs()))
        layer_counts(run, outs[-1], titles, rows)
    engine.stop(spark)
    for out in outs:
        shutil.rmtree(out, ignore_errors=True)


WORKLOADS = {"build": w_build, "serve_interactive": w_serve_interactive,
             "serve_batch": w_serve_batch}


# -- metrics ---------------------------------------------------------


def tail(values: list[float]) -> dict | None:
    """The highest percentile with at least 10 samples beyond it."""
    n = len(values)
    if n < 11:
        return None
    v = sorted(values)
    return {"value": v[n - 11], "percentile": 100.0 * (n - 10) / n, "n": n}


def layer_counts(run: Run, build_dir: str, titles, rows_returned) -> None:
    """Counts the benchmark derives from the index table for the
    queries a run served: postings their terms touch per result row
    (the exhaustive arm reads every block of a query term), and the
    term buckets the prune keeps. ``rows_returned`` holds the rows of
    each call; a call serves all ``titles`` when it has one entry."""
    n_post, bucket = postings_of(build_dir)
    terms = [set(title.split()) for _, title in titles]
    if len(rows_returned) == 1:
        calls = [(set().union(*terms), sum(
            sum(n_post.get(t, 0) for t in ts) for ts in terms),
            rows_returned[0])]
    else:
        calls = [(ts, sum(n_post.get(t, 0) for t in ts), r)
                 for ts, r in zip(terms, rows_returned)]
    run.report["codec.postings_per_result"] = statistics.median(
        p / max(r, 1) for _, p, r in calls)
    run.report["build_driver.buckets_scanned"] = statistics.median(
        len({bucket[t] for t in ts if t in bucket}) for ts, _, _ in calls)
    run.report["codec.index_bytes"] = engine.index_bytes(build_dir)


def layer_metrics(run: Run) -> dict:
    spans = run.tr.spans + run.extra_spans
    out = {}
    for name in LAYER_SPANS:
        mine = [s for s in spans if s["name"] == name]
        for phase in PHASES:
            chosen = [s for s in mine if s.get("phase") == phase]
            if chosen:
                break
        else:
            chosen = []
        durs = [s.get("program_duration_s", s["dur_s"]) for s in chosen]
        out[f"{name}_s"] = (statistics.median(durs) if durs else 0.0, "s")
        if name not in NO_JOBS:
            for c in COUNTERS:
                if c == "tasks_useful":
                    continue
                unit = "B" if c.endswith("bytes") else "count"
                out[f"{name}.{c}"] = (statistics.median(
                    [s[c] for s in chosen]) if chosen else 0, unit)
    tasks = sum(s["tasks"] for s in spans)
    out["spark.useful_task_frac"] = (
        sum(s["tasks_useful"] for s in spans) / tasks if tasks else 1.0, "ratio")
    for key in ("codec.index_bytes", "codec.postings_per_result",
                "build_driver.buckets_scanned"):
        out[key] = (run.report.get(key, 0), "B" if key.endswith("bytes")
                    else "count")
    out["query.jobs_per_query"] = (jobs_per_query(spans, "query"), "count")
    out["wand.jobs_per_query"] = (jobs_per_query(spans, "wand"), "count")
    return out


def jobs_per_query(spans: list[dict], layer: str) -> float:
    """Median Spark jobs of one call through a strategy: the bucket
    prune plus the strategy's plan, collect and export spans of the same
    operation. Taken over the first operation of each df-band class, so
    the query mix is the same every run; checks count only where no
    timed operation reached the layer."""
    names = {"build_driver.prune", f"{layer}.plan", f"{layer}.exec",
             f"{layer}.export"}
    for phases in (("first", "op", "maxscore"), ("check",)):
        jobs: dict[int, int] = {}
        reached: set[int] = set()
        for s in spans:
            if s["name"] in names and s.get("phase") in phases:
                jobs[s["op"]] = jobs.get(s["op"], 0) + s["jobs"]
                if s["name"].startswith(layer + "."):
                    reached.add(s["op"])
        ops = [jobs[o] for o in sorted(reached)][:len(gen.QUERY_CLASSES)]
        if ops:
            return statistics.median(ops)
    return 0


def end_to_end(run: Run) -> dict:
    s = run.samples
    ops = s.get("op_ms") or s["first_op_ms"]
    return {"setup_s": (statistics.median(s["setup_s"]), "s"),
            "op_ms_p50": (statistics.median(ops), "ms")}


def full_report(run: Run, cpus: int) -> dict:
    """Every metric, named for the workload, with its unit."""
    s, w = run.samples, run.args.workload
    rep = {"workload": w, "seed": run.args.seed, "trace": run.args.trace,
           "attempted": run.attempted, "failed": run.failed,
           "failed_ops_frac": run.failed / max(run.attempted, 1),
           "errors": run.errors[:10],
           "conditions": {"nproc": cpus, **run.conf,
                          "host_mem_kb": _meminfo_kb()},
           "samples": s}

    def p50_tail(key: str, unit: str) -> dict:
        vals = s.get(key, [])
        return {"p50": statistics.median(vals) if vals else None,
                "tail": tail(vals), "n": len(vals), "unit": unit}

    if w == "build":
        rep["build_turns_per_s"] = p50_tail("build_turns_per_s", "turns/s")
        rep["index_bytes_per_text_byte"] = run.report.get("index_bytes_per_text_byte")
        rep["stages"] = run.report.get("stages")
    elif w == "serve_interactive":
        rep["first_query_ms"] = s["first_op_ms"][0]
        rep["auto_query_ms"] = p50_tail("op_ms", "ms")
        rep["maxscore_query_ms"] = p50_tail("maxscore_query_ms", "ms")
    else:
        rep["batch_queries_per_s"] = {
            "p50": run.scale["batch_topics"] * 1000 / statistics.median(
                s.get("op_ms") or s["first_op_ms"]), "unit": "queries/s"}
    rep["setup_s"] = s["setup_s"]
    rep["peak_rss_mb"] = run.report.get("peak_rss_mb")
    return rep


def _meminfo_kb() -> int:
    with open("/proc/meminfo") as f:
        return int(f.readline().split()[1])


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--scale", choices=sorted(SCALES), default="full",
                    help="tiny: a seconds-long self-check of this command")
    args = ap.parse_args()
    for need in ("search_engine_spark", os.path.join("tests", "oracle.py")):
        if not os.path.exists(os.path.join(engine.ROOT, need)):
            print(f"perfbench: {need} not found under {engine.ROOT}; run "
                  "from a checkout of the repository", file=sys.stderr)
            return 2
    cpus = engine.setup_env()
    run = Run(args, SCALES[args.scale])
    # one run at a time per checkout: runs share the work directory
    with open(os.path.join(engine.WORK, "lock"), "w") as lock:
        fcntl.flock(lock, fcntl.LOCK_EX)
        WORKLOADS[args.workload](run)
    rep = full_report(run, cpus)
    if args.trace:
        metrics = layer_metrics(run)
        rep["layers"] = {k: v for k, (v, _) in metrics.items()}
    else:
        metrics = end_to_end(run)
    os.makedirs(os.path.join(engine.WORK, "results"), exist_ok=True)
    engine.write_json(os.path.join(
        engine.WORK, "results",
        f"{args.workload}-seed{args.seed}-trace{args.trace}.json"),
        {"report": rep, "spans": run.tr.spans + run.extra_spans})
    print("REPORT " + json.dumps(rep, default=float))
    print(json.dumps({
        "correct": run.failed == 0, "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": float(v), "unit": u}
                    for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
