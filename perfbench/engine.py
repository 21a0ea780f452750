"""The benchmark's calls into the engine, each inside a trace span, and
the checks on what they return.

The engine is reached only through its public entry points, the way
``build.py --input`` and ``query.py`` reach it: ``sources.transcripts``,
``operators.docids``, ``plans.build_driver``, ``operators.query`` and
``operators.wand``.
"""

from __future__ import annotations

import json
import os
import sys
import tempfile
from collections import defaultdict

from spans import Tracer

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORK = os.path.join(ROOT, ".perfbench_work")

# build stages in commit order, and the span each one is reported as
STAGE_SPANS = {"doc_map": "docids.doc_map",
               "term_counts": "tokenize.term_counts",
               "doc_stats": "index_build.doc_stats",
               "term_stats": "index_build.term_stats",
               "index": "index_build.index"}


def setup_env() -> int:
    """Run conditions: ``local[nproc]`` (the session would otherwise
    default to 32 threads), and Spark, JVM and Python scratch files kept
    inside the checkout. Returns nproc."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(WORK, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(WORK, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (f"-Djava.io.tmpdir={tmp} "
                                       "-XX:-UsePerfData")
    tempfile.tempdir = None
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)
    return cpus


def start_session(tr: Tracer, app: str, phase: str = "setup"):
    from search_engine_spark.session import get_spark
    with tr.span("session.start", phase=phase):
        spark = get_spark(app=app)
        spark.sparkContext.setLogLevel("ERROR")
    tr.attach(spark.sparkContext)
    return spark


def session_conf(spark) -> dict:
    """The run conditions the session was started with."""
    conf = spark.sparkContext.getConf()
    return {k: conf.get(k, None) for k in
            ("spark.master", "spark.driver.memory", "spark.speculation",
             "spark.sql.shuffle.partitions")}


def stop(spark, timeout_s: float = 60.0) -> None:
    """Stop the session, then the JVM behind it, and wait until every
    process this one started (the JVM and its Python workers) is gone."""
    import time

    from pyspark import SparkContext

    from spans import descendants
    spark.stop()
    gateway = SparkContext._gateway
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()  # the JVM exits when this pipe closes
        gateway.proc.wait(timeout=timeout_s)
        SparkContext._gateway = None
        SparkContext._jvm = None
    deadline = time.time() + timeout_s
    while descendants() and time.time() < deadline:
        time.sleep(0.1)


def build(tr: Tracer, spark, corpus_path: str, out: str, op: int,
          phase: str) -> dict:
    """One checkpointed build from scratch; returns the build's meta,
    the index marker's df/cf totals and the program's stage log."""
    from search_engine_spark.operators.docids import mint_doc_ids
    from search_engine_spark.plans.build_driver import build_index_checkpointed
    from search_engine_spark.sources.transcripts import read_transcripts
    with tr.span("docids.mint", op, phase=phase):
        tw = mint_doc_ids(read_transcripts(spark, corpus_path))
    with tr.span("build_driver.build", op, phase=phase) as rec:
        res = build_index_checkpointed(spark, tw, out, resume=False)
    stages = {m["stage"]: m for m in res.metrics if m.get("status") == "built"}
    if rec is not None:
        marks = [(s, os.path.getmtime(os.path.join(out, s, "_DONE.json")))
                 for s in STAGE_SPANS]
        tr.split_by_markers(rec, marks, STAGE_SPANS)
        for span in tr.spans:
            if span.get("parent") == rec["id"] and span.get("split"):
                stage = next(s for s, n in STAGE_SPANS.items()
                             if n == span["name"])
                span["phase"] = phase
                span["program_duration_s"] = stages[stage]["duration_s"]
                span["rows"] = stages[stage]["rows"]
    return {"meta": res.meta, "index": stages["index"],
            "stages": {s: {"duration_s": m["duration_s"], "rows": m["rows"]}
                       for s, m in stages.items() if "rows" in m}}


def index_bytes(out: str, stage: str = "index") -> int:
    total = 0
    for root, _, files in os.walk(os.path.join(out, stage)):
        total += sum(os.path.getsize(os.path.join(root, f))
                     for f in files if f.endswith(".parquet"))
    return total


def open_(tr: Tracer, spark, path: str):
    from search_engine_spark.plans.build_driver import open_index
    with tr.span("build_driver.open_index", phase="setup"):
        return open_index(spark, path)


def prune(tr: Tracer, spark, ix, queries, op: int, phase: str):
    from search_engine_spark.operators.query import query_terms_df
    with tr.span("build_driver.prune", op, phase=phase):
        qt = query_terms_df(spark, queries)
        return qt, ix.postings_blocked(qt)


def auto_plan(tr: Tracer, ix, qt, blocked, k: int, op: int, phase: str):
    """topk_auto's plan; below its pruning threshold it runs no job."""
    from search_engine_spark.operators.wand import topk_auto
    with tr.span("query.plan", op, phase=phase):
        return topk_auto(blocked, qt, ix.n_docs, ix.avgdl, k=k,
                         salt_buckets=ix.salt_buckets)


def auto_topk(tr: Tracer, ix, qt, blocked, k: int, op: int, phase: str):
    """topk_auto, planned then collected: (result DataFrame, rows)."""
    res = auto_plan(tr, ix, qt, blocked, k, op, phase)
    with tr.span("query.exec", op, phase=phase):
        return res, res.collect()


def maxscore_topk(tr: Tracer, ix, qt, blocked, k: int, op: int, phase: str):
    """wand_topk_maxscore: the call runs the θ and bound passes eagerly,
    the collect runs the scoring."""
    from search_engine_spark.operators.wand import wand_topk_maxscore
    with tr.span("wand.plan", op, phase=phase):
        res = wand_topk_maxscore(blocked, qt, ix.n_docs, ix.avgdl, k=k,
                                 salt_buckets=ix.salt_buckets)
    with tr.span("wand.exec", op, phase=phase):
        return res.collect()


def export(tr: Tracer, res, op: int, phase: str) -> list[str]:
    """TREC run lines of a top-k result. On a result that was not
    collected before, this collect is what executes the scoring."""
    from search_engine_spark.operators.query import trec_export
    with tr.span("query.export", op, phase=phase):
        return [r.line for r in trec_export(res).collect()]


# -- checks ----------------------------------------------------------


def ranked(rows) -> dict[str, list[tuple[int, int, str]]]:
    """qid -> [(rank, doc_id, score at 6 dp)] in rank order."""
    out = defaultdict(list)
    for r in rows:
        out[r.qid].append((int(r["rank"]), int(r.doc_id), f"{r.score:.6f}"))
    return {q: sorted(v) for q, v in out.items()}


def ranked_lines(lines: list[str]) -> dict[str, list[tuple[int, int, str]]]:
    out = defaultdict(list)
    for line in lines:
        qid, _, doc, rank, score, _ = line.split(" ")
        out[qid].append((int(rank), int(doc), score))
    return {q: sorted(v) for q, v in out.items()}


def oracle_ranked(oracle, title: str, k: int) -> list[tuple[int, int, str]]:
    return [(rank, doc, f"{score:.6f}")
            for doc, rank, score in oracle.bm25_topk(title, k)]


def check_build(built: dict, stats: dict) -> list[str]:
    """The build's meta and df/cf totals against the recount."""
    errs = []
    if int(built["meta"]["n_docs"]) != stats["n_docs"]:
        errs.append(f"n_docs {built['meta']['n_docs']} != {stats['n_docs']}")
    for key in ("sum_df", "sum_cf", "vocab"):
        if int(built["index"][key]) != stats[key]:
            errs.append(f"{key} {built['index'][key]} != {stats[key]}")
    return errs


def check_term_stats(out: str, corpus) -> list[str]:
    """Every term's df and cf in the committed dictionary against the
    recount."""
    import pyarrow.parquet as pq
    st = corpus.stats()
    ts = pq.read_table(os.path.join(out, "term_stats"),
                       columns=["term", "df", "cf"]).to_pydict()
    got = {t: (d, c) for t, d, c in zip(ts["term"], ts["df"], ts["cf"])}
    want = {corpus.terms[i]: (int(st["df"][i]), int(st["cf"][i]))
            for i in range(len(corpus.terms)) if st["df"][i]}
    if got == want:
        return []
    bad = sorted(set(got.items()) ^ set(want.items()))[:3]
    return [f"term_stats differ from the recount, e.g. {bad}"]


def check_batch(got: dict, queries, oracle, k: int, sample: set[str]) -> list[str]:
    """Every qid present with ranks 1..n, n = min(k, matching docs),
    scores non-increasing; sampled qids equal the oracle exactly."""
    errs = []
    for qid, title in queries:
        rows = got.get(qid, [])
        terms = set(title.split())
        matching = set()
        for t in terms:
            matching.update(d for d, _ in oracle.postings.get(t, ()))
        n = min(k, len(matching))
        if [r[0] for r in rows] != list(range(1, n + 1)):
            errs.append(f"{qid}: ranks not 1..{n} ({len(rows)} rows)")
            continue
        scores = [float(r[2]) for r in rows]
        if any(a < b for a, b in zip(scores, scores[1:])):
            errs.append(f"{qid}: scores increase with rank")
        if qid in sample and rows != oracle_ranked(oracle, title, k):
            errs.append(f"{qid}: differs from the oracle")
    return errs


def write_json(path: str, obj) -> None:
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)
