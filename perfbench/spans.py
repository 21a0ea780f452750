"""Spans around the benchmark's calls into the engine, with Spark
counters attached to each span, and a process-tree RSS sampler.

Each span runs its calls under a Spark job group of its own. When the
span closes, the listener bus is drained and the jobs of the group are
read from the status tracker; stage counters come from the JVM status
store, which is populated even with the UI disabled. Spark is lazy, so
a span's counters are those of the actions its call triggered: a call
that only plans (for example ``topk_auto``) gets no jobs, and the span
that collects the result gets all of them.

A disabled tracer times nothing and touches no job group, so untraced
runs pay nothing for it.
"""

from __future__ import annotations

import contextlib
import itertools
import os
import threading
import time

COUNTERS = ("jobs", "stages", "tasks", "shuffle_read_bytes",
            "shuffle_write_bytes", "spill_bytes", "tasks_failed",
            "tasks_speculative", "tasks_useful")


def _zero() -> dict:
    return dict.fromkeys(COUNTERS, 0)


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._stack: list[int] = []
        self._seen_stages: set[tuple[int, int]] = set()
        self.sc = None  # set once a SparkContext exists

    @contextlib.contextmanager
    def span(self, name: str, op: int | None = None, **attrs):
        """Time the block as span ``name``; ``op`` ties spans of one
        benchmark operation (a query, a batch, a build) together."""
        if not self.enabled:
            yield None
            return
        sid = next(self._ids)
        rec = {"id": sid, "name": name, "op": op,
               "parent": self._stack[-1] if self._stack else None, **attrs}
        group = f"perfbench-{sid}"
        if self.sc is not None:
            self.sc.setJobGroup(group, name, False)
        self._stack.append(sid)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["dur_s"] = rec["end"] - rec["start"]
            self._stack.pop()
            if self.sc is not None:
                rec["job_ids"] = self._job_ids(group)
                rec.update(self.counters(rec["job_ids"]))
                self.sc.setJobGroup(
                    f"perfbench-{self._stack[-1]}" if self._stack
                    else "perfbench-none", "", False)
            else:
                rec["job_ids"] = []
                rec.update(_zero())
            self.spans.append(rec)

    def attach(self, sc) -> None:
        self.sc = sc if self.enabled else None

    def _job_ids(self, group: str) -> list[int]:
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def counters(self, job_ids: list[int]) -> dict:
        """Sum stage counters over the jobs; a stage shared by two jobs
        (a reused shuffle) counts once, for the span that ran it."""
        out = _zero()
        out["jobs"] = len(job_ids)
        if not job_ids:
            return out
        sc = self.sc
        store = sc._jsc.sc().statusStore()
        jvm = sc._jvm
        no_quantiles = sc._gateway.new_array(jvm.double, 0)
        for jid in job_ids:
            info = sc.statusTracker().getJobInfo(jid)
            for stage_id in (info.stageIds if info else []):
                attempts = store.stageData(stage_id, False,
                                           jvm.java.util.ArrayList(), False,
                                           no_quantiles)
                for i in range(attempts.size()):
                    s = attempts.apply(i)
                    key = (stage_id, s.attemptId())
                    if s.status().toString() == "SKIPPED" \
                            or key in self._seen_stages:
                        continue
                    self._seen_stages.add(key)
                    out["stages"] += 1
                    out["tasks"] += (s.numCompleteTasks() + s.numFailedTasks()
                                     + s.numKilledTasks())
                    out["tasks_useful"] += s.numCompletedIndices()
                    out["tasks_failed"] += s.numFailedTasks()
                    spec = s.speculationSummary()
                    if spec.isDefined():
                        out["tasks_speculative"] += spec.get().numTasks()
                    out["shuffle_read_bytes"] += s.shuffleReadBytes()
                    out["shuffle_write_bytes"] += s.shuffleWriteBytes()
                    out["spill_bytes"] += s.diskBytesSpilled()
        return out

    def job_end_ms(self, job_ids: list[int]) -> dict[int, int]:
        """Completion time (epoch ms) of each finished job."""
        store = self.sc._jsc.sc().statusStore()
        out = {}
        for jid in job_ids:
            done = store.job(jid).completionTime()
            if done.isDefined():
                out[jid] = done.get().getTime()
        return out

    def split_by_markers(self, parent: dict, marks: list[tuple[str, float]],
                         names: dict[str, str]) -> None:
        """Split a build span into child spans at the program's own stage
        commits: a stage's jobs are those that finished after the
        previous stage's _DONE.json was written and no later than its
        own. ``marks`` is [(stage, marker mtime)] in commit order;
        ``names`` maps stage to span name. Durations are the wall time
        between commits, so they include the non-commit jobs that run
        between two stages (the n_docs count and the df/cf sums before
        ``index``)."""
        if not self.enabled:
            return
        ends = self.job_end_ms(parent["job_ids"]) if self.sc else {}
        prev = parent["start"]
        for stage, t in marks:
            jobs = [j for j, e in ends.items() if prev * 1000 < e <= t * 1000]
            rec = {"id": next(self._ids), "name": names[stage],
                   "op": parent["op"], "parent": parent["id"],
                   "start": prev, "end": t, "dur_s": t - prev,
                   "job_ids": sorted(jobs), "split": "stage_commit",
                   **_zero()}
            rec["jobs"] = len(jobs)
            self.spans.append(rec)
            prev = t
        # the stage counters were taken once for the parent span; give
        # each child the stages of its own jobs by re-reading them
        # against a fresh seen-set
        seen, self._seen_stages = self._seen_stages, set()
        try:
            for rec in self.spans:
                if rec.get("parent") == parent["id"] and rec.get("split"):
                    rec.update(self.counters(rec["job_ids"]))
        finally:
            self._seen_stages = seen


class RssSampler:
    """Peak summed RSS of this process and all its descendants (the
    driver JVM and the Python workers), sampled from /proc."""

    def __init__(self, period_s: float = 0.1):
        self.period_s = period_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def _run(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    def sample(self) -> None:
        rss = {}
        page = self._page
        for pid in descendants(include_self=True):
            try:
                with open(f"/proc/{pid}/statm") as f:
                    rss[pid] = int(f.read().split()[1]) * page
            except (OSError, ValueError, IndexError):
                continue  # the process ended while we read it
        self.peak_bytes = max(self.peak_bytes, sum(rss.values()))


def descendants(include_self: bool = False) -> set[int]:
    """Pids of this process's descendants, from /proc."""
    parents: dict[int, int] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        parents[int(d)] = int(stat.rsplit(")", 1)[1].split()[1])
    me = os.getpid()
    tree = {me}
    grew = True
    while grew:
        kids = {p for p, pp in parents.items() if pp in tree} - tree
        grew = bool(kids)
        tree |= kids
    return tree if include_self else tree - {me}
