"""Measurement plumbing: spans around the benchmark's calls into each
layer, a /proc RSS sampler for the driver's process tree, and a harvest
of Spark's own per-stage metrics from the local REST status endpoint."""

from __future__ import annotations

import json
import os
import threading
import time
import urllib.request
from contextlib import contextmanager

class Tracer:
    """In-memory span recorder.  Disabled, ``span`` only yields, so the
    untraced run pays one context-manager entry per call.

    Enabled, every span records (name, start, end, parent, job) and sets
    its own Spark job group, so the Spark jobs a span submits can be
    attributed to it after the run."""

    def __init__(self, enabled: bool, sc=None):
        self.enabled = enabled
        self.sc = sc
        self.spans: list[dict] = []
        self.counts: dict[str, float] = {}
        self.job = None
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        rec = {"id": idx, "name": name, "job": self.job,
               "parent": self._stack[-1] if self._stack else None,
               "group": f"pb-{self.job}-{idx}"}
        self.spans.append(rec)
        self._stack.append(idx)
        if self.sc is not None:
            self.sc.setJobGroup(rec["group"], name)
        rec["start"] = time.monotonic()
        try:
            yield
        finally:
            rec["end"] = time.monotonic()
            self._stack.pop()
            if self.sc is not None:
                parent = self.spans[self._stack[-1]] if self._stack else None
                if parent is not None:
                    self.sc.setJobGroup(parent["group"], parent["name"])

    def count(self, name: str, value: float) -> None:
        if self.enabled:
            self.counts[name] = self.counts.get(name, 0.0) + float(value)

    def seconds(self, name: str) -> float:
        """Total wall time of spans with this exact name."""
        return sum(s["end"] - s["start"] for s in self.spans
                   if s["name"] == name and "end" in s)

    def self_times(self) -> dict[str, float]:
        """Per span name: total duration minus the time its children
        cover (children never overlap: one caller, one thread)."""
        child = [0.0] * len(self.spans)
        for s in self.spans:
            if s["parent"] is not None and "end" in s:
                child[s["parent"]] += s["end"] - s["start"]
        out: dict[str, float] = {}
        for s in self.spans:
            if "end" in s:
                d = s["end"] - s["start"] - child[s["id"]]
                out[s["name"]] = out.get(s["name"], 0.0) + d
        return out

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump({"spans": self.spans, "counts": self.counts}, f)


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        # the command name may hold spaces: fields after the last ')'
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def tree_pids(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def tree_rss_bytes(root: int) -> int:
    page = os.sysconf("SC_PAGE_SIZE")
    total = 0
    for p in tree_pids(root):
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * page
        except OSError:
            continue
    return total


class RssSampler:
    """Peak RSS of this process plus every descendant (the JVM, the
    Python worker daemon and its workers), sampled every ``period``."""

    def __init__(self, period: float = 0.1):
        self.period = period
        self.peak = 0
        self._stop = threading.Event()
        self._th = threading.Thread(target=self._run, daemon=True)

    def _run(self):
        root = os.getpid()
        while not self._stop.is_set():
            self.peak = max(self.peak, tree_rss_bytes(root))
            self._stop.wait(self.period)

    def __enter__(self):
        self._th.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._th.join()
        self.peak = max(self.peak, tree_rss_bytes(os.getpid()))


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)


def spark_stage_metrics(sc, groups: set[str], settle_s: float = 10.0):
    """Per-stage executor metrics of every Spark job whose job group is
    in ``groups``, read from the driver's REST status endpoint.

    Returns (jobs, stages): the job records and the stage records that
    ran (skipped stages excluded).  The status store is fed by an
    asynchronous listener, so this polls until no job of ``groups`` is
    still running (or ``settle_s`` passes)."""
    base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"
    deadline = time.monotonic() + settle_s
    while True:
        jobs = [j for j in _get(f"{base}/jobs") if j.get("jobGroup") in groups]
        if all(j["status"] != "RUNNING" for j in jobs) or (
            time.monotonic() > deadline
        ):
            break
        time.sleep(0.2)
    group_of = {sid: j["jobGroup"] for j in jobs for sid in j["stageIds"]}
    stages = [
        dict(s, group=group_of[s["stageId"]])
        for s in _get(f"{base}/stages?withSummaries=true&quantiles=0.5,1.0")
        if s["stageId"] in group_of and s["status"] in ("COMPLETE", "FAILED")
    ]
    return jobs, stages


def summarize_stages(jobs: list, stages: list) -> dict[str, float]:
    """Totals of Spark's own stage metrics plus the median task skew
    (slowest task / median task) over stages with more than one task."""
    skews = []
    for s in stages:
        q = (s.get("taskMetricsDistributions") or {}).get("executorRunTime")
        if s["numCompleteTasks"] > 1 and q and q[0] > 0:
            skews.append(q[1] / q[0])
    skews.sort()
    return {
        "jobs": len(jobs),
        "stages": len(stages),
        "tasks": sum(s["numCompleteTasks"] for s in stages),
        "executor_run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
        "executor_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
        "shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in stages),
        "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
        "spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"]
                           for s in stages),
        "gc_s": sum(s.get("jvmGcTime", 0) for s in stages) / 1e3,
        "task_skew": skews[len(skews) // 2] if skews else 1.0,
        "failed_tasks": sum(s["numFailedTasks"] for s in stages),
    }
