"""Layer spans around the engine's public calls, and the event-log parser
that folds a traced run into per-layer metrics.

A span is recorded for every call the benchmark makes into an engine layer,
traced or not: the untraced run needs the same wall clocks for its
end-to-end metrics. In a traced run each span also sets its own Spark job
group, so every job in the event log can be charged to exactly one span.
Spans nest (a checkpoint write happens inside a PageRank call); a layer's
``wall_s`` is the self time of its spans, so the layers add up to the
repetition's wall time. Spans stay in memory until the run ends.
"""

from __future__ import annotations

import glob
import json
import os
import time
from contextlib import contextmanager
from dataclasses import dataclass

LAYER_METRICS = (
    "wall_s",
    "task_cpu_s",
    "python_worker_s",
    "shuffle_write_mb",
    "shuffle_records",
    "spill_mb",
    "jobs",
    "sched_gap_s",
)


@dataclass
class Span:
    sid: int
    layer: str
    rep: int
    parent: int | None
    start: float  # epoch seconds, the event log's clock
    end: float = 0.0
    child_s: float = 0.0

    @property
    def self_s(self) -> float:
        return self.end - self.start - self.child_s


class Tracer:
    """Records spans; with a SparkContext it also tags jobs by span."""

    def __init__(self, sc=None):
        self.sc = sc
        self.spans: list[Span] = []
        self._stack: list[Span] = []
        self.rep = -1

    def _tag(self, span: Span | None) -> None:
        if self.sc is None:
            return
        if span is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"span-{span.sid}", span.layer)

    @contextmanager
    def span(self, layer: str):
        parent = self._stack[-1] if self._stack else None
        s = Span(
            sid=len(self.spans),
            layer=layer,
            rep=self.rep,
            parent=parent.sid if parent else None,
            start=time.time(),
        )
        self.spans.append(s)
        self._stack.append(s)
        self._tag(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()
            if parent is not None:
                parent.child_s += s.end - s.start
            self._tag(parent)


def group_work(sc, group: str) -> dict[str, float]:
    """Spark jobs and shuffle writes of the jobs run under job group
    ``group``, read from the driver's status store: the same figures the
    event log gives, without turning the event log on."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    tracker, store = sc.statusTracker(), sc._jsc.sc().statusStore()
    jobs = tracker.getJobIdsForGroup(group)
    # a stage reused by a later job is listed again there, as skipped
    stages = {s for j in jobs for s in tracker.getJobInfo(j).stageIds}
    written = records = 0
    for s in stages:
        data = store.lastStageAttempt(s)
        written += data.shuffleWriteBytes()
        records += data.shuffleWriteRecords()
    return {
        "spark_jobs": float(len(jobs)),
        "shuffle_write_mb": written / (1 << 20),
        "shuffle_records": float(records),
    }


def _union_s(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``[start, end]`` intervals."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def read_event_log(log_dir: str) -> dict[int, dict]:
    """Per-span job aggregates from an uncompressed Spark event log:
    ``{span id: {jobs, intervals, task_cpu_s, python_worker_s,
    shuffle_write_mb, shuffle_records, spill_mb}}``."""
    stage_span: dict[int, int] = {}
    job_span: dict[int, int] = {}
    job_start: dict[int, float] = {}
    out: dict[int, dict] = {}

    def agg(sid: int) -> dict:
        return out.setdefault(
            sid,
            {
                "jobs": 0,
                "intervals": [],
                "task_cpu_s": 0.0,
                "python_worker_s": 0.0,
                "shuffle_write_mb": 0.0,
                "shuffle_records": 0,
                "spill_mb": 0.0,
            },
        )

    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        with open(path) as f:
            for line in f:
                e = json.loads(line)
                kind = e["Event"]
                if kind == "SparkListenerJobStart":
                    group = (e.get("Properties") or {}).get("spark.jobGroup.id") or ""
                    if not group.startswith("span-"):
                        continue
                    sid = int(group[5:])
                    job_span[e["Job ID"]] = sid
                    job_start[e["Job ID"]] = e["Submission Time"] / 1000.0
                    for st in e["Stage IDs"]:
                        stage_span[st] = sid
                    agg(sid)["jobs"] += 1
                elif kind == "SparkListenerJobEnd" and e["Job ID"] in job_span:
                    agg(job_span[e["Job ID"]])["intervals"].append(
                        (job_start[e["Job ID"]], e["Completion Time"] / 1000.0)
                    )
                elif kind == "SparkListenerTaskEnd" and e["Stage ID"] in stage_span:
                    a = agg(stage_span[e["Stage ID"]])
                    tm = e.get("Task Metrics") or {}
                    a["task_cpu_s"] += tm.get("Executor CPU Time", 0) / 1e9
                    sw = tm.get("Shuffle Write Metrics") or {}
                    a["shuffle_write_mb"] += sw.get("Shuffle Bytes Written", 0) / (1 << 20)
                    a["shuffle_records"] += sw.get("Shuffle Records Written", 0)
                    a["spill_mb"] += tm.get("Disk Bytes Spilled", 0) / (1 << 20)
                    for acc in (e.get("Task Info") or {}).get("Accumulables", []):
                        # a SQL metric of the Python-UDF operators, in ms
                        if acc.get("Name") == "time to run Python workers":
                            a["python_worker_s"] += float(acc.get("Update", 0)) / 1e3
    return out


def layer_metrics(tracer: Tracer, reps: list[int], log_dir: str) -> dict[str, float]:
    """Per-layer metrics averaged per repetition over ``reps``."""
    jobs = read_event_log(log_dir)
    totals: dict[str, dict[str, float]] = {}
    for s in tracer.spans:
        if s.rep not in reps:
            continue
        t = totals.setdefault(s.layer, dict.fromkeys(LAYER_METRICS, 0.0))
        j = jobs.get(s.sid)
        t["wall_s"] += s.self_s
        if j is None:
            t["sched_gap_s"] += s.self_s
            continue
        clipped = [(max(a, s.start), min(b, s.end)) for a, b in j["intervals"]]
        covered = _union_s([(a, b) for a, b in clipped if b > a])
        t["sched_gap_s"] += max(0.0, s.self_s - covered)
        for k in ("jobs", "task_cpu_s", "python_worker_s", "shuffle_write_mb",
                  "shuffle_records", "spill_mb"):
            t[k] += j[k]
    return {
        f"{layer}.{k}": v / len(reps)
        for layer, t in totals.items()
        for k, v in t.items()
    }
