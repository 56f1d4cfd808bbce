"""Spans around the benchmark's calls into the engine, with Spark job
metrics read from the driver's status store.

A span records name, start, end, parent span and workload seed, and sets a
Spark job group ``perfbench:<span id>:<name>`` so its jobs line up with the
Spark UI and event log. Jobs are attributed to a span by job id: every job
submitted between the span's entry and exit belongs to it (the loop has
one client, and engine calls that submit from helper threads still
land inside the id range, which job groups alone would miss). Spans stay in
memory; ``resolve`` reads the status store once, after the timed loop, and
``write`` stores them when the run ends.

With tracing off, ``span`` only yields: no job group, no record.
"""

from __future__ import annotations

import json
import statistics
import time
from contextlib import contextmanager

# per-span fields reported as per-layer metrics (medians over the span's calls)
FIELDS = ("wall_s", "driver_s", "jobs", "tasks", "executor_run_s", "shuffle_write_bytes", "spill_bytes")


class Tracer:
    def __init__(self, sc, seed: int, enabled: bool):
        self.sc = sc
        self.seed = seed
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    def next_job_id(self) -> int:
        return int(self.sc._jsc.sc().dagScheduler().nextJobId())

    def add_span(self, name: str, start: float, end: float, job0: int) -> None:
        """A top-level span timed by the caller (the session start, which
        happens before the tracer can exist)."""
        if self.enabled:
            self.spans.append({"id": len(self.spans), "name": name, "parent": None, "seed": self.seed,
                               "attrs": {}, "job0": job0, "job1": self.next_job_id(),
                               "start": start, "end": end})

    def _set_group(self, rec: dict | None) -> None:
        if rec is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(f"perfbench:{rec['id']}:{rec['name']}", rec["name"])

    @contextmanager
    def span(self, name: str, **attrs):
        if not self.enabled:
            yield None
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "seed": self.seed,
            "attrs": attrs,
            "job0": self.next_job_id(),
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self._set_group(rec)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            rec["job1"] = self.next_job_id()
            self._stack.pop()
            self._set_group(self._stack[-1] if self._stack else None)

    # -- after the run ------------------------------------------------------

    def resolve(self) -> None:
        """Fill each span's Spark metrics from the status store."""
        if not self.enabled:
            return
        jsc = self.sc._jsc.sc()
        jsc.listenerBus().waitUntilEmpty()
        store = jsc.statusStore()
        jobs: dict[int, tuple | None] = {}

        def job(jid: int):
            if jid not in jobs:
                try:
                    jd = store.job(jid)
                except Exception:  # noqa: BLE001 — evicted from the store
                    jobs[jid] = None
                else:
                    sub = jd.submissionTime()
                    comp = jd.completionTime()
                    jobs[jid] = (
                        sub.get().getTime() / 1000.0 if sub.isDefined() else None,
                        comp.get().getTime() / 1000.0 if comp.isDefined() else None,
                        _seq(jd.stageIds()),
                    )
            return jobs[jid]

        stages: dict[int, tuple | None] = {}

        def stage(sid: int):
            if sid not in stages:
                sd = store.lastStageAttempt(sid)
                sub = sd.submissionTime()
                stages[sid] = (
                    sub.get().getTime() / 1000.0 if sub.isDefined() else None,
                    int(sd.numTasks()),
                    sd.executorRunTime() / 1000.0,
                    int(sd.shuffleWriteBytes()),
                    int(sd.memoryBytesSpilled()) + int(sd.diskBytesSpilled()),
                )
            return stages[sid]

        for rec in self.spans:
            t0, t1 = rec["start"], rec["end"]
            intervals, seen = [], set()
            m = {"jobs": 0, "jobs_missing": 0, "tasks": 0, "executor_run_s": 0.0,
                 "shuffle_write_bytes": 0, "spill_bytes": 0}
            for jid in range(rec["job0"], rec["job1"]):
                j = job(jid)
                if j is None:
                    m["jobs_missing"] += 1
                    continue
                m["jobs"] += 1
                sub, comp, sids = j
                if sub is not None:
                    intervals.append((max(sub, t0), min(comp if comp is not None else t1, t1)))
                for sid in sids:
                    if sid in seen:
                        continue
                    seen.add(sid)
                    s = stage(sid)
                    # a stage shared with an earlier job (reused shuffle) or
                    # skipped has no submission inside this span
                    if s is None or s[0] is None or s[0] < t0 - 0.002:
                        continue
                    m["tasks"] += s[1]
                    m["executor_run_s"] += s[2]
                    m["shuffle_write_bytes"] += s[3]
                    m["spill_bytes"] += s[4]
            m["wall_s"] = t1 - t0
            m["driver_s"] = max(0.0, m["wall_s"] - _union(intervals))
            rec["metrics"] = m
        for rec in self.spans:
            kids = [(c["start"], c["end"]) for c in self.spans if c["parent"] == rec["id"]]
            rec["self_s"] = rec["metrics"]["wall_s"] - _union(kids)

    def layer_metrics(self, names) -> dict[str, float]:
        """Per span name: the median of each field over its calls (0 when
        the workload never entered that layer)."""
        out = {}
        for name in names:
            recs = [r["metrics"] for r in self.spans if r["name"] == name and "metrics" in r]
            for f in FIELDS:
                out[f"{name}.{f}"] = statistics.median(r[f] for r in recs) if recs else 0.0
        return out

    def write(self, path, info: dict) -> None:
        with open(path, "w") as fh:
            json.dump({"info": info, "spans": self.spans}, fh, indent=1)


def _seq(scala_seq) -> list[int]:
    it = scala_seq.iterator()
    out = []
    while it.hasNext():
        out.append(int(it.next()))
    return out


def _union(intervals) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(intervals):
        if b <= a:
            continue
        if a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return total
