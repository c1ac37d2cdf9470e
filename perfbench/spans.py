"""Spans around calls into the library's layers, with Spark stage metrics.

A span gives every Spark job started inside it its own job group.  When
the span ends, the jobs of that group are looked up through
``statusTracker().getJobIdsForGroup`` and their stages' metrics are summed
from the application status store (``statusStore().lastStageAttempt``),
which is populated with ``spark.ui.enabled=false`` too.  No library code is
touched: the spans sit in the benchmark, around the public calls.

Spans stay in memory; ``Tracer.dump`` writes them out when the run ends.
A span's metrics are inclusive of its child spans; ``self_s`` is its
duration minus the union of its children's intervals.
"""

from __future__ import annotations

import json
import time
from contextlib import contextmanager

STAGE_FIELDS = ("executor_run_s", "shuffle_bytes", "spill_bytes", "jobs", "driver_gap_s")


class Tracer:
    """Record spans when ``enabled``; otherwise every span is a no-op, so
    the same workload code runs traced and untraced."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.spark = spark
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, spark_jobs: bool = True):
        """Time the block; with ``spark_jobs`` also label and sum its jobs.

        Yields the span record (``None`` when disabled) so callers can
        attach counts to it."""
        if not self.enabled:
            yield None
            return
        sc = self.spark.sparkContext
        parent = self._stack[-1] if self._stack else None
        rec = {
            "id": len(self.spans) + 1,
            "name": name,
            "parent": parent["id"] if parent else None,
            "run_id": self.run_id,
            "group": f"perfbench-{self.run_id}-{len(self.spans) + 1}",
            "counts": {},
        }
        self.spans.append(rec)
        self._stack.append(rec)
        if spark_jobs:
            sc.setJobGroup(rec["group"], name)
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if spark_jobs:
                if parent is not None:
                    sc.setJobGroup(parent["group"], parent["name"])
                else:
                    sc.setLocalProperty("spark.jobGroup.id", None)
                    sc.setLocalProperty("spark.job.description", None)
            rec["job_ids"] = self._job_ids(rec["group"]) if spark_jobs else []

    def _job_ids(self, group: str) -> list[int]:
        sc = self.spark.sparkContext
        # the status store is fed by the asynchronous listener bus; drain
        # it so the last stages of the span's jobs are already recorded
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        return sorted(int(j) for j in sc.statusTracker().getJobIdsForGroup(group))

    def _job_metrics(self, job_ids: list[int]) -> tuple[dict, list]:
        sc = self.spark.sparkContext
        store = sc._jsc.sc().statusStore()
        tracker = sc.statusTracker()
        run_ms = shuffle = spill = 0
        intervals = []
        for jid in job_ids:
            job = store.job(jid)
            sub, done = job.submissionTime(), job.completionTime()
            if sub.isDefined() and done.isDefined():
                intervals.append((sub.get().getTime() / 1e3, done.get().getTime() / 1e3))
            info = tracker.getJobInfo(jid)
            for sid in info.stageIds if info else ():
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # a stage skipped by shuffle reuse has no attempt
                    continue
                run_ms += st.executorRunTime()
                shuffle += st.shuffleReadBytes() + st.shuffleWriteBytes()
                spill += st.diskBytesSpilled()
        return {
            "executor_run_s": run_ms / 1e3,
            "shuffle_bytes": shuffle,
            "spill_bytes": spill,
        }, intervals

    def finish(self) -> None:
        """Resolve every span's stage metrics (outside all timed regions)."""
        by_parent: dict = {}
        for s in self.spans:
            by_parent.setdefault(s["parent"], []).append(s)

        def subtree_jobs(s):
            out = list(s["job_ids"])
            for c in by_parent.get(s["id"], ()):
                out += subtree_jobs(c)
            return out

        for s in self.spans:
            jobs = sorted(set(subtree_jobs(s)))
            metrics, intervals = self._job_metrics(jobs)
            wall = s["end"] - s["start"]
            busy = _union([(max(a, s["start"]), min(b, s["end"])) for a, b in intervals])
            kids = _union([(c["start"], c["end"]) for c in by_parent.get(s["id"], ())])
            s.update(metrics)
            s["jobs"] = len(jobs)
            s["wall_s"] = wall
            s["driver_gap_s"] = max(wall - busy, 0.0)
            s["self_s"] = max(wall - kids, 0.0)

    def by_name(self, name: str) -> list[dict]:
        return [s for s in self.spans if s["name"] == name]

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1)


def _union(intervals) -> float:
    """Total length covered by a set of (start, end) intervals."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted(i for i in intervals if i[1] > i[0]):
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def self_time_table(spans: list[dict]) -> list[dict]:
    """Per span name: count, total wall and total self time, slowest first."""
    rows: dict = {}
    for s in spans:
        r = rows.setdefault(s["name"], {"span": s["name"], "n": 0, "wall_s": 0.0, "self_s": 0.0})
        r["n"] += 1
        r["wall_s"] += s["wall_s"]
        r["self_s"] += s["self_s"]
    return sorted(rows.values(), key=lambda r: -r["self_s"])
