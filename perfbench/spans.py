"""Spans around the benchmark's calls into each layer, and the Spark work
each span caused, read back from the application status store.

Spans are kept in memory; ``Tracer.spans`` is written out by the caller when
the run ends. With tracing on, every span tags its Spark jobs with a job
group of its own, which is how the status store's jobs, stages and tasks are
attributed to it afterwards.
"""

from __future__ import annotations

import itertools
import time
from contextlib import contextmanager

# Status-store retention for traced runs. The defaults (1000 jobs and stages)
# are below what one CC or LPA call creates; ``harvest`` checks that nothing
# was evicted.
RETAIN_CONF = {
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.ui.retainedTasks": "10000000",
}


class Tracer:
    def __init__(self, spark, run_id: str, enabled: bool):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._ids = itertools.count()

    @contextmanager
    def span(self, name: str):
        parent = self._stack[-1] if self._stack else None
        rec = {
            "name": name,
            "parent": parent["id"] if parent else None,
            "run_id": self.run_id,
            "id": next(self._ids),
        }
        rec["group"] = f"{self.run_id}:{rec['id']}:{name}"
        if self.enabled:
            self.sc.setJobGroup(rec["group"], name)
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            self.spans.append(rec)
            if self.enabled:
                if parent:
                    self.sc.setJobGroup(parent["group"], parent["name"])
                else:
                    self.sc.setLocalProperty("spark.jobGroup.id", None)


def self_seconds(span: dict, spans: list[dict]) -> float:
    """A span's duration minus the part its child spans cover."""
    kids = sum(s["end"] - s["start"] for s in spans if s["parent"] == span["id"])
    return span["end"] - span["start"] - kids


def harvest(spark, spans: list[dict], cores: int) -> dict[str, dict]:
    """Per span: jobs, tasks, shuffle bytes, spill, GC and executor run time,
    idle-core share and worst-stage task skew, from the status store."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    gw = sc._gateway
    conf = sc.getConf()

    jobs = store.jobsList(None)
    stage_list = store.stageList(None, False, False, gw.new_array(gw.jvm.double, 0), None)
    n_tasks_total = 0
    stages = {}
    for i in range(stage_list.size()):
        s = stage_list.apply(i)
        if str(s.status()) != "COMPLETE":
            continue  # skipped (reused shuffle output) or failed attempts
        n_tasks_total += s.numCompleteTasks()
        stages[s.stageId()] = s
    # Once a count exceeds its limit the store evicts down to at most 90% of
    # it, and counts only fall through eviction: below 90% nothing was lost.
    limits = {k: int(conf.get(k)) for k in RETAIN_CONF}
    if (
        jobs.size() >= 0.9 * limits["spark.ui.retainedJobs"]
        or stage_list.size() >= 0.9 * limits["spark.ui.retainedStages"]
        or n_tasks_total >= 0.9 * limits["spark.ui.retainedTasks"]
    ):
        raise RuntimeError("status store near a retention limit: per-span counts may be truncated")

    stage_ids: dict[str, list[int]] = {}
    job_count: dict[str, int] = {}
    for i in range(jobs.size()):
        j = jobs.apply(i)
        group = j.jobGroup()
        if not group.isDefined():
            continue
        g = group.get()
        job_count[g] = job_count.get(g, 0) + 1
        ids = j.stageIds()
        stage_ids.setdefault(g, []).extend(ids.apply(k) for k in range(ids.size()))

    quantiles = gw.new_array(gw.jvm.double, 2)
    quantiles[0], quantiles[1] = 0.5, 1.0
    out = {}
    for span in spans:
        g = span["group"]
        mine = [stages[i] for i in set(stage_ids.get(g, [])) if i in stages]
        run_s = sum(s.executorRunTime() for s in mine) / 1e3
        wall = span["end"] - span["start"]
        skew = 1.0
        for s in mine:
            if s.numCompleteTasks() < 2:
                continue
            dist = store.taskSummary(s.stageId(), s.attemptId(), quantiles)
            if dist.isDefined():
                q = dist.get().executorRunTime()
                if q.apply(0) > 0:
                    skew = max(skew, q.apply(1) / q.apply(0))
        out[span["name"]] = {
            "jobs": job_count.get(g, 0),
            "tasks": sum(s.numCompleteTasks() for s in mine),
            "shuffle_read_bytes": sum(s.shuffleReadBytes() for s in mine),
            "shuffle_write_bytes": sum(s.shuffleWriteBytes() for s in mine),
            "spill_bytes": sum(s.memoryBytesSpilled() + s.diskBytesSpilled() for s in mine),
            "gc_s": sum(s.jvmGcTime() for s in mine) / 1e3,
            "executor_run_s": run_s,
            "idle_core_frac": 1.0 - run_s / (wall * cores) if wall > 0 else 0.0,
            "task_skew": skew,
        }
    return out
