"""Spans recorded from outside the program, around the calls into each
layer.

A span carries its run id, its parent, driver-clock start/end and the
Spark work it caused: jobs (through a per-span job group, plus the
group-less jobs that background threads such as the crawl's checkpoint
writer start during the span), their stages and tasks (``statusTracker``).
Spans stay in memory; the run writes them out when it ends.
"""

from __future__ import annotations

import time
from contextlib import contextmanager

__all__ = ["Tracer", "python_time_s", "materialize_plan"]

_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description",
                "spark.job.interruptOnCancel")


class Tracer:
    def __init__(self, spark, run_id: str):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextmanager
    def span(self, name: str, **attrs):
        sc, st = self.sc, self.sc.statusTracker()
        sid = f"{self.run_id}/{len(self.spans) + len(self._stack)}"
        parent = self._stack[-1] if self._stack else None
        saved = {k: sc.getLocalProperty(k) for k in _GROUP_PROPS}
        loose_before = set(st.getJobIdsForGroup(None))
        sc.setJobGroup(sid, name)
        rec = {"run": self.run_id, "id": sid, "name": name,
               "parent": parent["id"] if parent else None,
               "job_ids": set(), **attrs}
        self._stack.append(rec)
        rec["start"] = time.perf_counter()
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()
            for k, v in saved.items():
                sc.setLocalProperty(k, v)
            rec["job_ids"] |= (set(st.getJobIdsForGroup(sid))
                               | (set(st.getJobIdsForGroup(None))
                                  - loose_before))
            if parent is not None:
                parent["job_ids"] |= rec["job_ids"]
            rec.update(self._work(rec["job_ids"]))
            rec["seconds"] = rec["end"] - rec["start"]
            self.spans.append(rec)

    def _work(self, job_ids) -> dict:
        st = self.sc.statusTracker()
        stages = tasks = 0
        for j in job_ids:
            info = st.getJobInfo(j)
            for s in (info.stageIds if info else ()):
                si = st.getStageInfo(s)
                if si is not None:     # skipped stages never ran
                    stages += 1
                    tasks += si.numTasks
        return {"jobs": len(job_ids), "stages": stages, "tasks": tasks}

    def spans_json(self) -> list[dict]:
        return [{k: (sorted(v) if isinstance(v, set) else v)
                 for k, v in s.items()} for s in self.spans]


def materialize_plan(df):
    """Run ``df``'s own physical plan to the end and return it.

    Unlike a ``noop`` write, which plans a new query, this executes the
    plan the caller holds, so its SQL metrics (Python worker time, rows)
    can be read back afterwards."""
    qe = df._jdf.queryExecution()
    qe.toRdd().count()
    return qe.executedPlan()


def _plan_nodes(plan):
    stack = [plan]
    while stack:
        p = stack.pop()
        yield p
        cls = p.getClass().getSimpleName()
        if cls == "AdaptiveSparkPlanExec":
            stack.append(p.executedPlan())
        elif cls.endswith("QueryStageExec"):
            stack.append(p.plan())
        else:
            kids = p.children()
            stack.extend(kids.apply(i) for i in range(kids.size()))


def python_time_s(plan) -> float:
    """Task-seconds spent in Python workers by the plan's Arrow UDF nodes
    (``pythonTotalTime``, summed over tasks), 0.0 if there are none."""
    ms = 0
    for p in _plan_nodes(plan):
        if p.nodeName() in ("ArrowEvalPython", "MapInPandas",
                            "MapInArrow", "BatchEvalPython"):
            m = p.metrics()
            if m.contains("pythonTotalTime"):
                ms += m.apply("pythonTotalTime").value()
    return ms / 1000.0
