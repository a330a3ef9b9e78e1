"""Spans recorded from outside the package, plus what Spark records.

A span is (id, name, start, end, parent, call). Spans live in memory
and are written to one JSON file at the end of a traced run. Spark jobs
are tagged with a job group per call; after the call their job and
stage records are read from the driver's status store and attached as
child spans of the innermost span that was open when each job was
submitted. Nothing is kept in Spark beyond its default retention.
"""

from __future__ import annotations

import contextlib
import json
import time


class Tracer:
    def __init__(self, spark):
        self.sc = spark.sparkContext
        self.spans: list[dict] = []
        self._open: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, call: str | None = None, **attrs):
        parent = self._open[-1] if self._open else None
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": parent["id"] if parent else None,
            "call": call or (parent["call"] if parent else None),
            "start": time.time(),
            **attrs,
        }
        self.spans.append(rec)
        self._open.append(rec)
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            self._open.pop()

    @contextlib.contextmanager
    def wrap(self, owner, attr: str, name: str, after=None):
        """Record a span around every call of ``owner.attr`` while the
        block runs; ``after(span, result, args)`` may add attributes."""
        original = getattr(owner, attr)

        def traced(*args, **kwargs):
            with self.span(name) as rec:
                out = original(*args, **kwargs)
                if after is not None:
                    after(rec, out, args)
                return out

        setattr(owner, attr, traced)
        try:
            yield
        finally:
            setattr(owner, attr, original)

    @contextlib.contextmanager
    def spark_call(self, name: str, call: str):
        """A span for one public call whose Spark jobs carry ``call`` as
        their job group; the jobs become child spans afterwards."""
        self.sc.setJobGroup(call, name)
        try:
            with self.span(name, call=call) as rec:
                yield rec
        finally:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        rec["jobs"] = self._attach_jobs(call, rec)

    def _attach_jobs(self, group: str, call_span: dict) -> int:
        store = self.sc._jsc.sc().statusStore()
        gw = self.sc._gateway
        inner = [s for s in self.spans if s["call"] == group]
        job_ids = sorted(self.sc.statusTracker().getJobIdsForGroup(group))
        for jid in job_ids:
            job = store.job(jid)
            start = job.submissionTime().get().getTime() / 1000.0
            end = job.completionTime().get().getTime() / 1000.0
            run_ms = cpu_ns = shuffle_write = 0
            stages = []
            stage_ids = job.stageIds()
            for i in range(stage_ids.size()):
                attempts = store.stageData(
                    stage_ids.apply(i), False, gw.jvm.java.util.ArrayList(), False,
                    gw.new_array(gw.jvm.double, 0),
                )
                for k in range(attempts.size()):
                    st = attempts.apply(k)
                    if st.status().toString() != "COMPLETE":
                        continue  # skipped: its work ran in an earlier job
                    run_ms += st.executorRunTime()
                    cpu_ns += st.executorCpuTime()
                    shuffle_write += st.shuffleWriteBytes()
                    stages.append({"stage_id": st.stageId(), "tasks": st.numTasks(),
                                   "executor_run_s": st.executorRunTime() / 1000.0})
            # innermost open span at submission (call span is the default)
            owner = call_span
            for s in inner:
                opened = s["start"] <= start <= s.get("end", float("inf"))
                if opened and s["start"] >= owner["start"]:
                    owner = s
            self.spans.append({
                "id": len(self.spans), "name": "spark.job", "parent": owner["id"],
                "call": group, "start": start, "end": end, "job_id": jid,
                "tasks": job.numTasks(),
                "executor_run_s": run_ms / 1000.0, "executor_cpu_s": cpu_ns / 1e9,
                "shuffle_write_bytes": shuffle_write, "stages": stages,
            })
        return len(job_ids)

    def children(self, span: dict, name: str | None = None) -> list[dict]:
        return [
            s for s in self.spans
            if s["parent"] == span["id"] and (name is None or s["name"] == name)
        ]

    def descendants(self, span: dict, name: str) -> list[dict]:
        out, frontier = [], [span["id"]]
        while frontier:
            pid = frontier.pop()
            for s in self.spans:
                if s["parent"] == pid:
                    frontier.append(s["id"])
                    if s["name"] == name:
                        out.append(s)
        return out

    def self_time(self, span: dict) -> float:
        """Span duration minus the part its child spans cover."""
        return (span["end"] - span["start"]) - covered(
            [(c["start"], c["end"]) for c in self.children(span)], span["start"], span["end"]
        )

    def write(self, path: str, extra: dict) -> None:
        for s in self.spans:
            s["self_s"] = self.self_time(s)
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, **extra}, fh, indent=1)


def covered(intervals, lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, reach = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, reach), min(b, hi)
        if b > a:
            total += b - a
            reach = b
    return total
