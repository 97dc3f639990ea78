"""Spans around the benchmark's calls into the program, labelled Spark jobs,
and the per-span Spark work read back from the application's REST API.

Every timed call runs inside ``Tracer.span``, which sets the Spark job
group ``bench:<workload>:<layer>:<i>`` so each job the call starts is
attributed to it.  Spans are kept in memory; only a traced run reads the
REST API (once, after the loop) and writes the spans to a file.
"""

from __future__ import annotations

import json
import time
import urllib.request
from contextlib import contextmanager
from dataclasses import dataclass, field
from urllib.parse import urlsplit

SPARK_FIELDS = ("jobs", "stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
                "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes", "output_bytes")


@dataclass
class Span:
    name: str
    label: str
    start: float
    parent: int | None
    request: int | None
    end: float = 0.0
    children: list = field(default_factory=list)
    spark: dict = field(default_factory=dict)

    @property
    def layer(self) -> str:
        return self.name.split(".", 1)[0]

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    def __init__(self, workload: str):
        self.workload = workload
        self.spans: list[Span] = []
        self.stack: list[int] = []
        self.counts: dict[str, int] = {}
        self.sc = None  # the live SparkContext; set after each session start
        self.distinct_stages = 0  # completed stages the spans' jobs ran

    @contextmanager
    def span(self, name: str, request: int | None = None):
        """Time ``name``; Spark jobs started inside carry its label."""
        layer = name.split(".", 1)[0]
        i = self.counts.get(layer, 0)
        self.counts[layer] = i + 1
        label = f"bench:{self.workload}:{layer}:{i}"
        parent = self.stack[-1] if self.stack else None
        if request is None and parent is not None:
            request = self.spans[parent].request
        sp = Span(name, label, 0.0, parent, request)
        idx = len(self.spans)
        self.spans.append(sp)
        if parent is not None:
            self.spans[parent].children.append(idx)
        self.stack.append(idx)
        self._label(label)
        sp.start = time.perf_counter()
        try:
            yield sp
        finally:
            sp.end = time.perf_counter()
            self.stack.pop()
            self._label(self.spans[self.stack[-1]].label if self.stack else None)

    def _label(self, label):
        if self.sc is None:
            return
        if label is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
        else:
            self.sc.setJobGroup(label, label)

    # ---------------------------------------------------------- analysis

    def self_time(self, idx: int) -> float:
        sp = self.spans[idx]
        return sp.dur - sum(self.spans[c].dur for c in sp.children)

    def inclusive(self, idx: int, key: str) -> float:
        sp = self.spans[idx]
        return sp.spark.get(key, 0) + sum(self.inclusive(c, key) for c in sp.children)

    def attach_spark_stats(self, sc) -> None:
        """Fill ``span.spark`` (self, not inclusive) from the REST API of the
        live application.  Waits for the listener bus to report every job
        of the spans as finished."""
        parts = urlsplit(sc.uiWebUrl)
        base = f"http://127.0.0.1:{parts.port}/api/v1/applications/{sc.applicationId}"
        wanted = {sp.label for sp in self.spans}
        deadline = time.monotonic() + 30
        while True:
            all_jobs = _get(f"{base}/jobs")
            jobs = [j for j in all_jobs if j.get("jobGroup") in wanted]
            if all(j["status"] != "RUNNING" for j in jobs) or time.monotonic() > deadline:
                break
            time.sleep(0.2)
        stages = {}
        for st in _get(f"{base}/stages?status=complete"):
            stages.setdefault(st["stageId"], []).append(st)
        # A later job lists the map stages an earlier one ran (AQE runs each
        # shuffle-map stage as its own job) and skips them; a stage keeps its
        # id, so it belongs to the lowest job id that lists it.
        owner: dict[int, int] = {}
        for j in all_jobs:
            for sid in j.get("stageIds", []):
                owner[sid] = min(owner.get(sid, j["jobId"]), j["jobId"])
        ours = {j["jobId"] for j in jobs}
        self.distinct_stages = sum(1 for sid in stages if owner.get(sid) in ours)
        by_label: dict[str, dict] = {}
        for j in jobs:
            acc = by_label.setdefault(j["jobGroup"], dict.fromkeys(SPARK_FIELDS, 0))
            acc["jobs"] += 1
            for sid in j.get("stageIds", []):
                if owner[sid] != j["jobId"] or sid not in stages:
                    continue
                acc["stages"] += 1
                for st in stages[sid]:  # every attempt of the stage
                    acc["tasks"] += st.get("numCompleteTasks", 0)
                    acc["executor_run_s"] += st.get("executorRunTime", 0) / 1e3
                    acc["executor_cpu_s"] += st.get("executorCpuTime", 0) / 1e9
                    acc["gc_s"] += st.get("jvmGcTime", 0) / 1e3
                    acc["shuffle_read_bytes"] += st.get("shuffleReadBytes", 0)
                    acc["shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
                    acc["spill_bytes"] += (st.get("memoryBytesSpilled", 0)
                                           + st.get("diskBytesSpilled", 0))
                    acc["output_bytes"] += st.get("outputBytes", 0)
        for sp in self.spans:
            sp.spark = by_label.get(sp.label, {})

    def dump(self, path: str, extra: dict) -> None:
        rows = [{"name": s.name, "label": s.label, "start": s.start, "end": s.end,
                 "parent": s.parent, "request": s.request, "self_s": self.self_time(i),
                 "spark": s.spark} for i, s in enumerate(self.spans)]
        with open(path, "w") as f:
            json.dump({"workload": self.workload, "distinct_stages": self.distinct_stages,
                       **extra, "spans": rows}, f)


def _get(url: str):
    with urllib.request.urlopen(url, timeout=30) as r:
        return json.load(r)
