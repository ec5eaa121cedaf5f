"""Spans and Spark-side per-layer accounting for the traced run.

A span is recorded around each call into a layer's public function, from
the benchmark's side of the call: name (``<layer>.<op>``), start, end,
parent span and request id. Around each span the Spark job group is set
to the span name, so the jobs, stages and SQL executions the call
triggers can be attributed to its layer and op afterwards, through the
status REST API (the UI is on in traced runs only). Spans stay in memory
until the run ends and are then written out as one JSON file.

With tracing off, ``Tracer.span`` still times the call (the untraced run
needs op latencies) but sets no job group and records nothing.
"""

from __future__ import annotations

import json
import time
import urllib.request
from contextlib import contextmanager

# layers whose calls run Spark jobs (``session`` is timed at start only)
LAYERS = [
    "wire",
    "commitlog",
    "logtable",
    "transactions",
    "groups",
    "windows",
    "ktable",
]
SPARK_FIELDS = [
    ("spark_jobs", "count", "lower"),
    ("tasks", "count", "lower"),
    ("executor_run_s", "s", "lower"),
    ("scheduler_delay_s", "s", "lower"),
    ("shuffle_write_bytes", "bytes", "lower"),
    ("gc_s", "s", "lower"),
]
OWN_GROUP = "perfbench"  # the benchmark's own jobs: checks, warm-up


class Tracer:
    def __init__(self, spark, enabled: bool):
        self.spark = spark
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        if enabled:
            self._group(OWN_GROUP)

    def _group(self, name: str) -> None:
        self.spark.sparkContext.setJobGroup(name, name)

    @contextmanager
    def span(self, name: str, req=None):
        """Time one call; traced runs also record the span and tag its
        Spark jobs with ``name``, whose part before the dot is the layer.
        Yields a dict the caller may add counts to."""
        attrs: dict = {}
        if not self.enabled:
            t0 = time.perf_counter()
            yield attrs
            attrs["_s"] = time.perf_counter() - t0
            return
        parent = self._stack[-1] if self._stack else None
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": parent, "req": req}
        self.spans.append(rec)
        self._stack.append(sid)
        if _layer(name) in LAYERS:
            self._group(name)
        rec["start"] = time.perf_counter()
        try:
            yield attrs
        finally:
            rec["end"] = time.perf_counter()
            attrs["_s"] = rec["end"] - rec["start"]
            rec.update({k: v for k, v in attrs.items() if k != "_s"})
            self._stack.pop()
            outer = self.spans[self._stack[-1]]["name"] if self._stack else ""
            self._group(outer if _layer(outer) in LAYERS else OWN_GROUP)

    @contextmanager
    def paused(self):
        """Run untraced (warm-up, the untraced half of a traced run)."""
        was, self.enabled = self.enabled, False
        try:
            yield
        finally:
            self.enabled = was

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name]

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f)


class SparkStatus:
    """Per-layer totals from the status REST API of this session's UI:
    jobs carry the job group the tracer set, stages give run time, GC,
    shuffle writes and per-task scheduler delay, SQL executions give the
    scan node's files read and output rows."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = sc.uiWebUrl
        self.app = sc.applicationId
        if not self.base:
            raise RuntimeError("traced run needs the Spark UI (SPARK_GRAFT_UI=true)")

    def _get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/api/v1/applications/{self.app}/{path}") as r:
            return json.load(r)

    def per_layer(self) -> tuple[dict, dict]:
        """({layer: {field: value}}, {span name: {"files_read", "scan_rows"}})."""
        jobs = self._get("jobs")
        stage_group: dict[int, str] = {}
        job_group: dict[int, str] = {}
        out = {layer: {f: 0.0 for f, _, _ in SPARK_FIELDS} for layer in LAYERS}
        for j in jobs:
            g = j.get("jobGroup") or OWN_GROUP
            job_group[j["jobId"]] = g
            for sid in j.get("stageIds", []):
                stage_group[sid] = g
            if _layer(g) in out:
                out[_layer(g)]["spark_jobs"] += 1
                out[_layer(g)]["tasks"] += j.get("numCompletedTasks", 0)
        for st in self._get("stages?details=true"):
            g = _layer(stage_group.get(st["stageId"], OWN_GROUP))
            if g not in out or st.get("status") != "COMPLETE":
                continue
            o = out[g]
            o["executor_run_s"] += st.get("executorRunTime", 0) / 1000.0
            o["gc_s"] += st.get("jvmGcTime", 0) / 1000.0
            o["shuffle_write_bytes"] += st.get("shuffleWriteBytes", 0)
            o["scheduler_delay_s"] += sum(
                t.get("schedulerDelay", 0) for t in st.get("tasks", {}).values()
            ) / 1000.0
        scans: dict[str, dict] = {}
        for ex in self._get("sql?details=true&planDescription=false&length=100000"):
            ids = ex.get("successJobIds", []) + ex.get("failedJobIds", [])
            groups = {job_group.get(i) for i in ids}
            if len(groups) != 1:
                continue
            g = groups.pop()
            if _layer(g) not in LAYERS:
                continue
            scan = scans.setdefault(g, {"files_read": 0, "scan_rows": 0})
            for node in ex.get("nodes", []):
                if not node.get("nodeName", "").startswith("Scan"):
                    continue
                m = {x["name"]: x["value"] for x in node.get("metrics", [])}
                scan["files_read"] += _count(m.get("number of files read"))
                scan["scan_rows"] += _count(m.get("number of output rows"))
        return out, scans


def _layer(group) -> str:
    return str(group).split(".", 1)[0]


def _count(v) -> int:
    """SQL metric values arrive as display strings (``"1,000"``)."""
    if v is None:
        return 0
    return int(str(v).split()[0].replace(",", ""))
