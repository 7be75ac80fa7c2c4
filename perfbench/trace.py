"""Spans recorded from outside the program, and their attribution from the
Spark event log.

Before each call into a layer the harness opens a span and tags every job
the call starts with ``SparkContext.setJobGroup(span_id, span_name)``.
Spans stay in memory; after the session stops, the event log (written
through the ``SPARK_GRAFT_EXTRA_CONF`` deployment hook) is parsed and
task, stage and SQL metrics are summed per span.
"""

from __future__ import annotations

import json
import os
import statistics
import time
import uuid
from contextlib import contextmanager

MB = 1024.0 * 1024.0

# span name → the per-layer prefix it reports under. Query families are
# folded into one prefix per phase to stay under the per-layer metric cap
# (the span tree keeps them apart).
LAYERS = (
    "session.get_spark",
    "pipeline.ingest",
    "pipeline.clean",
    "pipeline.waves",
    "queries.construct",
    "queries.plan",
    "queries.exec",
    "streaming.batch",
)
SPAN_METRICS = (
    ("wall_s", "s"),
    ("driver_s", "s"),
    ("jobs", "count"),
    ("stages", "count"),
    ("tasks", "count"),
    ("task_s", "s"),
    ("task_skew", "ratio"),
    ("shuffle_write_mb", "MB"),
    ("shuffle_read_mb", "MB"),
    ("spill_mb", "MB"),
    ("input_mb", "MB"),
    ("output_mb", "MB"),
    ("python_s", "s"),
)
EXTRA_METRICS = (
    ("queries.eager_jobs", "count"),
    ("streaming.state_rows_max", "count"),
    ("streaming.state_mb_max", "MB"),
    ("streaming.add_batch_s", "s"),
    ("streaming.planning_s", "s"),
    ("spark.tasks_failed", "count"),
    ("spark.stages_retried", "count"),
    ("trace_overhead_frac", "ratio"),
)
# physical operators that run Python/Arrow workers
PYTHON_NODES = ("Pandas", "Arrow", "Python")
# their SQL metric (ms) for time spent in the workers; a node without it
# counts the task time of its stage instead
PYTHON_TIME_METRIC = "time to run Python workers"


def layer_of(name: str) -> str:
    if name.startswith("queries."):
        return "queries." + name.rsplit(".", 1)[1]
    return name


def family_of(query: str) -> str:
    return query.split("_", 1)[0]


class Tracer:
    """Span recorder; a disabled tracer makes ``span`` a no-op, so traced
    and untraced runs execute the same harness code."""

    def __init__(self, work: str, enabled: bool):
        self.enabled = enabled
        self.run_id = uuid.uuid4().hex[:12]
        self.work = work
        self.log_dir = os.path.join(work, "eventlog")
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self.sc = None
        self.app_id = None
        self.window = (0.0, 0.0)
        self.streams: list[dict] = []  # progress reports of drained queries
        self.per_span: dict[str, dict] = {}  # filled by layer_metrics
        self.step_s: dict[str, float] = {}  # untraced: wall time per span name

    def spark_conf(self, log_dir: str) -> str:
        """Event-log settings for a session build. Only ``eventlog`` (the
        measured operation's session) is parsed."""
        log_dir = os.path.join(self.work, log_dir)
        os.makedirs(log_dir, exist_ok=True)
        return (
            "spark.eventLog.enabled=true;spark.eventLog.compress=false;"
            "spark.eventLog.rolling.enabled=false;"
            f"spark.eventLog.dir=file://{log_dir}"
        )

    def attach(self, spark) -> None:
        """Tag jobs of this session; the first attached session is the
        measured one, whose event log is parsed."""
        self.sc = spark.sparkContext
        self.app_id = self.app_id or self.sc.applicationId

    def record(self, name: str, start: float, end: float) -> None:
        """A span timed by the caller (jobs are attributed by time)."""
        if self.enabled:
            self.spans.append(
                {"id": f"{self.run_id}-{len(self.spans)}", "name": name, "parent": None,
                 "run": self.run_id, "start": start, "end": end}
            )

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            t0 = time.perf_counter()
            yield
            self.step_s[name] = self.step_s.get(name, 0.0) + time.perf_counter() - t0
            return
        parent = self._stack[-1] if self._stack else None
        rec = {"id": f"{self.run_id}-{len(self.spans)}", "name": name,
               "parent": parent["id"] if parent else None, "run": self.run_id,
               "start": time.time(), "end": None}
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(rec["id"], name)
        try:
            yield
        finally:
            rec["end"] = time.time()
            self._stack.pop()
            if parent:
                self.sc.setJobGroup(parent["id"], parent["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)

    def begin_window(self) -> None:
        """Spans and jobs from here to ``end_window`` are the measured
        operation's (the cold build's span is recorded just before)."""
        self.window = (time.time() if not self.spans else self.spans[0]["start"], 0.0)

    def end_window(self) -> None:
        self.window = (self.window[0], time.time())

    def add_stream(self, progress: list[dict]) -> None:
        """Micro-batch spans from a drained query's progress reports."""
        if not self.enabled or self.window[1]:
            return
        parent = self._stack[-1]["id"] if self._stack else None
        for p in progress:
            end = _iso_epoch(p["timestamp"]) + p["durationMs"].get("triggerExecution", 0) / 1000.0
            start = _iso_epoch(p["timestamp"])
            self.spans.append(
                {"id": f"{self.run_id}-{len(self.spans)}", "name": "streaming.batch",
                 "parent": parent, "run": self.run_id, "start": start, "end": end,
                 "query_run": p["runId"]}
            )
        self.streams.append({"progress": progress})

    # ------------------------------------------------------------------
    def _in_window(self, s: dict) -> bool:
        return s["start"] >= self.window[0] and s["end"] <= self.window[1]

    def layer_metrics(self, overhead: float) -> dict:
        """Per-layer metrics of the one traced operation (session metrics:
        of the cold build before it)."""
        spans = [s for s in self.spans if s["end"] is not None and self._in_window(s)]
        log = EventLog.load(os.path.join(self.log_dir, self.app_id))
        self.per_span = per_span = log.attribute(spans)
        out: dict = {}
        for layer in LAYERS:
            members = [s for s in spans if layer_of(s["name"]) == layer]
            agg = _sum_stats([per_span[s["id"]] for s in members])
            for key, unit in SPAN_METRICS:
                out[f"{layer}.{key}"] = (agg[key], unit, len(members))
        eager = sum(per_span[s["id"]]["jobs"] for s in spans if s["name"].endswith(".construct"))
        values = {
            "queries.eager_jobs": eager,
            "spark.tasks_failed": log.tasks_failed,
            "spark.stages_retried": log.stages_retried,
            "trace_overhead_frac": overhead,
        }
        values.update(stream_extras(self.streams))
        for key, unit in EXTRA_METRICS:
            out[key] = (float(values.get(key, 0.0)), unit, 1)
        return out

    def span_tree(self) -> list[dict]:
        """Spans folded by name: count, total wall and self time (wall minus
        the part of its interval that child spans cover), parent name."""
        spans = [s for s in self.spans if s["end"] is not None and self._in_window(s)]
        by_id = {s["id"]: s for s in spans}
        kids: dict[str, list[dict]] = {}
        for s in spans:
            if s["parent"] in by_id:
                kids.setdefault(s["parent"], []).append(s)
        tree: dict[tuple, dict] = {}
        for s in spans:
            wall = s["end"] - s["start"]
            covered = _union([(c["start"], c["end"]) for c in kids.get(s["id"], [])], s["start"], s["end"])
            parent = by_id[s["parent"]]["name"] if s["parent"] in by_id else None
            node = tree.setdefault((s["name"], parent), {"name": s["name"], "parent": parent,
                                                         "count": 0, "wall_s": 0.0, "self_s": 0.0,
                                                         "jobs": 0, "task_s": 0.0})
            node["count"] += 1
            node["wall_s"] += wall
            node["self_s"] += wall - covered
            st = self.per_span.get(s["id"])
            if st:
                node["jobs"] += st["jobs"]
                node["task_s"] += st["task_s"]
        return sorted(tree.values(), key=lambda n: (n["parent"] or "", n["name"]))

    def dump(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"run": self.run_id, "window": self.window, "spans": self.spans}, f)


def stream_extras(streams: list[dict]) -> dict:
    rows, mem, add, plan = [], [], [], []
    for s in streams:
        for p in s["progress"]:
            ops = p.get("stateOperators") or []
            rows.append(sum(o.get("numRowsTotal", 0) for o in ops))
            mem.append(sum(o.get("memoryUsedBytes", 0) for o in ops) / MB)
            add.append(p["durationMs"].get("addBatch", 0) / 1000.0)
            plan.append(p["durationMs"].get("queryPlanning", 0) / 1000.0)
    if not rows:
        return {}
    return {
        "streaming.state_rows_max": max(rows),
        "streaming.state_mb_max": max(mem),
        "streaming.add_batch_s": statistics.median(add),
        "streaming.planning_s": statistics.median(plan),
    }


def _iso_epoch(ts: str) -> float:
    from datetime import datetime

    return datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _union(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to [lo, hi]."""
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def _empty() -> dict:
    return {"wall_s": 0.0, "driver_s": 0.0, "jobs": 0, "stages": 0, "tasks": 0, "task_s": 0.0,
            "task_skew": 0.0, "shuffle_write_mb": 0.0, "shuffle_read_mb": 0.0, "spill_mb": 0.0,
            "input_mb": 0.0, "output_mb": 0.0, "python_s": 0.0}


def _sum_stats(items: list[dict]) -> dict:
    out = _empty()
    for it in items:
        for k in out:
            out[k] = max(out[k], it[k]) if k == "task_skew" else out[k] + it[k]
    return out


class EventLog:
    """The parts of a Spark event log the per-span metrics need."""

    def __init__(self):
        self.jobs: dict[int, dict] = {}
        self.stages: dict[int, dict] = {}
        self.python_accums: set[int] = set()
        self.python_time_accums: set[int] = set()
        self.tasks_failed = 0
        self.stages_retried = 0

    @classmethod
    def load(cls, path: str) -> "EventLog":
        """Parse one application's (non-rolling, uncompressed) event log."""
        log = cls()
        with open(path, encoding="utf-8") as f:
            for line in f:
                log._event(json.loads(line))
        return log

    def _stage(self, sid: int) -> dict:
        return self.stages.setdefault(sid, {"tasks": [], "task_s": 0.0, "sw": 0, "sr": 0, "spill": 0,
                                            "in": 0, "out": 0, "python": False, "python_s": 0.0})

    def _plan(self, info: dict) -> None:
        if any(k in info.get("nodeName", "") for k in PYTHON_NODES):
            for m in info.get("metrics", []):
                self.python_accums.add(m["accumulatorId"])
                if m["name"] == PYTHON_TIME_METRIC:
                    self.python_time_accums.add(m["accumulatorId"])
        for child in info.get("children", []):
            self._plan(child)

    def _event(self, ev: dict) -> None:
        kind = ev["Event"]
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            self.jobs[ev["Job ID"]] = {
                "group": props.get("spark.jobGroup.id"), "submit": ev["Submission Time"] / 1000.0,
                "end": None, "stages": ev.get("Stage IDs", []),
            }
        elif kind == "SparkListenerJobEnd":
            if ev["Job ID"] in self.jobs:
                self.jobs[ev["Job ID"]]["end"] = ev["Completion Time"] / 1000.0
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            if info.get("Stage Attempt ID", 0) > 0:
                self.stages_retried += 1
        elif kind == "SparkListenerTaskEnd":
            st = self._stage(ev["Stage ID"])
            tm = ev.get("Task Metrics") or {}
            ti = ev.get("Task Info") or {}
            if ti.get("Failed") or ti.get("Killed"):
                self.tasks_failed += 1
            run_s = tm.get("Executor Run Time", 0) / 1000.0
            st["tasks"].append(run_s)
            st["task_s"] += run_s
            st["sw"] += (tm.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0)
            sr = tm.get("Shuffle Read Metrics") or {}
            st["sr"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
            st["spill"] += tm.get("Disk Bytes Spilled", 0)
            st["in"] += (tm.get("Input Metrics") or {}).get("Bytes Read", 0)
            st["out"] += (tm.get("Output Metrics") or {}).get("Bytes Written", 0)
            for acc in ti.get("Accumulables", []):
                if acc.get("ID") in self.python_accums:
                    st["python"] = True
                if acc.get("ID") in self.python_time_accums:
                    try:
                        st["python_s"] += float(acc.get("Update", 0)) / 1000.0
                    except (TypeError, ValueError):
                        pass
        elif kind.endswith("SparkListenerSQLExecutionStart") or kind.endswith(
            "SparkListenerSQLAdaptiveExecutionUpdate"
        ):
            self._plan(ev.get("sparkPlanInfo") or {})

    def attribute(self, spans: list[dict]) -> dict[str, dict]:
        """Per-span sums. A job belongs to the span named by its job group;
        a job with no known group (session warm-ups, streaming micro-batches,
        jobs from helper threads in this process) belongs to the innermost span
        open when it was submitted."""
        ids = {s["id"]: s for s in spans}
        out = {s["id"]: _empty() for s in spans}
        by_start = sorted(spans, key=lambda s: s["start"])
        all_jobs = [(j["submit"], j["end"] or j["submit"]) for j in self.jobs.values()]
        for s in spans:
            wall = s["end"] - s["start"]
            out[s["id"]]["wall_s"] = wall
            out[s["id"]]["driver_s"] = wall - _union(all_jobs, s["start"], s["end"])
        counted: set[int] = set()  # a stage shared by later jobs ran once
        for _, job in sorted(self.jobs.items()):
            owner = ids.get(job["group"])
            if owner is None:
                inside = [s for s in by_start if s["start"] <= job["submit"] <= s["end"]]
                owner = inside[-1] if inside else None
            if owner is None:
                continue
            st_out = out[owner["id"]]
            st_out["jobs"] += 1
            for sid in job["stages"]:
                st = self.stages.get(sid)
                if not st or not st["tasks"] or sid in counted:
                    continue  # skipped (reused shuffle output)
                counted.add(sid)
                st_out["stages"] += 1
                st_out["tasks"] += len(st["tasks"])
                st_out["task_s"] += st["task_s"]
                if len(st["tasks"]) > 1:
                    med = statistics.median(st["tasks"])
                    if med > 0:
                        st_out["task_skew"] = max(st_out["task_skew"], max(st["tasks"]) / med)
                st_out["shuffle_write_mb"] += st["sw"] / MB
                st_out["shuffle_read_mb"] += st["sr"] / MB
                st_out["spill_mb"] += st["spill"] / MB
                st_out["input_mb"] += st["in"] / MB
                st_out["output_mb"] += st["out"] / MB
                if st["python_s"] > 0:
                    st_out["python_s"] += st["python_s"]
                elif st["python"]:
                    st_out["python_s"] += st["task_s"]
        return out
