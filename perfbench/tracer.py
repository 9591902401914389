"""Outside-in tracer: per-layer metrics from a Spark event log.

The traced run turns on ``spark.eventLog`` through ``get_spark``'s
``extra_conf``; nothing inside the package is instrumented. The
benchmark records one span (op, start, end) around each of its own
calls into the program. After the session stops, this module reads the
event log and attributes

- jobs to layers by their ``kg:<table>`` job description (set by
  ``KGPipeline._load_or`` around each table commit), and
- jobs, stages, tasks and SQL executions to benchmark ops by the span
  their submission time falls in.

Layers are named after the modules that do their work; a job whose
description names no table of the map below is counted as unlabeled.
"""

from __future__ import annotations

import glob
import json
import os
import statistics

#: layer -> the kg:<table> labels of its commits (perfbench/README.md
#: maps each layer to the modules doing its work)
LAYERS = {
    "extract": ["extracted"],
    "structure": ["struct_nodes", "struct_edges"],
    "linking": ["entities", "fuzzy_candidates", "name_links",
                "fuzzy_site_links"],
    "components": ["canonical_map"],
    "resolve": ["triples_resolved"],
    "materialize": ["nodes", "edges"],
}
TABLE_LAYER = {t: layer for layer, ts in LAYERS.items() for t in ts}
BROADCAST_JOINS = ("BroadcastHashJoin", "BroadcastNestedLoopJoin")
SHUFFLE_JOINS = ("SortMergeJoin", "ShuffledHashJoin")


def layer_of(description: str | None) -> str | None:
    if description and description.startswith("kg:"):
        return TABLE_LAYER.get(description[3:], "unlabeled")
    return None


class EventLog:
    """The parsed event log of one Spark application."""

    def __init__(self, path: str) -> None:
        self.jobs: dict[int, dict] = {}      # id -> submit, end, desc, exec
        self.stage_desc: dict[int, str | None] = {}
        self.stage_job: dict[int, int] = {}
        self.tasks: list[dict] = []
        self.plans: dict[int, dict] = {}     # execution id -> last plan
        self.exec_time: dict[int, int] = {}
        self.files_acc: set[int] = set()     # "number of files read" ids
        self.files_read: dict[int, int] = {}  # execution id -> files
        with open(path) as f:
            for line in f:
                self._event(json.loads(line))

    @classmethod
    def from_dir(cls, log_dir: str) -> "EventLog":
        files = [p for p in glob.glob(os.path.join(log_dir, "*"))
                 if not p.endswith(".inprogress")]
        if len(files) != 1:
            raise RuntimeError(f"expected one event log in {log_dir}, "
                               f"found {len(files)}")
        return cls(files[0])

    def _event(self, e: dict) -> None:
        kind = e["Event"]
        if kind == "SparkListenerJobStart":
            props = e.get("Properties") or {}
            exec_id = props.get("spark.sql.execution.id")
            self.jobs[e["Job ID"]] = {
                "id": e["Job ID"], "submit": e["Submission Time"], "end": None,
                "desc": props.get("spark.job.description"),
                "exec": int(exec_id) if exec_id is not None else None}
            for sid in e.get("Stage IDs", []):
                self.stage_job.setdefault(sid, e["Job ID"])
        elif kind == "SparkListenerJobEnd":
            self.jobs[e["Job ID"]]["end"] = e["Completion Time"]
        elif kind == "SparkListenerStageSubmitted":
            info = e["Stage Info"]
            props = e.get("Properties") or {}
            self.stage_desc[info["Stage ID"]] = props.get(
                "spark.job.description")
        elif kind == "SparkListenerTaskEnd":
            ti, tm = e["Task Info"], e.get("Task Metrics") or {}
            sw = tm.get("Shuffle Write Metrics") or {}
            self.tasks.append({
                "stage": e["Stage ID"],
                "launch": ti["Launch Time"], "finish": ti["Finish Time"],
                "run_ms": tm.get("Executor Run Time", 0),
                "cpu_ns": tm.get("Executor CPU Time", 0),
                "shuffle_b": sw.get("Shuffle Bytes Written", 0),
                "spill_b": (tm.get("Memory Bytes Spilled", 0)
                            + tm.get("Disk Bytes Spilled", 0))})
        elif kind.endswith("SparkListenerSQLExecutionStart"):
            self._plan(e["executionId"], e.get("sparkPlanInfo") or {})
            self.exec_time[e["executionId"]] = e.get("time", 0)
        elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
            self._plan(e["executionId"], e.get("sparkPlanInfo") or {})
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            # scan file counts are driver-side SQL metrics
            ex = e["executionId"]
            for acc, value in e.get("accumUpdates", []):
                if acc in self.files_acc:
                    self.files_read[ex] = self.files_read.get(ex, 0) + value

    def _plan(self, exec_id: int, plan: dict) -> None:
        self.plans[exec_id] = plan
        stack = [plan]
        while stack:
            node = stack.pop()
            self.files_acc.update(
                m["accumulatorId"] for m in node.get("metrics", [])
                if m.get("name") == "number of files read")
            stack.extend(node.get("children", []))

    # -- selection ----------------------------------------------------------
    def jobs_in(self, t0_ms: float, t1_ms: float) -> list[dict]:
        return [j for j in self.jobs.values()
                if t0_ms <= j["submit"] <= t1_ms]

    def stage_ids_of(self, jobs: list[dict]) -> set[int]:
        ids = {j["id"] for j in jobs}
        return {sid for sid, jid in self.stage_job.items() if jid in ids}


def _join_counts(plan: dict) -> tuple[int, int]:
    b = s = 0
    stack = [plan]
    while stack:
        node = stack.pop()
        name = node.get("nodeName", "")
        b += name in BROADCAST_JOINS
        s += name in SHUFFLE_JOINS
        stack.extend(node.get("children", []))
    return b, s


def _sweep(intervals: list[tuple[float, float, object]],
           t0: float, t1: float):
    """Yield (duration, active_keys) over [t0, t1] for keyed intervals,
    clipped to the window."""
    edges = []
    for a, b, key in intervals:
        a, b = max(a, t0), min(b, t1)
        if b > a:
            edges += [(a, 1, key), (b, -1, key)]
    edges.sort(key=lambda e: (e[0], e[1]))
    active: dict = {}
    prev = t0
    for t, step, key in edges + [(t1, 0, None)]:
        if t > prev:
            yield t - prev, list(active)
            prev = t
        if step:
            active[key] = active.get(key, 0) + step
            if not active[key]:
                del active[key]


def build_metrics(log: EventLog, t0: float, t1: float,
                  table_rows: dict[str, int]) -> dict[str, float]:
    """Per-layer metrics of one pipeline build spanning [t0, t1] (epoch
    seconds). ``table_rows`` is the pipeline's own lineage row count per
    committed table."""
    t0_ms, t1_ms = t0 * 1000, t1 * 1000
    jobs = log.jobs_in(t0_ms, t1_ms)
    out: dict[str, float] = {}
    # layer span: concurrent time is split evenly among running layers,
    # so spans + unlabeled + driver gap add up to the wall exactly
    spans = {layer: 0.0 for layer in LAYERS}
    spans["unlabeled"] = 0.0
    gap = 0.0
    ivals = [(j["submit"], j["end"] or t1_ms,
              layer_of(j["desc"]) or "unlabeled") for j in jobs]
    for dur, active in _sweep(ivals, t0_ms, t1_ms):
        layers = set(active)
        if not layers:
            gap += dur
        for layer in layers:
            spans[layer] += dur / len(layers)
    # serial time: wall with at most one task running
    stage_ids = log.stage_ids_of(jobs)
    tasks = [t for t in log.tasks if t["stage"] in stage_ids]
    serial = sum(dur for dur, active in _sweep(
        [(t["launch"], t["finish"], i) for i, t in enumerate(tasks)],
        t0_ms, t1_ms) if len(active) <= 1)

    for layer, tables in LAYERS.items():
        ljobs = [j for j in jobs if layer_of(j["desc"]) == layer]
        sids = {s for s in stage_ids if layer_of(log.stage_desc.get(s))
                == layer}
        ltasks = [t for t in tasks if t["stage"] in sids]
        run_s = sum(t["run_ms"] for t in ltasks) / 1e3
        cpu_s = sum(t["cpu_ns"] for t in ltasks) / 1e9
        out[f"{layer}.jobs"] = len(ljobs)
        out[f"{layer}.span_s"] = spans[layer] / 1e3
        out[f"{layer}.exec_run_s"] = run_s
        out[f"{layer}.jvm_cpu_s"] = cpu_s
        out[f"{layer}.offcpu_s"] = max(run_s - cpu_s, 0.0)
        out[f"{layer}.shuffle_mb"] = sum(t["shuffle_b"] for t in ltasks) / 1e6
        out[f"{layer}.spill_mb"] = sum(t["spill_b"] for t in ltasks) / 1e6
        out[f"{layer}.skew"] = _skew(ltasks)
        out[f"{layer}.rows"] = sum(max(table_rows.get(t, 0), 0)
                                   for t in tables)
        if layer in ("linking", "resolve"):
            b = s = 0
            for ex in {j["exec"] for j in ljobs if j["exec"] is not None}:
                jb, js = _join_counts(log.plans.get(ex, {}))
                b, s = b + jb, s + js
            out[f"{layer}.broadcast_joins"] = b
            out[f"{layer}.shuffle_joins"] = s
    wall = t1 - t0
    out["pipeline.wall_s"] = wall
    out["pipeline.jobs"] = len(jobs)
    out["pipeline.driver_gap_s"] = gap / 1e3
    out["pipeline.unlabeled_s"] = spans["unlabeled"] / 1e3
    out["pipeline.serial_s"] = serial / 1e3
    out["pipeline.accounted_frac"] = (
        sum(spans[layer] for layer in LAYERS) + gap) / 1e3 / wall
    return out


def _skew(tasks: list[dict]) -> float:
    """max / median task time in the stage with the most task time."""
    by_stage: dict[int, list[float]] = {}
    for t in tasks:
        by_stage.setdefault(t["stage"], []).append(t["finish"] - t["launch"])
    if not by_stage:
        return 0.0
    durs = max(by_stage.values(), key=sum)
    med = statistics.median(durs)
    return max(durs) / med if med > 0 else 1.0


def op_metrics(log: EventLog, t0: float, t1: float) -> dict[str, float]:
    """Jobs one op submitted and files its SQL executions read."""
    t0_ms, t1_ms = t0 * 1000, t1 * 1000
    files = sum(n for ex, n in log.files_read.items()
                if t0_ms <= log.exec_time.get(ex, 0) <= t1_ms)
    return {"jobs": len(log.jobs_in(t0_ms, t1_ms)), "files_read": files}
