"""Spans around calls into the engine's layers, and the Spark event-log
metrics attributed to them.

A span records (id, parent, layer, name, run id, start, end). While a
span is open its id is the Spark job group of the calling thread, so
``statusTracker().getJobIdsForGroup`` counts the jobs it ran and the
event log ties every stage back to it. ``Tracer.call`` splits one call
into its *build* (the Python call that returns a DataFrame, including any
eager jobs it runs) and its *exec* (the action the benchmark runs on the
result), each under its own job group.

With tracing disabled ``Tracer.call`` runs build and action and records
nothing, so traced and untraced runs execute the same engine calls.
"""

from __future__ import annotations

import contextlib
import json
import os
import statistics
import time

OPERATOR_LAYERS = (
    "operators.knn",
    "operators.fts",
    "operators.search",
    "operators.graph",
    "operators.dedup",
    "operators.corpus",
    "operators.textstats",
    "dsl",
)
# layers the benchmark opens spans for (the session's start is timed on its own)
LAYERS = ("sources",) + OPERATOR_LAYERS + ("pipeline", "streaming")
CALL_METRICS = (
    ("build_ms", "ms"),
    ("plan_ms", "ms"),
    ("exec_ms", "ms"),
    ("jobs_build", "count"),
    ("jobs_exec", "count"),
    ("tasks", "count"),
    ("shuffle_write_bytes", "bytes"),
    ("spill_bytes", "bytes"),
    ("peak_exec_mem_bytes", "bytes"),
    ("gc_ms", "ms"),
)
EXTRA_METRICS = (
    ("functions.python_bytes_sent", "bytes"),
    ("functions.python_bytes_received", "bytes"),
    ("functions.python_rows", "count"),
    ("pipeline.detect_ms", "ms"),
    ("pipeline.parse_ms", "ms"),
    ("pipeline.chunk_embed_ms", "ms"),
    ("pipeline.sink_ms", "ms"),
    ("pipeline.bytes_written", "bytes"),
    ("pipeline.reembed_ratio", "ratio"),
    ("streaming.batches", "count"),
    ("streaming.batch_ms", "ms"),
    ("streaming.planning_ms", "ms"),
    ("streaming.input_rows", "count"),
    ("session.start_ms", "ms"),
    ("sources.load_ms", "ms"),
    ("operators.dedup.candidate_yield", "ratio"),
    ("operators.knn.rows_scored_per_result", "ratio"),
    ("tracing.overhead_frac", "ratio"),
    ("tracing.uncovered_frac", "ratio"),
)
PIPELINE_STAGES = ("detect", "parse", "chunk_embed", "sink")
PYTHON_NODES = ("MapInPandas", "ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas",
                "MapInArrow", "FlatMapCoGroupsInPandas", "AggregateInPandas", "WindowInPandas")


def per_layer_names() -> list[tuple[str, str]]:
    """Every per-layer metric a traced run emits, with its unit."""
    names = [(f"{layer}.{m}", unit) for layer in OPERATOR_LAYERS for m, unit in CALL_METRICS]
    names += [(f"{layer}.self_ms", "ms") for layer in LAYERS]
    return names + list(EXTRA_METRICS)


class Tracer:
    """Span recorder bound to one Spark session (see module docstring)."""

    def __init__(self, spark, run_id: str, enabled: bool):
        self.sc = spark.sparkContext
        self.run_id = run_id
        self.enabled = enabled
        self.traced = enabled  # stays set when spans are paused for the checks
        self.spans: list[dict] = []
        self._stack: list[dict] = []
        self._next = 0
        self.cost_s = 0.0  # time spent in tracer calls into the JVM

    def _group(self, gid: str | None) -> None:
        t = time.perf_counter()
        self.sc.setLocalProperty("spark.jobGroup.id", gid)
        self.cost_s += time.perf_counter() - t

    def _jobs(self, gid: str) -> int:
        t = time.perf_counter()
        n = len(self.sc.statusTracker().getJobIdsForGroup(gid))
        self.cost_s += time.perf_counter() - t
        return n

    @contextlib.contextmanager
    def span(self, layer: str, name: str):
        if not self.enabled:
            yield None
            return
        self._next += 1
        sp = {
            "id": self._next,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "layer": layer,
            "name": name,
            "run_id": self.run_id,
            "start": time.time(),
            "groups": [],
        }
        gid = f"{self.run_id}:{sp['id']}"
        sp["groups"].append(gid)
        self._stack.append(sp)
        self._group(gid)
        try:
            yield sp
        finally:
            sp["end"] = time.time()
            sp["jobs"] = self._jobs(gid)
            self._stack.pop()
            self._group(self._stack[-1]["groups"][-1] if self._stack else None)
            self.spans.append(sp)

    def call(self, layer: str, name: str, build, action=None):
        """Run ``build()`` then ``action(result)`` (when given) as one call
        into ``layer``; returns the action's result, or the build's."""
        with self.span(layer, name) as sp:
            if sp is None:
                out = build()
                return action(out) if action is not None else out
            gid = sp["groups"][0]
            t0 = time.time()
            self._group(gid + ":b")
            out = build()
            t1 = time.time()
            sp["build_ms"] = (t1 - t0) * 1000
            sp["jobs_build"] = self._jobs(gid + ":b")
            sp["groups"].append(gid + ":b")
            if action is None:
                self._group(gid)
                return out
            self._group(gid + ":e")
            sp["action_epoch_ms"] = time.time() * 1000
            res = action(out)
            sp["exec_ms"] = (time.time() - t1) * 1000
            sp["jobs_exec"] = self._jobs(gid + ":e")
            sp["groups"].append(gid + ":e")
            self._group(gid)
            return res

    def write(self, path: str) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(sp) + "\n")


# -- event log --------------------------------------------------------------


def _acc(info: dict) -> dict[str, float]:
    out: dict[str, float] = {}
    for a in info.get("Accumulables", []):
        try:
            out[a["Name"]] = out.get(a["Name"], 0.0) + float(a["Value"])
        except (KeyError, TypeError, ValueError):
            continue
    return out


def _walk_plan(plan: dict, rows_ids: set[int]) -> None:
    """Collect the output-row accumulators of the plan's Python nodes."""
    if plan.get("nodeName", "") in PYTHON_NODES:
        rows_ids.update(m["accumulatorId"] for m in plan.get("metrics", [])
                        if m["name"] == "number of output rows")
    for child in plan.get("children", []):
        _walk_plan(child, rows_ids)


def read_event_log(log_dir: str) -> dict:
    """Parse every event-log file under ``log_dir`` into per-group stage
    totals, SQL execution start times and Python-edge totals."""
    jobs: dict[int, tuple[str | None, int | None, list[int]]] = {}
    stages: dict[int, dict] = {}
    sql_start: dict[int, float] = {}
    py_rows_ids: set[int] = set()
    stage_acc_by_id: dict[int, dict[int, float]] = {}
    for dirpath, _, files in os.walk(log_dir):
        for fn in sorted(files):
            if fn.startswith("."):
                continue
            with open(os.path.join(dirpath, fn)) as f:
                for line in f:
                    ev = json.loads(line)
                    kind = ev.get("Event", "")
                    if kind == "SparkListenerJobStart":
                        props = ev.get("Properties") or {}
                        eid = props.get("spark.sql.execution.id")
                        jobs[ev["Job ID"]] = (
                            props.get("spark.jobGroup.id"),
                            int(eid) if eid is not None else None,
                            list(ev.get("Stage IDs", [])),
                        )
                    elif kind == "SparkListenerStageCompleted":
                        info = ev["Stage Info"]
                        acc = _acc(info)
                        stages[info["Stage ID"]] = {
                            "tasks": info.get("Number of Tasks", 0),
                            "shuffle_write_bytes": acc.get("internal.metrics.shuffle.write.bytesWritten", 0.0),
                            "spill_bytes": acc.get("internal.metrics.memoryBytesSpilled", 0.0)
                            + acc.get("internal.metrics.diskBytesSpilled", 0.0),
                            "peak_exec_mem_bytes": acc.get("internal.metrics.peakExecutionMemory", 0.0),
                            "gc_ms": acc.get("internal.metrics.jvmGCTime", 0.0),
                            "py_sent": acc.get("data sent to Python workers", 0.0),
                            "py_received": acc.get("data returned from Python workers", 0.0),
                        }
                        stage_acc_by_id[info["Stage ID"]] = {
                            a["ID"]: float(a["Value"])
                            for a in info.get("Accumulables", [])
                            if str(a.get("Value")).lstrip("-").isdigit()
                        }
                    elif kind.endswith("SparkListenerSQLExecutionStart"):
                        sql_start[ev["executionId"]] = float(ev["time"])
                        _walk_plan(ev.get("sparkPlanInfo", {}), py_rows_ids)
                    elif kind.endswith("SparkListenerSQLAdaptiveExecutionUpdate"):
                        _walk_plan(ev.get("sparkPlanInfo", {}), py_rows_ids)
    groups: dict[str, dict] = {}
    for gid, eid, stage_ids in jobs.values():
        if gid is None:
            continue
        g = groups.setdefault(gid, {"stages": set(), "sql": set()})
        g["stages"].update(s for s in stage_ids if s in stages)
        if eid is not None:
            g["sql"].add(eid)
    for sid, acc in stage_acc_by_id.items():
        stages[sid]["py_rows"] = sum(v for aid, v in acc.items() if aid in py_rows_ids)
    return {"groups": groups, "stages": stages, "sql_start": sql_start}


def _stage_totals(log: dict, gids: list[str]) -> dict[str, float]:
    ids: set[int] = set()
    for gid in gids:
        ids |= log["groups"].get(gid, {}).get("stages", set())
    st = [log["stages"][i] for i in ids]
    return {
        "tasks": float(sum(s["tasks"] for s in st)),
        "shuffle_write_bytes": sum(s["shuffle_write_bytes"] for s in st),
        "spill_bytes": sum(s["spill_bytes"] for s in st),
        "peak_exec_mem_bytes": max((s["peak_exec_mem_bytes"] for s in st), default=0.0),
        "gc_ms": sum(s["gc_ms"] for s in st),
    }


def self_times(spans: list[dict]) -> dict[int, float]:
    """Span id -> self time in ms: its duration minus the part of it
    that its child spans cover (children of one span do not overlap)."""
    child_ms: dict[int, float] = {}
    for sp in spans:
        if sp["parent"] is not None:
            child_ms[sp["parent"]] = child_ms.get(sp["parent"], 0.0) + (sp["end"] - sp["start"]) * 1000
    return {sp["id"]: (sp["end"] - sp["start"]) * 1000 - child_ms.get(sp["id"], 0.0) for sp in spans}


def _root(sp: dict, by_id: dict[int, dict]) -> int:
    while sp["parent"] is not None:
        sp = by_id[sp["parent"]]
    return sp["id"]


def layer_metrics(spans: list[dict], log: dict) -> dict[str, float]:
    """Per-layer metrics from the spans of one traced phase.

    For each operator layer and ``dsl``: build/plan/exec times are the
    median per call; job, task, byte and GC figures are the mean per call
    (peak execution memory: the largest stage's summed task peaks).
    ``<layer>.self_ms`` is the layer's total self time over the phase.
    ``tracing.uncovered_frac`` is the share of root-span (request, job or
    build) wall time that no layer span covers."""
    out: dict[str, float] = {}
    selfs = self_times(spans)
    by_id = {sp["id"]: sp for sp in spans}
    for layer in LAYERS:
        out[f"{layer}.self_ms"] = sum(selfs[sp["id"]] for sp in spans if sp["layer"] == layer)
    for layer in OPERATOR_LAYERS:
        calls = [sp for sp in spans if sp["layer"] == layer and "build_ms" in sp]
        rows = []
        for sp in calls:
            r = {"build_ms": sp["build_ms"], "exec_ms": sp.get("exec_ms", 0.0),
                 "jobs_build": float(sp["jobs_build"]), "jobs_exec": float(sp.get("jobs_exec", 0))}
            r.update(_stage_totals(log, sp["groups"]))
            starts = [log["sql_start"][e] for e in log["groups"].get(sp["groups"][0] + ":e", {}).get("sql", ())
                      if e in log["sql_start"]]
            if starts and "action_epoch_ms" in sp:
                r["plan_ms"] = max(0.0, min(starts) - sp["action_epoch_ms"])
            rows.append(r)
        for m, _ in CALL_METRICS:
            vals = [r[m] for r in rows if m in r]
            if not vals:
                out[f"{layer}.{m}"] = 0.0
            elif m.endswith("_ms") and m != "gc_ms":
                out[f"{layer}.{m}"] = statistics.median(vals)
            else:
                out[f"{layer}.{m}"] = sum(vals) / len(vals)
    roots = [sp for sp in spans if sp["parent"] is None and sp["layer"] == "workload"]
    root_ms = sum((sp["end"] - sp["start"]) * 1000 for sp in roots)
    uncovered = sum(selfs[sp["id"]] for sp in roots)
    out["tracing.uncovered_frac"] = uncovered / root_ms if root_ms else 0.0
    for stage in PIPELINE_STAGES:
        # per index job (full build or changeset): the stage's summed span time
        per_root: dict[int, float] = {}
        for sp in spans:
            if sp["layer"] == "pipeline" and sp["name"] == stage:
                root = _root(sp, by_id)
                per_root[root] = per_root.get(root, 0.0) + (sp["end"] - sp["start"]) * 1000
        out[f"pipeline.{stage}_ms"] = statistics.median(per_root.values()) if per_root else 0.0
    # the Python edge, over every stage that a span of the window ran
    ids: set[int] = set()
    for sp in spans:
        for gid in sp["groups"]:
            ids |= log["groups"].get(gid, {}).get("stages", set())
    for key, name in (("py_sent", "python_bytes_sent"), ("py_received", "python_bytes_received"),
                      ("py_rows", "python_rows")):
        out[f"functions.{name}"] = sum(log["stages"][i][key] for i in ids)
    return out
