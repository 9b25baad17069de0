"""Spark event-log reader: per-op totals and the plan-node -> layer map.

The benchmark tags every job of op ``i`` with the local property
``qfbench.op = i``; an op's tasks are the tasks of its jobs' stages.  SQL
metrics arrive as accumulator updates (on tasks, or on the driver for
driver-side metrics) whose ids the plan descriptions in the
``SQLExecutionStart`` / ``SQLAdaptiveExecutionUpdate`` events map to plan
nodes.  Plan nodes map to the pipeline's layers by ``LAYER_RULES``.
"""

from __future__ import annotations

import json
from collections import defaultdict

OP_PROPERTY = "qfbench.op"

# (node name prefix, simpleString substring, layer).  First match wins.
LAYER_RULES = [
    ("ArrowEvalPython", "feats(", "featurize"),
    ("ArrowEvalPython", "lu_key(", "mask_frequency_dict"),
    ("Exchange", "RoundRobinPartitioning", "salt"),
    ("Exchange", "hashpartitioning(conv_id", "conversation_layout.exchange"),
    ("HashAggregate", "keys=[lu_key", "mask_frequency_dict.agg"),
    ("BroadcastExchange", "", "with_mask_frequency"),
    ("Sort", "[conv_id", "conversation_layout"),
    ("Execute InsertIntoHadoopFsRelationCommand", "", "write"),
]
# one unit per SQL metric type: seconds for timings, MB for sizes
_SCALE = {"timing": 1e-3, "nsTiming": 1e-9, "size": 1e-6}


def node_layer(name: str, simple: str) -> str | None:
    for prefix, needle, layer in LAYER_RULES:
        if name.startswith(prefix) and needle in simple:
            if layer == "mask_frequency_dict.agg" and "partial_" in simple:
                return None  # the map-side partial count
            return layer
    return None


def _walk(plan: dict):
    yield plan
    for child in plan.get("children", ()):
        yield from _walk(child)


class OpStats:
    """Everything the log says about one op."""

    def __init__(self) -> None:
        self.jobs: set[int] = set()
        self.job_submit: list[float] = []  # epoch seconds
        self.stages: set[int] = set()
        self.tasks = 0
        self.gc_s = 0.0
        self.shuffle_bytes = 0
        # (layer, metric name) -> total, in seconds / MB / count
        self.node: dict[tuple[str, str], float] = defaultdict(float)
        # layer -> run times (s) of the tasks of stages holding its node
        self.layer_tasks: dict[str, list[float]] = defaultdict(list)
        self.layer_spill_mb: dict[str, float] = defaultdict(float)
        # stage -> (submitted, completed) epoch seconds, for labelled stages
        self.layer_stage_span: dict[int, tuple[float, float]] = {}
        # write executions: (start epoch s, written MB, commit s)
        self.writes: list[tuple[float, float, float]] = []


def read(path: str) -> dict[int, OpStats]:
    """Per-op statistics of one application's (uncompressed) event log."""
    acc_node: dict[int, tuple[str, str, str, int]] = {}
    exec_start: dict[int, float] = {}
    exec_op: dict[int, int] = {}
    stage_op: dict[int, int] = {}
    stage_span: dict[int, tuple[float, float]] = {}
    stage_layers: dict[int, set[str]] = defaultdict(set)
    task_rows: list[tuple[int, float, int, float, int, dict]] = []
    driver_updates: list[tuple[int, int, float]] = []
    ops: dict[int, OpStats] = defaultdict(OpStats)

    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind.endswith("SQLExecutionStart") or kind.endswith(
                    "SQLAdaptiveExecutionUpdate"):
                eid = ev["executionId"]
                if "time" in ev:
                    exec_start[eid] = ev["time"] / 1e3
                for node in _walk(ev["sparkPlanInfo"]):
                    layer = node_layer(node["nodeName"], node["simpleString"])
                    if layer:
                        for m in node["metrics"]:
                            acc_node[m["accumulatorId"]] = (
                                layer, m["name"], m["metricType"], eid)
            elif kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                if OP_PROPERTY not in props:
                    continue
                op = int(props[OP_PROPERTY])
                ops[op].jobs.add(ev["Job ID"])
                ops[op].job_submit.append(ev["Submission Time"] / 1e3)
                if "spark.sql.execution.id" in props:
                    exec_op[int(props["spark.sql.execution.id"])] = op
                for sid in ev["Stage IDs"]:
                    stage_op.setdefault(sid, op)
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                if "Completion Time" in info and "Submission Time" in info:
                    stage_span[info["Stage ID"]] = (
                        info["Submission Time"] / 1e3,
                        info["Completion Time"] / 1e3)
            elif kind == "SparkListenerTaskEnd":
                if ev["Task End Reason"]["Reason"] != "Success":
                    continue
                tm = ev["Task Metrics"]
                updates = {
                    a["ID"]: float(a["Update"])
                    for a in ev["Task Info"]["Accumulables"]
                    if a["ID"] in acc_node
                }
                task_rows.append((
                    ev["Stage ID"], tm["Executor Run Time"] / 1e3,
                    tm["Shuffle Write Metrics"]["Shuffle Bytes Written"],
                    tm["JVM GC Time"] / 1e3, tm["Disk Bytes Spilled"], updates))
                for acc in updates:
                    stage_layers[ev["Stage ID"]].add(acc_node[acc][0])
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                for acc, val in ev["accumUpdates"]:
                    driver_updates.append((ev["executionId"], acc, float(val)))

    node_exec_updates: dict[tuple[int, int], float] = defaultdict(float)
    for sid, run_s, shuffle, gc_s, spill, updates in task_rows:
        if sid not in stage_op:
            continue
        st = ops[stage_op[sid]]
        st.tasks += 1
        st.stages.add(sid)
        st.gc_s += gc_s
        st.shuffle_bytes += shuffle
        for layer in stage_layers[sid]:
            st.layer_tasks[layer].append(run_s)
            st.layer_spill_mb[layer] += spill / 1e6
        for acc, val in updates.items():
            node_exec_updates[(acc_node[acc][3], acc)] += val
    for eid, acc, val in driver_updates:
        if acc in acc_node:
            node_exec_updates[(eid, acc)] += val

    write_exec: dict[int, list[float]] = defaultdict(lambda: [0.0, 0.0])
    for (eid, acc), val in node_exec_updates.items():
        layer, name, mtype, plan_eid = acc_node[acc]
        op = exec_op.get(eid, exec_op.get(plan_eid))
        if op is None:
            continue
        val *= _SCALE.get(mtype, 1.0)
        ops[op].node[(layer, name)] += val
        if layer == "write":
            if name == "written output":
                write_exec[eid][0] += val
            elif name in ("task commit time", "job commit time"):
                write_exec[eid][1] += val
    for eid, (mb, commit_s) in write_exec.items():
        op = exec_op.get(eid)
        if op is not None:
            ops[op].writes.append((exec_start.get(eid, 0.0), mb, commit_s))
    for sid, layers in stage_layers.items():
        if sid in stage_op and sid in stage_span and layers:
            ops[stage_op[sid]].layer_stage_span[sid] = stage_span[sid]
    return dict(ops)
