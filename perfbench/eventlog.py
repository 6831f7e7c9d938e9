"""Standard-library parser for Spark's JSON event log, streaming progress
records and the benchmark's spans.

The benchmark sets one job property (`OP_PROPERTY`) around each call it
times; Spark copies it onto every job and stage the call starts, including
the micro-batches of streams started inside it. `parse` charges each task's
metrics to that property's value (an operation path such as
"q01_pricing_summary/build" or "task:clients/write:CLIENTES").
"""

from __future__ import annotations

import json
import statistics
from collections import defaultdict

OP_PROPERTY = "perfbench.op"

_TASK_FIELDS = ("tasks", "run_ms", "cpu_ns", "gc_ms", "shuffle_write_bytes",
                "shuffle_read_bytes", "fetch_wait_ms", "spill_bytes",
                "input_bytes", "input_rows", "input_run_ms", "output_bytes",
                "output_rows", "python_run_ms")


def _new_agg() -> dict:
    agg = dict.fromkeys(_TASK_FIELDS, 0)
    agg.update(jobs=0, stages=0, executions=set(), files_written=0)
    return agg


def parse(lines) -> dict[str, dict]:
    """Aggregate task, stage, job and SQL-execution metrics per operation
    path. Events without the property land under "" (set-up, checks)."""
    ops: dict[str, dict] = defaultdict(_new_agg)
    stage_op: dict[tuple[int, int], str] = {}
    exec_op: dict[int, str] = {}
    written_ids: set[int] = set()
    pending_files: list[tuple[int, int, int]] = []
    for line in lines:
        line = line.strip()
        if not line:
            continue
        ev = json.loads(line)
        kind = ev.get("Event", "")
        if kind == "SparkListenerJobStart":
            props = ev.get("Properties") or {}
            op = props.get(OP_PROPERTY) or ""
            ops[op]["jobs"] += 1
            if "spark.sql.execution.id" in props:
                exec_id = int(props["spark.sql.execution.id"])
                ops[op]["executions"].add(exec_id)
                exec_op.setdefault(exec_id, op)
        elif kind == "SparkListenerStageSubmitted":
            info = ev["Stage Info"]
            op = (ev.get("Properties") or {}).get(OP_PROPERTY) or ""
            stage_op[(info["Stage ID"], info["Stage Attempt ID"])] = op
            ops[op]["stages"] += 1
        elif kind == "SparkListenerTaskEnd":
            op = stage_op.get((ev["Stage ID"], ev["Stage Attempt ID"]), "")
            _add_task(ops[op], ev)
        elif kind.endswith("SQLExecutionStart") or kind.endswith("SQLAdaptiveExecutionUpdate"):
            _collect_metric_ids(ev.get("sparkPlanInfo") or {}, written_ids)
        elif kind.endswith("SparkListenerDriverAccumUpdates"):
            for acc_id, value in ev.get("accumUpdates", []):
                pending_files.append((ev["executionId"], acc_id, value))
    for exec_id, acc_id, value in pending_files:
        if acc_id in written_ids:
            ops[exec_op.get(exec_id, "")]["files_written"] += value
    return dict(ops)


def _collect_metric_ids(plan: dict, out: set[int]) -> None:
    for metric in plan.get("metrics", []):
        if metric.get("name") == "number of written files":
            out.add(metric["accumulatorId"])
    for child in plan.get("children", []):
        _collect_metric_ids(child, out)


def _add_task(agg: dict, ev: dict) -> None:
    m = ev.get("Task Metrics") or {}
    if not m:
        return
    sr = m.get("Shuffle Read Metrics", {})
    sw = m.get("Shuffle Write Metrics", {})
    agg["tasks"] += 1
    agg["run_ms"] += m.get("Executor Run Time", 0)
    agg["cpu_ns"] += m.get("Executor CPU Time", 0)
    agg["gc_ms"] += m.get("JVM GC Time", 0)
    agg["shuffle_write_bytes"] += sw.get("Shuffle Bytes Written", 0)
    agg["shuffle_read_bytes"] += sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0)
    agg["fetch_wait_ms"] += sr.get("Fetch Wait Time", 0)
    agg["spill_bytes"] += m.get("Disk Bytes Spilled", 0)
    read = m.get("Input Metrics", {})
    agg["input_bytes"] += read.get("Bytes Read", 0)
    agg["input_rows"] += read.get("Records Read", 0)
    if read.get("Bytes Read", 0):   # time of the tasks that scan a source
        agg["input_run_ms"] += m.get("Executor Run Time", 0)
    agg["output_bytes"] += m.get("Output Metrics", {}).get("Bytes Written", 0)
    agg["output_rows"] += m.get("Output Metrics", {}).get("Records Written", 0)
    for acc in ev.get("Task Info", {}).get("Accumulables", []):
        if acc.get("Name") == "time to run Python workers":
            agg["python_run_ms"] += int(acc.get("Update") or 0)


def streaming_progress(lines) -> list[dict]:
    """The QueryProgressEvent records of an event log, as progress dicts."""
    out = []
    for line in lines:
        if "QueryProgressEvent" in line:
            ev = json.loads(line)
            if ev.get("Event", "").endswith("QueryProgressEvent"):
                out.append(ev["progress"])
    return out


def sum_ops(ops: dict[str, dict], keep) -> dict:
    """Merge the aggregates of every operation path for which `keep(path)`."""
    total = _new_agg()
    for path, agg in ops.items():
        if not keep(path):
            continue
        for key, value in agg.items():
            if key == "executions":
                total[key] |= value
            else:
                total[key] += value
    return total


def self_times(spans: list[dict]) -> dict[int, float]:
    """Self time per span: its duration minus the time its children cover.
    Children of one span run one after another on one thread, so their
    durations do not overlap."""
    child_time: dict[int, float] = defaultdict(float)
    for s in spans:
        if s["parent"] is not None:
            child_time[s["parent"]] += s["t1"] - s["t0"]
    return {s["id"]: (s["t1"] - s["t0"]) - child_time[s["id"]] for s in spans}


_DURATIONS = {"trigger_ms": "triggerExecution", "add_batch_ms": "addBatch",
              "query_planning_ms": "queryPlanning", "wal_commit_ms": "walCommit",
              "commit_offsets_ms": "commitOffsets", "latest_offset_ms": "latestOffset",
              "get_batch_ms": "getBatch"}


def streaming_layer(progress: list[dict]) -> dict[str, float]:
    """Per-layer streaming metrics from progress records (sums over
    batches; state sizes from each query's last batch)."""
    out = {f"streaming.{k}": 0.0 for k in _DURATIONS}
    out.update({"streaming.batches": len(progress), "streaming.input_rows": 0,
                "streaming.state_commit_ms": 0.0, "streaming.state_rows_updated": 0,
                "streaming.state_rows_removed": 0})
    overhead = []
    last: dict[str, dict] = {}
    for p in progress:
        d = p.get("durationMs") or {}
        for key, src in _DURATIONS.items():
            out[f"streaming.{key}"] += d.get(src, 0)
        overhead.append(d.get("triggerExecution", 0) - d.get("addBatch", 0))
        # the listener's JSON carries numInputRows; the event log only per source
        out["streaming.input_rows"] += p.get("numInputRows", sum(
            so.get("numInputRows", 0) for so in p.get("sources") or []))
        for st in p.get("stateOperators") or []:
            out["streaming.state_commit_ms"] += st.get("commitTimeMs", 0)
            out["streaming.state_rows_updated"] += st.get("numRowsUpdated", 0)
            out["streaming.state_rows_removed"] += st.get("numRowsRemoved", 0)
        last[p.get("runId", "")] = p
    ops = [st for p in last.values() for st in p.get("stateOperators") or []]
    out["streaming.overhead_ms"] = statistics.median(overhead) if overhead else 0.0
    out["streaming.state_rows_total"] = sum(st.get("numRowsTotal", 0) for st in ops)
    out["streaming.state_memory_bytes"] = sum(st.get("memoryUsedBytes", 0) for st in ops)
    out["streaming.state_stores"] = sum(st.get("numStateStoreInstances", 0) for st in ops)
    return out


def read_lines(path: str) -> list[str]:
    with open(path) as fh:
        return fh.readlines()
