"""Per-layer metrics of a traced run: spans, event-log aggregates and
streaming progress of each warm pass, averaged over the warm passes.

Layer names are the engine's modules. A workload that never enters a layer
reports 0 for it; that is the "unchanged on this workload" prediction.
"""

from __future__ import annotations

import statistics
from collections import defaultdict

import eventlog

TASKS = ("families", "categories", "trademarks", "attributes", "suppliers",
         "clients", "sales_documents")
FAMILIES = ("q", "d", "e", "g", "s")

# name -> unit, in report order
PER_LAYER = {
    "session.start_s": "s", "session.jvm_gc_s": "s",
    "catalog.load_s": "s", "catalog.scan_bytes": "bytes", "catalog.scan_rows": "rows",
    "plans.build_s": "s", "plans.action_s": "s", "plans.eager_jobs": "count",
    "plans.jobs": "count", "plans.stages": "count", "plans.tasks": "count",
    "plans.task_cpu_s": "s", "plans.task_run_s": "s", "plans.core_busy_ratio": "ratio",
    "plans.gc_s": "s", "plans.shuffle_write_bytes": "bytes",
    "plans.shuffle_read_bytes": "bytes", "plans.fetch_wait_s": "s",
    "plans.spill_bytes": "bytes",
    **{f"plans.family.{f}_s": "s" for f in FAMILIES},
    "llm.artifacts_trained": "count", "llm.train_s": "s",
    "pydaemon.python_exec_s": "s", "pydaemon.workers_spawned": "count",
    "streaming.batches": "count", "streaming.input_rows": "rows",
    "streaming.trigger_ms": "ms", "streaming.add_batch_ms": "ms",
    "streaming.query_planning_ms": "ms", "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms", "streaming.latest_offset_ms": "ms",
    "streaming.get_batch_ms": "ms", "streaming.overhead_ms": "ms",
    "streaming.state_commit_ms": "ms", "streaming.state_rows_total": "rows",
    "streaming.state_rows_updated": "rows", "streaming.state_rows_removed": "rows",
    "streaming.state_memory_bytes": "bytes", "streaming.state_stores": "count",
    "sources.read_s": "s", "sources.read_bytes": "bytes", "sources.read_rows": "rows",
    **{f"pipelines.{t}_s": "s" for t in TASKS},
    "sinks.bytes_written": "bytes", "sinks.rows_written": "rows",
    "sinks.files_written": "count", "sinks.passes_per_table": "count",
    "sinks.audit_s": "s", "sinks.audit_rows": "rows",
    "merge.upsert_s": "s", "merge.rows_rewritten_per_changed_row": "ratio",
    "orchestration.tasks_ok": "count", "orchestration.retries": "count",
    "orchestration.overhead_s": "s",
    "trace.overhead_ratio": "ratio",
}


def _pass_spans(spans: list[dict], k: int) -> list[dict]:
    """The spans under pass k's span."""
    kids = defaultdict(list)
    for s in spans:
        kids[s["parent"]].append(s)
    roots = [s for s in spans if s["name"] == f"pass{k}"]
    out, todo = [], list(roots)
    while todo:
        s = todo.pop()
        out.append(s)
        todo.extend(kids[s["id"]])
    return out


def pass_layers(k: int, ops: dict, spans: list[dict], progress: list[dict],
                records: list[dict], dag_runs: list[dict], cores: int,
                changed_rows: int) -> dict[str, float]:
    """Layer metrics of warm pass k (additive figures are per pass)."""
    pre = f"p{k}/"
    selfs = eventlog.self_times(spans)
    mine = _pass_spans(spans, k)

    def span_sum(name: str, self_time: bool = False) -> float:
        return sum(selfs[s["id"]] if self_time else s["t1"] - s["t0"]
                   for s in mine if s["name"] == name)

    def parts(path: str) -> list[str]:
        return path.split("/") if path.startswith(pre) else []

    def step(path: str, i: int) -> str:
        """Component i of a pass-k path ("" if absent): query paths are
        p<k>/<query>/build|action, DAG paths p<k>/<run>/task:<t>/write:<T>."""
        ps = parts(path)
        return ps[i] if len(ps) > i else ""

    names = {r["op"] for r in records}
    query = eventlog.sum_ops(ops, lambda p: step(p, 1) in names)
    build = eventlog.sum_ops(ops, lambda p: step(p, 1) in names and step(p, 2) == "build")
    action = eventlog.sum_ops(ops, lambda p: step(p, 1) in names and step(p, 2) == "action")
    everything = eventlog.sum_ops(ops, lambda p: p.startswith(pre))
    action_s = span_sum("action")
    m: dict[str, float] = {
        "catalog.load_s": span_sum("load_table"),
        "catalog.scan_bytes": query["input_bytes"],
        "catalog.scan_rows": query["input_rows"],
        "plans.build_s": span_sum("build", self_time=True),
        "plans.action_s": action_s,
        "plans.eager_jobs": build["jobs"],
        "plans.jobs": query["jobs"], "plans.stages": query["stages"],
        "plans.tasks": query["tasks"],
        "plans.task_cpu_s": query["cpu_ns"] / 1e9,
        "plans.task_run_s": query["run_ms"] / 1000,
        "plans.core_busy_ratio": (action["run_ms"] / 1000 / (action_s * cores)
                                  if action_s else 0.0),
        "plans.gc_s": query["gc_ms"] / 1000,
        "plans.shuffle_write_bytes": query["shuffle_write_bytes"],
        "plans.shuffle_read_bytes": query["shuffle_read_bytes"],
        "plans.fetch_wait_s": query["fetch_wait_ms"] / 1000,
        "plans.spill_bytes": query["spill_bytes"],
        "pydaemon.python_exec_s": everything["python_run_ms"] / 1000,
    }
    for fam in FAMILIES:   # DAG task records carry the DAG run as family
        m[f"plans.family.{fam}_s"] = sum(r["wall_s"] for r in records if r["family"] == fam)
    m.update(eventlog.streaming_layer(progress))

    task_paths = lambda p: any(x.startswith("task:") for x in parts(p))  # noqa: E731
    source = eventlog.sum_ops(ops, lambda p: task_paths(p)
                              and not any(x.startswith("merge:") for x in parts(p)))
    sink = eventlog.sum_ops(ops, task_paths)
    merged = eventlog.sum_ops(ops, lambda p: step(p, 1) == "incr"
                              and any(x.startswith("merge:") for x in parts(p)))
    writes = [len(agg["executions"]) for path, agg in ops.items()
              if step(path, 1) == "full" and step(path, 3).startswith("write:")]
    runs = [r for r in dag_runs if r["pass"] == k]
    m.update({
        "sources.read_s": source["input_run_ms"] / 1000,
        "sources.read_bytes": source["input_bytes"],
        "sources.read_rows": source["input_rows"],
        "sinks.bytes_written": sink["output_bytes"],
        "sinks.rows_written": sink["output_rows"],
        "sinks.files_written": sink["files_written"],
        "sinks.passes_per_table": statistics.mean(writes) if writes else 0.0,
        "sinks.audit_s": span_sum("audit_log_entry"),
        "sinks.audit_rows": sum(1 for s in mine if s["name"] == "audit_log_entry"),
        "merge.upsert_s": span_sum("merge_upsert_path"),
        "merge.rows_rewritten_per_changed_row": (merged["output_rows"] / changed_rows
                                                 if changed_rows else 0.0),
        "orchestration.tasks_ok": sum(v == "ok" for r in runs for v in r["status"].values()),
        "orchestration.retries": sum(r["attempts"] - len(r["status"]) for r in runs),
        "orchestration.overhead_s": span_sum("run_dag", self_time=True),
    })
    for task in TASKS:
        m[f"pipelines.{task}_s"] = sum(s["t1"] - s["t0"] for s in mine
                                       if s["layer"] == "pipelines" and s["name"] == task)
    return m


def average(per_pass: list[dict[str, float]]) -> dict[str, float]:
    keys = per_pass[0].keys() if per_pass else ()
    return {k: statistics.mean(p[k] for p in per_pass) for k in keys}
