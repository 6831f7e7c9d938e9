"""Tests for the event-log parser and the layer arithmetic.

`data/eventlog.jsonl` is a small event log recorded from a traced session
(pruned to the events the parser reads) and `data/spans.json` the spans of
that session: one pass holding a batch query (build, noop action), a
stream replaying two files, and a DAG task whose write counts and then
writes, plus one audit append.
"""

from __future__ import annotations

import json
import os
import statistics
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path.insert(0, os.path.dirname(HERE))

import eventlog  # noqa: E402
import layers  # noqa: E402

DATA = os.path.join(HERE, "data")


@pytest.fixture(scope="module")
def lines() -> list[str]:
    return eventlog.read_lines(os.path.join(DATA, "eventlog.jsonl"))


@pytest.fixture(scope="module")
def ops(lines) -> dict:
    return eventlog.parse(lines)


@pytest.fixture(scope="module")
def spans() -> list[dict]:
    with open(os.path.join(DATA, "spans.json")) as fh:
        return json.load(fh)


def test_parse_charges_work_to_operation_paths(ops):
    assert set(ops) == {"", "p2/q01_demo/action", "p2/s01_demo/build",
                        "p2/full/task:families/write:ARTICULO_FAMILIA", "p2/full"}
    action = ops["p2/q01_demo/action"]
    assert (action["jobs"], action["stages"], action["tasks"]) == (2, 2, 3)
    assert action["input_rows"] == 5000
    assert action["shuffle_write_bytes"] == action["shuffle_read_bytes"] > 0


def test_lazy_builder_starts_no_job_and_stream_jobs_are_eager(ops):
    assert "p2/q01_demo/build" not in ops
    stream = ops["p2/s01_demo/build"]
    assert stream["jobs"] == 2 and stream["input_rows"] == 200
    assert stream["input_run_ms"] > 0


def test_count_then_write_is_two_sql_executions(ops):
    write = ops["p2/full/task:families/write:ARTICULO_FAMILIA"]
    assert len(write["executions"]) == 2
    assert write["output_rows"] == 300
    assert write["files_written"] == 2


def test_sum_ops_merges_sets_and_counts(ops):
    total = eventlog.sum_ops(ops, lambda p: p.startswith("p2/"))
    assert total["jobs"] == 2 + 2 + 3 + 1
    assert total["executions"] == {2, 4, 6, 7, 8, 9}
    none = eventlog.sum_ops(ops, lambda p: False)
    assert none["jobs"] == 0 and none["executions"] == set()


def test_streaming_layer_from_event_log(lines):
    progress = eventlog.streaming_progress(lines)
    m = eventlog.streaming_layer(progress)
    assert m["streaming.batches"] == 2
    assert m["streaming.input_rows"] == 200
    trig = [p["durationMs"]["triggerExecution"] for p in progress]
    add = [p["durationMs"]["addBatch"] for p in progress]
    assert m["streaming.trigger_ms"] == sum(trig)
    assert m["streaming.overhead_ms"] == statistics.median(t - a for t, a in zip(trig, add))
    assert m["streaming.state_stores"] == 2


def test_streaming_layer_of_no_progress_is_zero():
    m = eventlog.streaming_layer([])
    assert all(v == 0 for v in m.values())


def test_self_times_subtract_children():
    spans = [
        {"id": 0, "parent": None, "name": "pass2", "t0": 0.0, "t1": 10.0},
        {"id": 1, "parent": 0, "name": "op", "t0": 1.0, "t1": 7.0},
        {"id": 2, "parent": 1, "name": "build", "t0": 1.0, "t1": 3.0},
        {"id": 3, "parent": 1, "name": "action", "t0": 3.5, "t1": 6.5},
        {"id": 4, "parent": 2, "name": "load_table", "t0": 1.5, "t1": 2.0},
    ]
    selfs = eventlog.self_times(spans)
    assert selfs == pytest.approx({0: 4.0, 1: 1.0, 2: 1.5, 3: 3.0, 4: 0.5})


def test_pass_layers_on_recorded_session(ops, spans, lines):
    records = [{"op": "q01_demo", "family": "q", "wall_s": 1.0},
               {"op": "s01_demo", "family": "s", "wall_s": 2.0}]
    dag = [{"pass": 2, "run": "full", "status": {"families": "ok"}, "attempts": 1}]
    m = layers.pass_layers(2, ops, spans, eventlog.streaming_progress(lines),
                           records, dag, cores=2, changed_rows=0)
    assert m["sinks.passes_per_table"] == 2
    assert m["sinks.audit_rows"] == 1
    assert m["plans.eager_jobs"] == 2          # the stream's micro-batches
    assert m["plans.jobs"] == 4
    assert m["plans.family.q_s"] == 1.0 and m["plans.family.s_s"] == 2.0
    action = next(s for s in spans if s["name"] == "action")
    busy = ops["p2/q01_demo/action"]["run_ms"] / 1000 / ((action["t1"] - action["t0"]) * 2)
    assert m["plans.core_busy_ratio"] == pytest.approx(busy)
    assert m["orchestration.tasks_ok"] == 1 and m["orchestration.retries"] == 0
    assert m["pipelines.families_s"] > 0
    assert set(m) | {"session.start_s", "session.jvm_gc_s", "llm.artifacts_trained",
                     "llm.train_s", "pydaemon.workers_spawned",
                     "trace.overhead_ratio"} == set(layers.PER_LAYER)


def test_benchmark_json_lists_every_reported_metric():
    root = os.path.dirname(os.path.dirname(HERE))
    with open(os.path.join(root, "BENCHMARK.json")) as fh:
        bench = json.load(fh)
    import run

    assert [m["name"] for m in bench["end_to_end"]] == list(run.E2E_UNITS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.E2E_UNITS
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == layers.PER_LAYER
    assert [w["name"] for w in bench["workloads"]] == ["batch_queries",
                                                       "stream_microbatch",
                                                       "etl_nightly"]
