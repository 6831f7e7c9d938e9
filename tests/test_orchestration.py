"""Orchestration tests: DAG error isolation, retries, concurrency, bookmarks."""

from __future__ import annotations

import datetime as dt
import sys
import threading
import time

import pytest

from etl_docker_spark.orchestration import (Bookmarks, JobContext, Task,
                                            run_concurrently, run_dag)


def ctx_for(spark, tmp_path) -> JobContext:
    return JobContext(spark, str(tmp_path / "wh"), str(tmp_path / "log"),
                      str(tmp_path / "q"))


def test_dag_error_isolation_and_deps(spark, tmp_path):
    ctx = ctx_for(spark, tmp_path)
    ran = []

    def ok(name):
        def fn(c):
            ran.append(name)
            return 1
        return fn

    def boom(c):
        raise RuntimeError("load failed")

    status = run_dag(ctx, [
        Task("families", ok("families")),
        Task("categories", boom, retries=1, retry_delay_s=0.0),
        Task("items", ok("items"), depends_on=("categories",)),   # must skip
        Task("suppliers", ok("suppliers")),                        # independent -> runs
    ])
    assert status == {"families": "ok", "categories": "failed",
                      "items": "skipped", "suppliers": "ok"}
    assert sorted(ran) == ["families", "suppliers"]

    log = spark.read.parquet(ctx.log_path)
    by_table = {r.load_table: r.status_ok for r in log.collect()}
    assert by_table == {"families": True, "categories": False,
                       "items": False, "suppliers": True}


def test_retry_then_success(spark, tmp_path):
    ctx = ctx_for(spark, tmp_path)
    attempts = []

    def flaky(c):
        attempts.append(1)
        if len(attempts) < 2:
            raise RuntimeError("transient")
        return 5

    status = run_dag(ctx, [Task("flaky", flaky, retries=2, retry_delay_s=0.0)])
    assert status == {"flaky": "ok"} and len(attempts) == 2


@pytest.mark.parametrize("tasks", [
    [Task("items", lambda c: 0, depends_on=("categories",)),
     Task("categories", lambda c: 0)],                            # forward
    [Task("families", lambda c: 0),
     Task("categories", lambda c: 0, depends_on=("famlies",))],   # misspelt
    [Task("a", lambda c: 0, depends_on=("a",))],                  # self cycle
    [Task("a", lambda c: 0), Task("a", lambda c: 0)],             # duplicate
], ids=["forward", "unknown", "self", "duplicate"])
def test_dag_rejects_bad_dependencies_before_running(spark, tmp_path, tasks):
    ctx = ctx_for(spark, tmp_path)
    ran = []
    for t in tasks:
        t.fn = lambda c, name=t.name: ran.append(name)
    with pytest.raises(ValueError, match=repr(tasks[-1].name)):
        run_dag(ctx, tasks)
    assert ran == []


def test_independent_tasks_run_at_the_same_time(spark, tmp_path):
    """Both tasks must be inside run_dag at once to pass the barrier; run
    one after the other, the first one's wait times out and both fail."""
    barrier = threading.Barrier(2, timeout=10)

    def meet(c):
        barrier.wait()
        return 1

    status = run_dag(ctx_for(spark, tmp_path), [
        Task("families", meet, retries=0),
        Task("suppliers", meet, retries=0),
    ])
    assert status == {"families": "ok", "suppliers": "ok"}


def test_dependent_task_starts_after_its_dependency_returns(spark, tmp_path):
    times = {}

    def slow(c):
        time.sleep(0.3)
        times["families_end"] = time.monotonic()
        return 1

    def after(c):
        times["categories_start"] = time.monotonic()
        return 1

    def other(c):
        times["trademarks_start"] = time.monotonic()
        return 1

    status = run_dag(ctx_for(spark, tmp_path), [
        Task("families", slow),
        Task("categories", after, depends_on=("families",)),
        Task("trademarks", other),
    ])
    assert set(status.values()) == {"ok"}
    assert times["categories_start"] >= times["families_end"]
    assert times["trademarks_start"] < times["families_end"]


def test_tasks_see_the_callers_local_properties(spark, tmp_path):
    sc = spark.sparkContext
    seen = {}

    def read(name):
        def fn(c):
            seen[name] = c.spark.sparkContext.getLocalProperty("etl.run")
            c.spark.sparkContext.setLocalProperty("etl.run", name)  # own copy
            return 1
        return fn

    sc.setLocalProperty("etl.run", "nightly")
    try:
        status = run_dag(ctx_for(spark, tmp_path), [
            Task("families", read("families")),
            Task("categories", read("categories"), depends_on=("families",)),
        ])
        assert sc.getLocalProperty("etl.run") == "nightly"
    finally:
        sc.setLocalProperty("etl.run", None)
    assert status == {"families": "ok", "categories": "ok"}
    assert seen == {"families": "nightly", "categories": "nightly"}


def test_run_concurrently_waits_for_all_then_raises_the_first_error(spark):
    finished = threading.Event()

    def fails_first():
        raise ValueError("first")

    def slow():
        time.sleep(0.3)
        finished.set()
        return 2

    def fails_later():
        time.sleep(0.1)
        raise KeyError("later")

    with pytest.raises(ValueError, match="first"):
        run_concurrently(spark, [fails_first, slow, fails_later])
    assert finished.is_set()
    assert run_concurrently(spark, [lambda: 1, slow, lambda: 3]) == [1, 2, 3]


def test_dag_stress_matches_serial_semantics(spark, tmp_path):
    """More tasks than cores and a short switch interval: every task that
    runs starts after all of its dependencies returned, and the statuses
    are those of a serial run (t5 fails, everything downstream skips)."""
    events = []

    def fn(name):
        def run(c):
            events.append(("start", name))
            if name == "t5":
                raise RuntimeError("load failed")
            events.append(("end", name))
            return 1
        return run

    tasks = [Task(f"t{i}", fn(f"t{i}"), retries=0,
                  depends_on=tuple(sorted({f"t{i // 2}", f"t{i // 3}"})) if i else ())
             for i in range(24)]
    want = {}
    for t in tasks:
        ok = all(want[d] == "ok" for d in t.depends_on)
        want[t.name] = ("failed" if t.name == "t5" else "ok") if ok else "skipped"

    got = {}
    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        runner = threading.Thread(
            target=lambda: got.update(run_dag(ctx_for(spark, tmp_path), tasks)))
        runner.start()
        runner.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not runner.is_alive()
    assert got == want
    pos = {e: k for k, e in enumerate(events)}
    assert {n for kind, n in events if kind == "start"} == \
        {n for n, st in want.items() if st != "skipped"}
    for t in tasks:
        if want[t.name] != "skipped":
            assert all(pos[("end", d)] < pos[("start", t.name)] for d in t.depends_on)


def test_bookmarks(spark, tmp_path):
    ctx = ctx_for(spark, tmp_path)
    bm = Bookmarks(ctx)
    # first run: weekday-aware fallback window (Wed -> yesterday..yesterday)
    w = bm.next_window("sales", run_date=dt.date(2026, 8, 12))
    assert w == (dt.date(2026, 8, 11), dt.date(2026, 8, 11))
    bm.advance("sales", dt.date(2026, 8, 11))
    # second run resumes after the bookmark
    w2 = bm.next_window("sales", run_date=dt.date(2026, 8, 14))
    assert w2 == (dt.date(2026, 8, 12), dt.date(2026, 8, 13))
    # unrelated job still gets the fallback
    assert bm.next_window("items", run_date=dt.date(2026, 8, 10)) == \
        (dt.date(2026, 8, 7), dt.date(2026, 8, 9))
