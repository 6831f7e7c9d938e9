"""Orchestration: the reference's Airflow DAG re-expressed as a job graph.

Reference (SURVEY.md §2.11): 9 sequential PythonOperator tasks in dependency
order (dag_maestros.py:112-159), weekday-aware date windows (:10-22), retry
(:33-34), per-load audit logging, per-task error isolation (continue on
failure). The reference runs them one after another only because Airflow
`standalone` uses the SequentialExecutor. Here:

- O1  the declared dependencies (`Task.depends_on`) are the only order: each
      task starts, in its own thread, as soon as its dependencies have
      finished, so independent tasks overlap their Spark jobs. A dependency
      must name an earlier task, which also rules out cycles.
- O2  scheduling stays outside the engine (cron/Airflow around spark-submit).
- O3  retries wrap each task (Spark task-level retries cover compute).
- O4  every task outcome lands in the audit log as a driver-side one-row
      parquet file (sinks.audit_log_entry; no Spark job), in the order the
      tasks finish.
- O5  the per-company loop is gone — company_id is a column.
- O6  a failing task doesn't stop the DAG; it logs and continues (the
      reference's try/except-per-task), and the run result says who failed.
- incremental pulls use a BOOKMARK table: each job records the window it
  completed; the next run resumes from there (the reference recomputes
  yesterday's window from the wall clock — a bookmark is the idempotent,
  backfill-friendly version of the same contract).
"""

from __future__ import annotations

import datetime as dt
import functools
import os
import threading
import time
from collections.abc import Callable, Sequence
from dataclasses import dataclass, field
from typing import Any

from pyspark import inheritable_thread_target
from pyspark.sql import SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_docker_spark.functions import date_window
from etl_docker_spark.sinks.writers import append_row, audit_log_entry


@dataclass
class JobContext:
    spark: SparkSession
    warehouse: str                      # base dir for output tables
    log_path: str                       # audit log table
    quarantine: str                     # failed-batch dumps
    bookmarks_path: str = ""

    def __post_init__(self) -> None:
        self.bookmarks_path = self.bookmarks_path or f"{self.warehouse}/_bookmarks"


@dataclass
class Task:
    name: str
    fn: Callable[[JobContext], int | None]   # returns rows written (optional)
    retries: int = 1
    retry_delay_s: float = 2.0
    depends_on: Sequence[str] = field(default_factory=tuple)


def run_concurrently(spark: SparkSession,
                     fns: Sequence[Callable[[], Any]]) -> list[Any]:
    """Call each of `fns` in its own thread; return their results in order.

    Each thread starts with the caller's Spark local properties and tags
    (`inheritable_thread_target`), so job groups, descriptions and pools
    set by the caller reach every job the calls start. Waits for every
    call to finish, then re-raises the error of the first function in
    `fns` that raised, so no call is still writing when the caller sees
    the failure.
    """
    results: list[Any] = [None] * len(fns)
    errors: list[BaseException | None] = [None] * len(fns)

    def call(i: int, fn: Callable[[], Any]) -> None:
        try:
            results[i] = fn()
        except BaseException as exc:  # noqa: BLE001 — re-raised below, after every call
            errors[i] = exc

    # one wrapper per thread: each clones the caller's properties, so a
    # property one thread sets stays out of its siblings' jobs
    threads = [threading.Thread(target=inheritable_thread_target(spark)(call),
                                args=(i, fn))
               for i, fn in enumerate(fns)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    for exc in errors:
        if exc is not None:
            raise exc
    return results


def _check_dependencies(tasks: Sequence[Task]) -> None:
    """Every task name is unique and every dependency names an earlier
    task; a forward or unknown name (or a cycle) would otherwise leave a
    task waiting, or running before what it needs."""
    seen: set[str] = set()
    for task in tasks:
        if task.name in seen:
            raise ValueError(f"task {task.name!r} is listed twice")
        bad = [dep for dep in task.depends_on if dep not in seen]
        if bad:
            raise ValueError(f"task {task.name!r} depends on {bad}, "
                             "which are not earlier tasks")
        seen.add(task.name)


def _attempt(ctx: JobContext, task: Task) -> str:
    """Run `task` with its retries; one audit row for the outcome."""
    err: str | None = None
    for attempt in range(task.retries + 1):
        try:
            rows = task.fn(ctx)
            audit_log_entry(ctx.spark, ctx.log_path, task.name,
                            rows, rows, True, None)
            return "ok"
        except Exception as exc:  # noqa: BLE001 — O6 error isolation
            err = f"{type(exc).__name__}: {exc}"
            if attempt < task.retries:
                time.sleep(task.retry_delay_s * (attempt + 1))
    audit_log_entry(ctx.spark, ctx.log_path, task.name, 0, None, False, err[:2000])
    return "failed"


def run_dag(ctx: JobContext, tasks: Sequence[Task]) -> dict[str, str]:
    """Run tasks with dependency + error isolation semantics (O1, O3, O6).

    Every task runs in its own thread and starts once its dependencies
    have finished. Returns {task_name: 'ok' | 'failed' | 'skipped'} in
    `tasks` order; a task whose dependency did not end 'ok' is skipped
    (the reference's linear chain stops the chain; explicit deps make that
    precise). Raises ValueError before running anything unless every
    dependency names an earlier task.
    """
    _check_dependencies(tasks)
    status: dict[str, str] = {}
    finished = {task.name: threading.Event() for task in tasks}

    def run(task: Task) -> None:
        try:
            for dep in task.depends_on:
                finished[dep].wait()
            if all(status.get(dep) == "ok" for dep in task.depends_on):
                status[task.name] = _attempt(ctx, task)
            else:
                status[task.name] = "skipped"
                audit_log_entry(ctx.spark, ctx.log_path, task.name, None, None,
                                False, "skipped: dependency failed")
        finally:
            finished[task.name].set()

    run_concurrently(ctx.spark, [functools.partial(run, task) for task in tasks])
    return {task.name: status[task.name] for task in tasks}


# ----------------------------------------------------------------- bookmarks


BOOKMARK_SCHEMA = T.StructType([
    T.StructField("job", T.StringType()),
    T.StructField("window_end", T.DateType()),
])


class Bookmarks:
    """Per-job incremental high-water marks in a tiny parquet table."""

    def __init__(self, ctx: JobContext) -> None:
        self.ctx = ctx
        self.path = ctx.bookmarks_path

    def last_window_end(self, job: str) -> dt.date | None:
        if not os.path.exists(self.path):
            return None
        df = self.ctx.spark.read.parquet(self.path)
        row = (df.filter(F.col("job") == job)
               .agg(F.max("window_end").alias("m")).first())
        return row.m if row and row.m else None

    def next_window(self, job: str, run_date: dt.date | None = None) -> tuple[dt.date, dt.date]:
        """Resume from the bookmark; first run falls back to the reference's
        weekday-aware yesterday window (dag_maestros.py:10-22).

        A caught-up job yields start > end (an EMPTY window) — callers must
        treat that as nothing-to-pull rather than issuing a reversed range.
        """
        run_date = run_date or dt.date.today()
        last = self.last_window_end(job)
        if last is None:
            return date_window(run_date)
        return last + dt.timedelta(days=1), run_date - dt.timedelta(days=1)

    def next_window_or_none(self, job: str,
                            run_date: dt.date | None = None) -> tuple[dt.date, dt.date] | None:
        """Like next_window, but returns None when the job is caught up —
        the safe API for callers that would otherwise send a reversed date
        range to a source."""
        start, end = self.next_window(job, run_date)
        return None if start > end else (start, end)

    def advance(self, job: str, window_end: dt.date) -> None:
        """Record `window_end` as `job`'s high-water mark: one driver-side
        row (sinks.writers.append_row), no Spark job."""
        append_row(self.path, {"job": job, "window_end": window_end},
                   BOOKMARK_SCHEMA)


MASTER_DATA_ORDER = (
    "families", "categories", "trademarks", "attribute_categories",
    "attributes", "suppliers", "clients", "items", "oc_categories",
)
