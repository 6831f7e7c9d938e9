"""Incremental-window load job (EP3 shape, end to end).

Reference contract (CotyData_IPN.py:597-601): each run pulls THREE date
windows from the API — items created, modified, and deleted inside the
window — merges them into the target (latest state per Id; deletions
flip the enabled flag), and the next run resumes where this one ended.

Spark-first version: the window comes from the BOOKMARK table instead of
the wall clock (orchestration.Bookmarks) — idempotent and backfillable;
the three pulls are one paginated source each; the merge is the set-based
out-of-order-safe upsert (operators.merge.merge_upsert_path with
compare_target) instead of row loops. Re-running a completed window is a
no-op BY CONSTRUCTION twice over: the bookmark yields an empty window
(nothing fetched), and even a forced replay of the same batch merges to
the identical snapshot (pinned in tests/test_incremental_job.py).
"""

from __future__ import annotations

import datetime as dt

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_docker_spark.operators.merge import merge_upsert_path
from etl_docker_spark.orchestration import Bookmarks, JobContext
from etl_docker_spark.sources.rest import FetchFn, RestEndpoint, paginated_read_driver

ITEM_FEED_SCHEMA = T.StructType([
    T.StructField("Id", T.LongType(), False),
    T.StructField("Code", T.StringType(), True),
    T.StructField("Description", T.StringType(), True),
    T.StructField("CreationDatetime", T.StringType(), True),
    T.StructField("ModificationDatetime", T.StringType(), True),
    T.StructField("DeletionDatetime", T.StringType(), True),
])

ITEMS_WINDOWED = RestEndpoint(name="items_windowed", schema=ITEM_FEED_SCHEMA)

JOB_NAME = "items_incremental"
_KEYS = ["Id"]


def _order():
    # winner across target+updates: latest modification, deletions break
    # ties (a same-instant delete must not be overwritten by its own
    # modify row). Built lazily: Column exprs need an active session.
    return [F.desc("ModificationDatetime"), F.desc("enabled_rank")]


def _target_shape(feed: DataFrame) -> DataFrame:
    enabled = F.col("DeletionDatetime").isNull()
    return feed.select(
        "Id", "Code", "Description",
        "CreationDatetime", "ModificationDatetime",
        enabled.alias("ENABLED"),
        # rank column makes the deletion win deterministic when a delete
        # and a modify carry the same modification timestamp
        F.when(enabled, F.lit(0)).otherwise(F.lit(1)).alias("enabled_rank"),
    )


def run_items_incremental(ctx: JobContext, fetch: FetchFn,
                          run_date: dt.date) -> dict[str, object]:
    """One scheduled run: bookmark window -> 3 pulls -> merge -> advance.

    Returns a status dict ({"status": "caught_up"} when the bookmark says
    there is nothing to pull — the re-run no-op path).
    """
    bm = Bookmarks(ctx)
    window = bm.next_window_or_none(JOB_NAME, run_date)
    if window is None:
        return {"status": "caught_up", "rows": 0}
    start, end = window
    preds = {"date_from": start.isoformat(), "date_to": end.isoformat()}

    def pull(field: str) -> DataFrame:
        return paginated_read_driver(
            ctx.spark, ITEMS_WINDOWED, fetch,
            predicates={**preds, "field": field})

    created = _target_shape(pull("created"))
    modified = _target_shape(pull("modified"))
    deleted = _target_shape(pull("deleted"))
    updates = created.unionByName(modified).unionByName(deleted)

    target_path = f"{ctx.warehouse}/ARTICULOS_INCR"
    n = merge_upsert_path(ctx.spark, target_path, updates, keys=_KEYS,
                          order_by=_order(), compare_target=True)
    bm.advance(JOB_NAME, end)
    return {"status": "ok", "rows": n, "window": (start, end)}


def read_target(ctx: JobContext) -> DataFrame:
    return (ctx.spark.read.parquet(f"{ctx.warehouse}/ARTICULOS_INCR")
            .drop("enabled_rank"))
