"""One Spark pass per load: row counts come from the write itself, and the
audit and bookmark rows are driver-side parquet files that start no Spark
job. A table is replaced by writing beside it and renaming it in, so a
failed or cut-off rewrite never loses it."""

from __future__ import annotations

import contextlib
import copy
import datetime as dt
import json
import os
import time

import pytest
from pyspark.sql import functions as F

from etl_docker_spark import jobs
from etl_docker_spark.operators.merge import merge_upsert_path
from etl_docker_spark.orchestration import Bookmarks, JobContext
from etl_docker_spark.pipelines import master_data as md
from etl_docker_spark.pipelines import sales_documents as sd
from etl_docker_spark.sinks import writers
from etl_docker_spark.sinks.writers import (
    AUDIT_SCHEMA,
    audit_log_entry,
    overwrite_parquet,
    read_table,
    route_rows_to_quarantine,
)

_GROUP_PROPS = ("spark.jobGroup.id", "spark.job.description",
                "spark.job.interruptOnCancel")


@contextlib.contextmanager
def jobs_started(spark, group: str):
    """Collects the ids of the Spark jobs started inside the block."""
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    ids: list[int] = []
    try:
        yield ids
    finally:
        ids.extend(sc.statusTracker().getJobIdsForGroup(group))
        for prop in _GROUP_PROPS:
            sc.setLocalProperty(prop, None)


def _ctx(spark, tmp_path) -> JobContext:
    wh = str(tmp_path / "wh")
    return JobContext(spark, wh, f"{wh}/_etl_log", f"{wh}/_quarantine")


def test_write_is_one_pass(spark, tmp_path):
    fx = str(tmp_path / "fx")
    jobs.make_demo_fixtures(fx)
    df = md.transform_families(jobs._read(spark, fx, "families"))
    with jobs_started(spark, "bare_write") as bare:
        df.write.mode("overwrite").parquet(str(tmp_path / "bare"))
    with jobs_started(spark, "job_write") as counted:
        n = jobs._write(_ctx(spark, tmp_path), "ARTICULO_FAMILIA", df)
    assert n == len(jobs.DEMO["families"])
    assert len(bare) >= 1
    assert len(counted) == len(bare)


def test_audit_log_entry_starts_no_spark_job(spark, tmp_path):
    log = str(tmp_path / "log")
    with jobs_started(spark, "audit") as started:
        audit_log_entry(spark, log, "families", 2, 2, True)
    assert started == []
    names = os.listdir(log)
    assert len(names) == 1
    assert names[0].startswith("part-") and names[0].endswith(".parquet")


def test_audit_rows_from_spark_and_driver_read_back_alike(spark, tmp_path):
    log = str(tmp_path / "log")
    old_ts = dt.datetime(2024, 3, 1, 10, 0, 0)
    spark.createDataFrame(
        [("spark_row", 3, 4, False, "boom", old_ts, None)], AUDIT_SCHEMA,
    ).write.mode("append").parquet(log)
    t0 = time.time()
    audit_log_entry(spark, log, "driver_row", 5, 7, True, None, "http://api/x")
    t1 = time.time()

    df = spark.read.parquet(log)
    assert [(f.name, f.dataType) for f in df.schema] == \
        [(f.name, f.dataType) for f in AUDIT_SCHEMA]
    cols = [f.name for f in AUDIT_SCHEMA if f.name != "ts"]
    rows = {r["load_table"]: r for r in
            df.select(*cols, F.unix_micros("ts").alias("us")).collect()}
    assert {k: tuple(r[c] for c in cols) for k, r in rows.items()} == {
        "spark_row": ("spark_row", 3, 4, False, "boom", None),
        "driver_row": ("driver_row", 5, 7, True, None, "http://api/x"),
    }
    want_old = int(old_ts.replace(tzinfo=dt.timezone.utc).timestamp() * 1e6)
    assert rows["spark_row"]["us"] == want_old
    assert int(t0 * 1e6) - 1000 <= rows["driver_row"]["us"] <= int(t1 * 1e6) + 1000


def test_stray_temp_file_is_invisible_to_readers(spark, tmp_path):
    log = str(tmp_path / "log")
    audit_log_entry(spark, log, "families", 2, 2, True)
    before = sorted(map(tuple, spark.read.parquet(log).collect()))
    # what a crash between the temp write and the rename leaves behind
    with open(os.path.join(log, ".part-crashed.tmp"), "wb") as fh:
        fh.write(b"PAR1 truncated")
    assert sorted(map(tuple, spark.read.parquet(log).collect())) == before


def test_bookmark_advance_starts_no_spark_job(spark, tmp_path):
    bm = Bookmarks(_ctx(spark, tmp_path))
    with jobs_started(spark, "bookmark") as started:
        bm.advance("items", dt.date(2024, 3, 12))
    assert started == []
    assert bm.last_window_end("items") == dt.date(2024, 3, 12)


def test_bookmarks_from_spark_and_driver_read_back_alike(spark, tmp_path):
    ctx = _ctx(spark, tmp_path)
    bm = Bookmarks(ctx)
    spark.createDataFrame([("items", dt.date(2024, 3, 10))],
                          "job string, window_end date") \
        .write.mode("append").parquet(ctx.bookmarks_path)
    run_date = dt.date(2024, 3, 20)
    assert bm.next_window("items", run_date) == \
        (dt.date(2024, 3, 11), dt.date(2024, 3, 19))
    bm.advance("items", dt.date(2024, 3, 14))
    assert bm.next_window("items", run_date) == \
        (dt.date(2024, 3, 15), dt.date(2024, 3, 19))
    assert bm.last_window_end("other") is None


def test_quarantine_count_comes_from_its_write(spark, tmp_path):
    df = spark.range(50)
    qdir, log = str(tmp_path / "quar"), str(tmp_path / "audit")
    with jobs_started(spark, "quarantine") as started:
        route_rows_to_quarantine(df, F.col("id") % 5 != 0, qdir,
                                 log_path=log, load_table="probe")
    assert len(started) == 1   # the quarantine write, nothing else
    assert spark.read.parquet(log).first()["total_records"] == 10


def test_merge_upsert_path_returns_update_rows(spark, tmp_path):
    path = str(tmp_path / "t")
    first = spark.createDataFrame([(1, "a"), (2, "b")], "k long, v string")
    assert merge_upsert_path(spark, path, first, ["k"]) == 2
    # two versions of k=2 in one batch: the newest wins, both are counted
    ups = spark.createDataFrame([(2, "b1", 1), (2, "b2", 2), (3, "c", 1)],
                                "k long, v string, ver int")
    n = merge_upsert_path(spark, path, ups.select("k", "v"), ["k"],
                          order_by=[F.desc("v")])
    assert n == 3
    got = {r["k"]: r["v"] for r in spark.read.parquet(path).collect()}
    assert got == {1: "a", 2: "b2", 3: "c"}


def _window_fixtures(path: str) -> None:
    """The demo input with document 1 changed and document 2 added."""
    jobs.make_demo_fixtures(path)
    doc1 = copy.deepcopy(jobs.DEMO["sales_documents"][0])
    doc1["Neto"], doc1["InvoiceTotal"] = 200.0, 214.95
    doc2 = copy.deepcopy(doc1)
    doc2.update(SaleID=2, InvoiceNumberChr="0001-00000002")
    doc2["Items"] = [dict(doc1["Items"][0], DetailID=2, SaleID=2),
                     dict(doc1["Items"][0], DetailID=3, SaleID=2, ItemID=10)]
    doc2["Payments"] = [dict(doc1["Payments"][0], PaymentID=2, SaleID=2)]
    with open(os.path.join(path, "sales_documents.jsonl"), "w") as fh:
        for doc in (doc1, doc2):
            fh.write(json.dumps(doc) + "\n")


def _sales_task(spark, fixtures: str, incremental: bool):
    (task,) = [t for t in jobs.build_tasks(spark, fixtures, incremental)
               if t.name == "sales_documents"]
    return task


def _separate_counts(spark, fixtures: str) -> dict[str, int]:
    tables = sd.sales_document_tables(jobs._read(spark, fixtures, "sales_documents"))
    return {name: df.count() for name, df in tables.items()}


def test_sales_documents_total_matches_table_counts(spark, tmp_path):
    full, window = str(tmp_path / "full"), str(tmp_path / "window")
    jobs.make_demo_fixtures(full)
    _window_fixtures(window)
    ctx = _ctx(spark, tmp_path)

    full_counts = _separate_counts(spark, full)
    assert _sales_task(spark, full, False).fn(ctx) == sum(full_counts.values())
    for name, n in full_counts.items():
        assert spark.read.parquet(f"{ctx.warehouse}/{name}").count() == n

    window_counts = _separate_counts(spark, window)
    assert window_counts == {"VENTAS": 2, "CARGA_VENTAS_DETALLE": 3,
                             "VENTAS_METODOS_PAGO": 2}
    assert _sales_task(spark, window, True).fn(ctx) == sum(window_counts.values())
    for name, n in window_counts.items():   # the window covers every key
        assert spark.read.parquet(f"{ctx.warehouse}/{name}").count() == n


def _rows(spark, path: str) -> list[tuple]:
    return sorted(map(tuple, spark.read.parquet(path).collect()))


def _leftovers(tmp_path) -> list[str]:
    return sorted(n for n in os.listdir(tmp_path) if n.startswith("."))


@pytest.mark.parametrize("rewrite", ["overwrite_parquet", "merge_upsert_path"])
def test_failed_rewrite_keeps_the_old_table(spark, tmp_path, rewrite):
    path = str(tmp_path / "t")
    overwrite_parquet(spark.createDataFrame([(1, "a"), (2, "b")],
                                            "k long, v string"), path)
    bad = spark.createDataFrame([(2, "b2"), (3, "c")], "k long, v string") \
        .withColumn("v", F.when(F.col("k") == 3, F.raise_error(F.lit("boom")))
                    .otherwise(F.col("v")))
    with pytest.raises(Exception, match="boom"):
        if rewrite == "overwrite_parquet":
            overwrite_parquet(bad, path)
        else:
            merge_upsert_path(spark, path, bad, ["k"])
    assert _rows(spark, path) == [(1, "a"), (2, "b")]
    merge_upsert_path(spark, path, bad.filter("k = 2"), ["k"])
    assert _rows(spark, path) == [(1, "a"), (2, "b2")]
    assert _leftovers(tmp_path) == []


@pytest.mark.parametrize("resume", ["read_table", "merge_upsert_path"])
def test_swap_cut_off_between_renames_rolls_forward(spark, tmp_path,
                                                    monkeypatch, resume):
    path = str(tmp_path / "t")
    merge_upsert_path(spark, path, spark.createDataFrame(
        [(1, "a")], "k long, v string"), ["k"])
    real_rename = os.rename

    def rename(src, dst):
        if dst == path:   # the old table has already been moved aside
            raise OSError("crash between the renames")
        real_rename(src, dst)

    monkeypatch.setattr(writers.os, "rename", rename)
    with pytest.raises(OSError, match="between the renames"):
        merge_upsert_path(spark, path, spark.createDataFrame(
            [(1, "a2"), (2, "b")], "k long, v string"), ["k"])
    monkeypatch.undo()
    assert not os.path.exists(path)
    assert _leftovers(tmp_path) == [".t.next", ".t.old"]

    if resume == "read_table":
        got = sorted(map(tuple, read_table(spark, path).collect()))
        assert got == [(1, "a2"), (2, "b")]
    else:
        merge_upsert_path(spark, path, spark.createDataFrame(
            [(3, "c")], "k long, v string"), ["k"])
        assert _rows(spark, path) == [(1, "a2"), (2, "b"), (3, "c")]
    assert _leftovers(tmp_path) == []


@pytest.mark.parametrize("old_moved_aside", [False, True])
def test_incomplete_next_is_dropped(spark, tmp_path, old_moved_aside):
    """A `.next` without `_SUCCESS` is a write that never finished: it is
    removed, and the table (moved back, if the swap had begun) is
    unchanged."""
    path = str(tmp_path / "t")
    overwrite_parquet(spark.createDataFrame([(1, "a")], "k long, v string"), path)
    nxt = str(tmp_path / ".t.next")
    spark.createDataFrame([(9, "z")], "k long, v string").write.parquet(nxt)
    os.remove(os.path.join(nxt, "_SUCCESS"))
    if old_moved_aside:
        os.rename(path, str(tmp_path / ".t.old"))
    assert sorted(map(tuple, read_table(spark, path).collect())) == [(1, "a")]
    assert _leftovers(tmp_path) == []
    assert read_table(spark, str(tmp_path / "absent")) is None
