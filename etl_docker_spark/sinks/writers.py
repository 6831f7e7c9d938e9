"""Writers (SURVEY.md K1, K5, K7, K8).

- K1 chunked JDBC append -> `df.write.jdbc(batchsize=...)` (see sources.jdbc);
  the reference's ⌊2100/ncols⌋ chunk math (utils.py:40-46) is SQL Server bind-
  parameter bookkeeping that Spark's JDBC writer replaces with `batchsize`.
- K5 truncate-and-reload -> overwrite_parquet, the one full-table rewrite:
  it writes beside the table and renames it in, so a failed load keeps the
  old table (the reference's staging-table guarantee).
- K7 Excel quarantine dump on failure (CotyData_IPN.py:190 et al.) ->
  row-level parquet quarantine dir (route_rows_to_quarantine).
- K8 audit-log row per load (CotyData_IPN.py:19-61) -> append-only log table,
  one driver-side one-row parquet file per row (no Spark job).
"""

from __future__ import annotations

import datetime as dt
import os
import shutil
import uuid

from pyspark.sql import DataFrame, Observation, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

AUDIT_SCHEMA = T.StructType([
    T.StructField("load_table", T.StringType(), False),
    T.StructField("inserted_rows", T.LongType(), True),
    T.StructField("total_records", T.LongType(), True),
    T.StructField("status_ok", T.BooleanType(), False),
    T.StructField("error_msg", T.StringType(), True),
    T.StructField("ts", T.TimestampType(), False),
    T.StructField("source_url", T.StringType(), True),
])


def counting(df: DataFrame, obs: Observation) -> DataFrame:
    """`df` with a row counter attached: `obs.get["rows"]` is its row count
    once the first action over the returned frame has finished, taken by
    that pass instead of a second scan."""
    return df.observe(obs, F.count(F.lit(1)).alias("rows"))


def _settle(path: str) -> tuple[str, str]:
    """Finish a swap that a crash cut off if `.next` is complete (has
    `_SUCCESS`), else undo it; then drop what a failed write left. Returns
    the hidden `.<name>.next` and `.<name>.old` paths beside `path`."""
    head, name = os.path.split(os.path.normpath(path))
    nxt, old = (os.path.join(head, f".{name}.{s}") for s in ("next", "old"))
    if not os.path.exists(path):
        src = nxt if os.path.exists(os.path.join(nxt, "_SUCCESS")) else old
        if os.path.exists(src):
            os.rename(src, path)
    shutil.rmtree(nxt, ignore_errors=True)
    shutil.rmtree(old, ignore_errors=True)
    return nxt, old


def read_table(spark: SparkSession, path: str) -> DataFrame | None:
    """The parquet table in the local directory `path`, or None if there
    is none, after settling any swap a crash cut off."""
    _settle(path)
    return spark.read.parquet(path) if os.path.exists(path) else None


def overwrite_parquet(df: DataFrame, path: str,
                      partition_by: list[str] | None = None) -> int:
    """K5: replace the table in the local directory `path` with `df` in
    one pass; returns the rows written. `df` is written into the hidden
    sibling `.<name>.next`; then `path` is renamed to `.<name>.old`,
    `.next` to `path`, and `.old` is deleted. So a failed write leaves the
    old table, and `df` may read `path`. The counter sits directly under
    the write, in the result stage, where Spark applies each partition's
    count once even when a task retries."""
    nxt, old = _settle(path)
    obs = Observation()
    w = counting(df, obs).write.mode("overwrite")
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(nxt)
    if os.path.exists(path):
        os.rename(path, old)
    os.rename(nxt, path)
    shutil.rmtree(old, ignore_errors=True)
    return obs.get["rows"]


def overwrite_partitions_dynamic(df: DataFrame, path: str,
                                 partition_by: list[str]) -> None:
    """K5 at partition granularity: rewrite ONLY the partitions present in
    `df` (partitionOverwriteMode=dynamic), leaving sibling partitions
    untouched: re-running one day's load replaces that day's partition. A
    per-write option, so concurrent writers keep their own semantics."""
    (df.write.mode("overwrite").option("partitionOverwriteMode", "dynamic")
     .partitionBy(*partition_by).parquet(path))


def append_row(path: str, row: dict, schema: T.StructType) -> None:
    """Append `row` to the parquet table in the local directory `path` as
    a one-row parquet file written on the driver with pyarrow, under
    `schema`'s names and types, so it starts no Spark job. The file is
    written under a hidden `.part-*.tmp` name and renamed into place: a
    reader never sees a partial file, since Spark's reader skips
    dot-prefixed names."""
    import pyarrow as pa
    import pyarrow.parquet as pq
    from pyspark.sql.pandas.types import to_arrow_schema

    table = pa.Table.from_pylist([row], schema=to_arrow_schema(schema))
    os.makedirs(path, exist_ok=True)
    name = f"part-{uuid.uuid4()}"
    tmp = os.path.join(path, f".{name}.tmp")
    pq.write_table(table, tmp)
    os.replace(tmp, os.path.join(path, f"{name}.parquet"))


def audit_log_entry(spark: SparkSession, log_path: str, load_table: str,
                    inserted_rows: int | None, total_records: int | None,
                    status_ok: bool, error_msg: str | None = None,
                    source_url: str | None = None) -> None:
    """K8: one audit row per load attempt, appended to the log table.

    The row is appended with `append_row` (as the reference's single
    `to_sql` row), so it starts no Spark job; `spark` is unused and
    `log_path` is a local directory. The schema is `AUDIT_SCHEMA`'s.
    """
    append_row(log_path, {
        "load_table": load_table, "inserted_rows": inserted_rows,
        "total_records": total_records, "status_ok": status_ok,
        "error_msg": error_msg, "ts": dt.datetime.now(dt.timezone.utc),
        "source_url": source_url}, AUDIT_SCHEMA)


def route_rows_to_quarantine(df: DataFrame, valid, quarantine_dir: str,
                             log_path: str | None = None,
                             load_table: str = "unknown") -> DataFrame:
    """K7 at ROW granularity: split `df` on the `valid` boolean column
    expression, persist the invalid rows to a quarantine parquet dir for
    manual replay, and return the clean frame. The quarantine count comes
    from the quarantine write itself.

    The reference quarantines whole failed batches (CotyData_IPN.py:190);
    at 100 TB one malformed row must not poison a partition-sized batch, so
    the router is a single filter pass each way — no shuffle, predicate
    evaluated scan-side twice (cheaper than caching the full input just to
    split it once). An audit row records the quarantine count when
    `log_path` is given.

    NULL predicate rows go to QUARANTINE: `valid` is three-valued, and a
    plain filter(valid)/filter(~valid) pair silently drops NULL rows from
    BOTH sides (ADVICE r3) — a validity check that cannot decide is a
    failed validity check. The clean+quarantine partition invariant
    requires a DETERMINISTIC input: the two passes re-evaluate `df`, so a
    non-deterministic upstream (a re-fetched REST source, a sample)
    must be localCheckpoint()ed by the caller first.
    """
    decided = F.coalesce(valid, F.lit(False))
    n_bad = overwrite_parquet(df.filter(~decided), quarantine_dir)
    if log_path is not None:
        audit_log_entry(df.sparkSession, log_path, load_table, None, n_bad,
                        False, f"{n_bad} rows quarantined")
    return df.filter(decided)
