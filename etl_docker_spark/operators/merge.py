"""Merge/upsert operator (SURVEY.md K2-K4, J8 — the staging+stored-proc idiom).

The reference's load contract (CotyData_IPN.py:207-214 and ~20 siblings) is:
append a batch into a CARGA_* staging table, then a server-side procedure
merges it into the final table so the final table reflects latest-state-by-PK.
Row-by-row cancellation UPDATEs (K3, :1186-1204) are the same contract with a
one-column payload.

Here the lakehouse is the primary store, so MERGE is: new-snapshot =
(target ANTI-JOIN updates on key) UNION updates — one shuffle-free broadcast
anti join when updates are small, idempotent on replay (re-merging the same
batch is a no-op), which is exactly the staging/proc guarantee. On Delta this
would be `MERGE INTO`; the DataFrame-level semantics are identical.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame, Observation, SparkSession
from pyspark.sql import functions as F

from etl_docker_spark.operators.dedup import dedup_first
from etl_docker_spark.sinks.writers import counting, overwrite_parquet, read_table


def merge_upsert(target: DataFrame, updates: DataFrame, keys: Sequence[str],
                 order_by: Sequence[Column | str] | None = None,
                 compare_target: bool = False,
                 observation: Observation | None = None) -> DataFrame:
    """Latest-state-by-PK merge: rows from `updates` replace target rows with
    the same key; unmatched target rows survive; unmatched updates insert.

    If `updates` may carry several versions of one key, pass `order_by`
    (descending recency first) to pick the winner deterministically (A4).

    `compare_target=True` makes the merge OUT-OF-ORDER SAFE: the winner is
    picked by `order_by` across target AND updates together, so a late
    batch carrying an older version of a key can never overwrite newer
    state — the CDC contract when upstream delivery isn't time-ordered.
    Requires `order_by`. Costs one shuffle on the keys instead of the
    broadcast anti join; at scale, partition the target so only affected
    key ranges re-sort.

    `observation`, if given, counts the rows of `updates` (`["rows"]`) on
    the one branch that carries them into the result; the broadcast key
    set reads `updates` without it. `target` must then belong to
    `updates`' session, or the count never arrives. Whenever `order_by` is
    given, the count is taken below the dedup shuffle, in a map stage: a
    task retry is counted once, but a map stage that Spark re-runs after
    losing an executor counts its partitions again.
    """
    fed = counting(updates, observation) if observation is not None else updates
    if compare_target:
        if not order_by:
            raise ValueError("compare_target=True requires order_by")
        ups = fed.select(*target.columns)
        return dedup_first(target.unionByName(ups), keys, order_by)
    # dedup keeps one row per key, so the raw updates carry the same key set
    kept = target.join(F.broadcast(updates.select(*keys).distinct()),
                       on=list(keys), how="left_anti")
    ups = dedup_first(fed, keys, order_by) if order_by else fed
    return kept.unionByName(ups.select(*target.columns))  # align column order


def merge_upsert_path(spark: SparkSession, path: str, updates: DataFrame,
                      keys: Sequence[str],
                      order_by: Sequence[Column | str] | None = None,
                      compare_target: bool = False) -> int:
    """Path-based upsert into a parquet table (creates it on first write):
    the old snapshot is read while `overwrite_parquet` writes the new one
    beside it and swaps it in, so a failed merge leaves the table as it was.

    Returns the number of rows in `updates`, counted by that write, with
    `merge_upsert`'s map-stage caveat whenever `order_by` is given. The
    target is read in `updates`' session: an observation reports only to
    actions in the session of the frame it observes, and a foreachBatch
    micro-batch lives in the stream's own session, not in `spark`."""
    target = read_table(updates.sparkSession, path)
    obs = Observation()
    if target is None:
        fed = counting(updates, obs)
        merged = dedup_first(fed, keys, order_by) if order_by else fed
    else:
        merged = merge_upsert(target, updates, keys, order_by, compare_target, obs)
    overwrite_parquet(merged, path)
    return obs.get["rows"]


def apply_updates(target: DataFrame, updates: DataFrame, keys: Sequence[str],
                  set_cols: dict[str, Column]) -> DataFrame:
    """K3: the row-by-row UPDATE loops (flag cancellations, enable/disable) as
    one set-based merge: rows matching `updates` keys get `set_cols` applied.
    """
    marked = updates.select(*keys).distinct().withColumn("__upd", F.lit(True))
    joined = target.join(F.broadcast(marked), on=list(keys), how="left")
    out = joined
    for name, expr in set_cols.items():
        out = out.withColumn(name, F.when(F.col("__upd"), expr).otherwise(F.col(name)))
    return out.drop("__upd")
