"""CDC merge for streams (the reference's cancellation-update pattern, K3,
made continuous).

`foreachBatch` gives exactly-once-per-epoch batch semantics; each micro-batch
is upserted into the parquet target with the same latest-state-by-PK contract
as operators.merge (idempotent on replay, so at-least-once delivery is safe).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql.streaming import StreamingQuery

from etl_docker_spark.operators.merge import merge_upsert_path
from etl_docker_spark.sinks.writers import overwrite_parquet, read_table


def merge_stream_into(stream: DataFrame, path: str, keys: Sequence[str],
                      order_by: Sequence[Column] | None = None,
                      checkpoint: str | None = None,
                      compare_target: bool = False) -> StreamingQuery:
    """MERGE a stream of updates into a parquet table; returns the query,
    started under an availableNow trigger.

    `compare_target=True` (with `order_by`) makes the result independent of
    micro-batch arrival order — a late batch with an older version of a key
    never clobbers newer state (see operators.merge.merge_upsert)."""
    spark = stream.sparkSession

    def upsert_batch(batch: DataFrame, epoch_id: int) -> None:
        merge_upsert_path(spark, path, batch, keys, order_by, compare_target)

    writer = stream.writeStream.foreachBatch(upsert_batch)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.trigger(availableNow=True).start()


def scd2_stream_into(stream: DataFrame, path: str, keys: Sequence[str],
                     attrs: Sequence[str], ts_col: str = "ts",
                     checkpoint: str | None = None) -> StreamingQuery:
    """Maintain an SCD2 history table from a stream of updates; returns
    the query, started under an availableNow trigger.

    Each micro-batch folds into the parquet history via
    operators.scd2.scd2_apply — the warehouse's slowly-changing-dimension
    maintenance loop run continuously. Because scd2_apply recomputes
    valid_to/is_current over the whole version set and dedups per
    (key, valid_from), the final history is independent of micro-batch
    ARRIVAL ORDER and idempotent under replay — late batches insert
    their versions into the middle of history instead of clobbering it
    (provided (key, ts) is unique in the feed; pre-dedup upstream).
    Each fold writes the new history in one pass, swapped in by
    `overwrite_parquet` as in merge_upsert_path; on Delta, a MERGE INTO."""
    from etl_docker_spark.operators.scd2 import scd2_apply

    def fold(batch: DataFrame, epoch_id: int) -> None:
        history = read_table(batch.sparkSession, path)
        overwrite_parquet(scd2_apply(history, batch, keys, attrs, ts_col), path)

    writer = stream.writeStream.foreachBatch(fold)
    if checkpoint:
        writer = writer.option("checkpointLocation", checkpoint)
    return writer.trigger(availableNow=True).start()
