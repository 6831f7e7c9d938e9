"""Lakehouse table-format edge (Delta) — gated.

The engine's primary store here is plain parquet with the DataFrame-level
merge in operators/merge.py. On a deployment with the Delta jars,
`write_delta` lands the same frames as a Delta table. The jars do not
ship in this container, so it raises with the exact upgrade path.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def write_delta(df: DataFrame, path: str, mode: str = "append") -> None:
    try:
        df.write.format("delta").mode(mode).save(path)
    except Exception as exc:
        raise NotImplementedError(
            "Delta Lake jars are not on the classpath; add io.delta:delta-spark "
            "and spark.sql.extensions=io.delta.sql.DeltaSparkSessionExtension. "
            "Until then operators.merge.merge_upsert_path provides the same "
            "latest-state-by-PK contract over parquet."
        ) from exc
