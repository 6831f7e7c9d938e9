"""Table catalog for the synthetic test corpus (TESTDATA.md).

Loaders return lazy DataFrames over parquet so Catalyst keeps predicate
pushdown / column pruning; nothing is cached here by default. On a real
cluster these would be external-catalog tables (partitioned by date /
company), but the access pattern — `t(spark, sf_dir, name)` — is identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    df = spark.read.parquet(f"{sf_dir}/{name}.parquet")
    # events.ts arrives in whatever physical type the corpus generator chose:
    # TIMESTAMP(NANOS) reads as a raw nanos LongType (under
    # spark.sql.legacy.parquet.nanosAsLong — set in session.py), plain
    # micros reads as TIMESTAMP_NTZ. Normalize both to the session-zone
    # TIMESTAMP the query surface expects; the session zone is pinned UTC,
    # so the NTZ cast is wall-clock-preserving and `div` keeps the nanos
    # arithmetic in exact integer space (ns floor-div 1000 == DuckDB's
    # ns->us truncation).
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    for field in df.schema.fields:
        if field.name != "ts":
            continue
        if isinstance(field.dataType, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(field.dataType, T.TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


