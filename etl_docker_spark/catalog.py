"""Table catalog for the synthetic test corpus (TESTDATA.md).

Loaders return lazy DataFrames over parquet so Catalyst keeps predicate
pushdown / column pruning. The only thing cached here is each table's
inferred schema (`table_schema`), so a repeated load starts no schema-
inference job; no data is cached. On a real cluster these would be
external-catalog tables (partitioned by date / company), but the access
pattern — `t(spark, sf_dir, name)` — is identical.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

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

# path -> (file signature, nanosAsLong conf value, inferred schema)
_SCHEMAS: dict[str, tuple[tuple, str | None, T.StructType]] = {}


def _file_signature(path: str) -> tuple:
    """(relative name, size, st_mtime_ns) of every file under `path` (or of
    `path` itself when it is one file): any rewrite of the table changes it."""
    if os.path.isfile(path):
        st = os.stat(path)
        return (("", st.st_size, st.st_mtime_ns),)
    sig = []
    for dirpath, _, filenames in os.walk(path):
        for f in filenames:
            p = os.path.join(dirpath, f)
            st = os.stat(p)
            sig.append((os.path.relpath(p, path), st.st_size, st.st_mtime_ns))
    return tuple(sorted(sig))


def table_schema(spark: SparkSession, sf_dir: str, name: str) -> T.StructType:
    """The schema `spark.read.parquet` infers for table `name`, inferred
    once per table path. Inference starts a Spark job (~70 ms); a read
    given the schema starts none (~12 ms). The stored schema is reused
    while the path's files (name, size, mtime) and the session's
    `spark.sql.legacy.parquet.nanosAsLong` are unchanged; any change
    re-infers it. `sf_dir` is a local directory."""
    path = f"{sf_dir}/{name}.parquet"
    sig = _file_signature(path)
    nanos = spark.conf.get("spark.sql.legacy.parquet.nanosAsLong", None)
    hit = _SCHEMAS.get(path)
    if hit is not None and hit[:2] == (sig, nanos):
        return hit[2]
    schema = spark.read.parquet(path).schema
    _SCHEMAS[path] = (sig, nanos, schema)
    return schema


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    if name not in TABLES:
        raise KeyError(f"unknown table {name!r}; known: {TABLES}")
    schema = table_schema(spark, sf_dir, name)
    df = spark.read.schema(schema).parquet(f"{sf_dir}/{name}.parquet")
    # events.ts arrives in whatever physical type the corpus generator chose:
    # TIMESTAMP(NANOS) reads as a raw nanos LongType (under
    # spark.sql.legacy.parquet.nanosAsLong — set in session.py), plain
    # micros reads as TIMESTAMP_NTZ. Normalize both to the session-zone
    # TIMESTAMP the query surface expects; the session zone is pinned UTC,
    # so the NTZ cast is wall-clock-preserving and `div` keeps the nanos
    # arithmetic in exact integer space (ns floor-div 1000 == DuckDB's
    # ns->us truncation).
    from pyspark.sql import functions as F

    for field in schema.fields:
        if field.name != "ts":
            continue
        if isinstance(field.dataType, T.LongType):
            df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
        elif isinstance(field.dataType, T.TimestampNTZType):
            df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df
