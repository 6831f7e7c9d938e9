"""Small-file compaction — the lakehouse maintenance op every streaming /
incremental writer eventually needs.

Micro-batch appends and per-task writers leave tables as thousands of tiny
files; each later scan then pays per-file open/footer costs and the
scheduler pays per-split overhead. Compaction rewrites a table to
size-targeted files through `overwrite_parquet`, preserving content.
On Delta/Iceberg this is OPTIMIZE/rewrite_data_files; on parquet it's this.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

from etl_docker_spark.sinks.writers import overwrite_parquet, read_table


def table_file_stats(path: str) -> tuple[int, int]:
    """(n_data_files, total_bytes) for a parquet table directory."""
    n, size = 0, 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                n += 1
                size += os.path.getsize(os.path.join(root, f))
    return n, size


def compact_table(spark: SparkSession, path: str,
                  target_file_bytes: int = 128 * 1024 * 1024) -> tuple[int, int]:
    """Rewrite `path` into ceil(total/target) files. Returns (before, after)
    file counts. Content-preserving; a crash mid-compact leaves the
    original table, since `overwrite_parquet` writes beside it."""
    df = read_table(spark, path)
    before, total = table_file_stats(path)
    overwrite_parquet(df.coalesce(max(1, -(-total // target_file_bytes))), path)
    return before, table_file_stats(path)[0]
