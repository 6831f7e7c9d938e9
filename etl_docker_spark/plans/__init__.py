"""The declared query surface (drives __spark_entry__ and bench.py).

Each QuerySpec pairs a Spark DataFrame builder with the ANSI-SQL oracle that
DuckDB runs on the same parquet tables. `oracle is None` marks genuinely
non-SQL-expressible operators (driver falls back to a rows-only check).
"""

from etl_docker_spark.plans.registry import QUERIES, QuerySpec

__all__ = ["QUERIES", "QuerySpec"]
