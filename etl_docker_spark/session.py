"""SparkSession factory.

Single place where execution knobs live. Defaults are sized for the local
test harness (local[N], one JVM) but every setting is chosen to also be the
right call on a 1000-executor cluster:

- AQE on (runtime re-plan, partition coalescing, skew-join splitting) so the
  same declarative plans survive data-scale changes without re-tuning.
- Arrow on for the few pandas boundaries we have (mapInPandas sources,
  vectorized UDF escape hatches).
- UTC session timezone: parquet timestamps compare bit-for-bit against the
  DuckDB oracle and business logic stays TZ-explicit (the reference pins
  America/Argentina/Buenos_Aires in its scheduler — dag_maestros.py:8 — we
  keep instants in UTC and localize only at the edge).
- shuffle.partitions defaults to the core count locally; on a real cluster
  AQE coalesces from a deliberately-high initial number.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession


def _pythonpath_with_pkg_root() -> str:
    """PYTHONPATH for Python workers: the package's parent dir first, so
    the daemon module (spark.python.daemon.module) and by-reference
    unpickled operator functions import the SAME etl_docker_spark tree
    the driver runs, regardless of the launcher's cwd; the inherited
    PYTHONPATH (if any) is preserved behind it."""
    pkg_root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    inherited = os.environ.get("PYTHONPATH", "")
    return f"{pkg_root}:{inherited}" if inherited else pkg_root


def get_spark(
    app_name: str = "etl_docker_spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or fetch) the engine's SparkSession.

    Honors $SPARK_GRAFT_CPUS for local parallelism so the bench harness and
    tests share sizing logic.
    """
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or cpus

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", "/tmp/spark_graft_warehouse")
        .config("spark.sql.autoBroadcastJoinThreshold", str(32 * 1024 * 1024))
        # the synthetic events table stores TIMESTAMP(NANOS); Spark has no
        # nanos timestamp type, so read them as raw longs (catalog converts)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # Fork Python workers from a daemon that has numpy/pandas/pyarrow
        # (and our stateful-operator module) already imported: the stateful
        # runners release workers instead of reusing them, so without this
        # every task re-imports the stack (~200 ms/task measured on s14's
        # 352 tasks — see etl_docker_spark/pydaemon.py). Same worker code
        # path, COW-inherited imports; per-executor cost on any deployment.
        .config("spark.python.daemon.module", "etl_docker_spark.pydaemon")
        .config("spark.executorEnv.PYTHONPATH", _pythonpath_with_pkg_root())
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
