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
- The codegen class cache holds the engine's working set
  (`CODEGEN_CACHE_MAX_ENTRIES`), so a repeated query reuses its compiled
  classes instead of recompiling them into cold, interpreted bytecode.
"""

from __future__ import annotations

import os
from contextlib import contextmanager

from pyspark.sql import SparkSession

# Spark's default cap of 100 generated classes is below one analyst
# session's working set: perfbench's 8 batch queries compile ~150 classes
# cold, so the LRU evicted each before its next use (112 recompiles per
# warm pass). One sweep of all 246 registry queries compiles ~3,800
# classes, which this cap holds; at its end metaspace used was 256 MiB
# against 228 MiB at the default cap (sf0.01, one sweep each).
CODEGEN_CACHE_MAX_ENTRIES = 10_000


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
        .config("spark.sql.codegen.cache.maxEntries",
                str(CODEGEN_CACHE_MAX_ENTRIES))
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


def compiled_classes(spark: SparkSession) -> int:
    """Classes Spark's codegen has compiled in this JVM so far
    (`CodegenMetrics`); a cache hit compiles none."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


@contextmanager
def scoped_conf(spark: SparkSession, key: str, value: str):
    """Set-then-restore a runtime conf around a bounded EXECUTION (an
    action, a stream run) — the default tool for query-local conf. Not
    usable around a returned LAZY frame: the conf would be restored
    before the caller's action runs (the q87 recursion-limit lesson);
    for that case use `plans._util.session_conf` and justify at the call
    site."""
    before = spark.conf.get(key, None)
    spark.conf.set(key, value)
    try:
        yield
    finally:
        if before is None:
            spark.conf.unset(key)
        else:
            spark.conf.set(key, before)
