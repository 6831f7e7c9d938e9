"""The catalog's schema memo: a repeated load reuses the schema Spark
inferred for the table, and any rewrite of the table re-infers it."""

from __future__ import annotations

from etl_docker_spark.catalog import TABLES, load_table, table_schema
from tests.conftest import SF_SMOKE


def _jobs_started(spark, fn, group: str) -> list[int]:
    """Ids of the Spark jobs `fn()` starts, found through a job group."""
    sc = spark.sparkContext
    sc.setJobGroup(group, "catalog probe")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    # job events reach the status store through the listener bus
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return list(sc.statusTracker().getJobIdsForGroup(group))


def test_repeated_load_starts_no_job(spark):
    load_table(spark, SF_SMOKE, "orders")
    assert _jobs_started(spark, lambda: load_table(spark, SF_SMOKE, "orders"),
                         "catalog-repeat") == []


def test_rewritten_table_is_reinferred(spark, tmp_path):
    sf = str(tmp_path)
    path = f"{sf}/region.parquet"
    spark.range(3).selectExpr("id AS r_regionkey").write.parquet(path)
    # the first load infers, and the probe sees that job
    assert _jobs_started(spark, lambda: load_table(spark, sf, "region"),
                         "catalog-first") != []
    assert load_table(spark, sf, "region").columns == ["r_regionkey"]
    (spark.range(3).selectExpr("id AS r_regionkey", "'x' AS r_name")
     .write.mode("overwrite").parquet(path))
    df = load_table(spark, sf, "region")
    assert df.columns == ["r_regionkey", "r_name"]
    assert sorted(map(tuple, df.collect())) == [(0, "x"), (1, "x"), (2, "x")]


def test_memo_schema_equals_inferred_schema(spark):
    for name in TABLES:
        path = f"{SF_SMOKE}/{name}.parquet"
        inferred = spark.read.parquet(path).schema
        memo = table_schema(spark, SF_SMOKE, name)
        assert memo == inferred, name
        assert spark.read.schema(memo).parquet(path).schema == inferred, name
