"""Source-format breadth: the same queries run over ORC/CSV/JSON copies.

The engine is format-agnostic by construction (queries consume DataFrames);
this proves it by materializing a table in each format and comparing query
results value-for-value against the parquet original.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from etl_docker_spark.catalog import load_table
from tests.conftest import SF_SMOKE


def agg(df):
    return sorted(map(tuple,
        df.groupBy("l_returnflag", "l_linestatus")
          .agg(F.sum(F.col("l_quantity").cast("decimal(12,4)")).cast("double").alias("q"),
               F.count("*").alias("n"))
          .collect()))


@pytest.fixture(scope="module")
def lineitem(spark):
    return load_table(spark, SF_SMOKE, "lineitem")


def test_orc_roundtrip(spark, lineitem, tmp_path):
    path = str(tmp_path / "li_orc")
    lineitem.write.mode("overwrite").orc(path)
    assert agg(spark.read.orc(path)) == agg(lineitem)


def test_csv_roundtrip(spark, lineitem, tmp_path):
    path = str(tmp_path / "li_csv")
    lineitem.write.mode("overwrite").option("header", True).csv(path)
    back = (spark.read.schema(lineitem.schema)
            .option("header", True).csv(path))
    assert agg(back) == agg(lineitem)


def test_json_roundtrip(spark, lineitem, tmp_path):
    path = str(tmp_path / "li_json")
    lineitem.write.mode("overwrite").json(path)
    back = spark.read.schema(lineitem.schema).json(path)
    assert agg(back) == agg(lineitem)


def test_dynamic_partition_overwrite(spark, tmp_path):
    """overwrite_partitions_dynamic rewrites only the partitions present in
    the incoming frame; siblings survive (static overwrite would drop them)."""
    from etl_docker_spark.sinks.writers import (overwrite_parquet,
                                                overwrite_partitions_dynamic)

    path = str(tmp_path / "events_part")
    ev = load_table(spark, SF_SMOKE, "events")
    overwrite_parquet(ev, path, partition_by=["event_type"])
    before = dict(spark.read.parquet(path).groupBy("event_type")
                  .count().collect())

    patch = (ev.filter(F.col("event_type") == "view")
             .withColumn("value", F.lit(0.0)).limit(10))
    overwrite_partitions_dynamic(patch, path, ["event_type"])

    after_df = spark.read.parquet(path)
    after = dict(after_df.groupBy("event_type").count().collect())
    assert after["view"] == 10  # replaced wholesale by the 10-row patch
    for k, v in before.items():  # every sibling partition untouched
        if k != "view":
            assert after[k] == v
    assert (spark.conf.get("spark.sql.sources.partitionOverwriteMode",
                           "static") != "dynamic")


def test_dynamic_partition_overwrite_sets_no_session_conf(spark, tmp_path,
                                                          monkeypatch):
    """The dynamic mode is a per-write option: a concurrent writer in the
    same session never sees a session-wide partitionOverwriteMode."""
    from pyspark.sql.conf import RuntimeConfig

    from etl_docker_spark.sinks.writers import overwrite_partitions_dynamic

    path = str(tmp_path / "part")
    df = spark.createDataFrame([(1, "a"), (2, "b")], "v long, p string")
    df.write.partitionBy("p").parquet(path)
    calls = []
    real_set = RuntimeConfig.set

    def recording_set(self, key, value):
        calls.append(key)
        return real_set(self, key, value)

    monkeypatch.setattr(RuntimeConfig, "set", recording_set)
    overwrite_partitions_dynamic(df.filter("p = 'a'").withColumn("v", F.lit(9).cast("long")),
                                 path, ["p"])
    assert calls == []
    got = sorted(map(tuple, spark.read.parquet(path).collect()))
    assert got == [(2, "b"), (9, "a")]
