"""RocksDB state-store provider: the s-family gate queries must return
bit-identical results under RocksDB and the default HDFS-backed store
(VERDICT r2 item 4). RocksDB is the 100 TB default — state spills to local
SSD instead of living in JVM heap — and these tests prove the flip is
invisible to correctness.

Covers each distinct state-store consumer shape once:
- s03: applyInPandasWithState (custom state schema)
- s04: streaming dropDuplicates (key-set state)
- s09: complete-mode aggregation state (HLL registers)
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE


def _run_both(monkeypatch, spark, builder):
    monkeypatch.setenv("SPARK_GRAFT_STATE_STORE", "rocksdb")
    rocks = sorted(map(tuple, builder(spark, SF_SMOKE).collect()))
    monkeypatch.setenv("SPARK_GRAFT_STATE_STORE", "hdfs")
    hdfs = sorted(map(tuple, builder(spark, SF_SMOKE).collect()))
    assert len(rocks) > 0
    assert rocks == hdfs


def test_rocksdb_is_default_inside_stream_scope(spark, monkeypatch):
    from etl_docker_spark.plans._util import (_ROCKSDB_PROVIDER,
                                              stream_state_partitions)

    monkeypatch.delenv("SPARK_GRAFT_STATE_STORE", raising=False)
    key = "spark.sql.streaming.stateStore.providerClass"
    with stream_state_partitions(spark, 2):
        assert spark.conf.get(key) == _ROCKSDB_PROVIDER
    # restored (unset) outside the scope so batch sessions are untouched
    assert spark.conf.get(key, None) != _ROCKSDB_PROVIDER


def test_s03_stateful_same_under_rocksdb(spark, monkeypatch):
    from etl_docker_spark.plans.s import s03_stateful_running_totals

    _run_both(monkeypatch, spark, s03_stateful_running_totals)


def test_s04_dedup_same_under_rocksdb(spark, monkeypatch):
    from etl_docker_spark.plans.s import s04_stream_dedup

    _run_both(monkeypatch, spark, s04_stream_dedup)


def test_s09_hll_same_under_rocksdb(spark, monkeypatch):
    from etl_docker_spark.plans.s import s09_stream_hll_users

    _run_both(monkeypatch, spark, s09_stream_hll_users)


def test_chained_aggs_provider_parity(spark, monkeypatch):
    """s19's multi-stateful checkpoint (two windowed aggs in one query)
    is a distinct state layout from the single-operator shapes above —
    pin provider-independence for it too."""
    from etl_docker_spark.plans.s import s19_stream_chained_aggs

    _run_both(monkeypatch, spark, s19_stream_chained_aggs)
