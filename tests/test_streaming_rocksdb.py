"""RocksDB state-store provider: the s-family gate queries must return
bit-identical results under RocksDB and the default HDFS-backed store
(VERDICT r2 item 4). RocksDB is the 100 TB default — state spills to local
SSD instead of living in JVM heap — and these tests prove the flip is
invisible to correctness.

Covers each distinct state-store consumer shape once:
- s03: applyInPandasWithState (custom state schema)
- s04: streaming dropDuplicates (key-set state)
- s09: complete-mode aggregation state (HLL registers)

A gate corpus sizes every stream to one state store, so each parity run
also repeats at four stores, the multi-store layout of larger corpora;
the state-reading s-queries are held to their oracle at four stores.
"""

from __future__ import annotations

import pytest

from tests.conftest import SF_SMOKE


_HDFS_PROVIDER = ("org.apache.spark.sql.execution.streaming.state."
                  "HDFSBackedStateStoreProvider")


def _with_state_stores(monkeypatch, n: int) -> list[str]:
    """Size every gate stream to `n` state stores, whatever its corpus;
    returns the corpora each sizing was asked for."""
    from etl_docker_spark.plans import _util

    asked: list[str] = []

    def sized(spark, sf: str) -> int:
        asked.append(sf)
        return n

    monkeypatch.setattr(_util, "_state_partitions_for", sized)
    return asked


def _run_both(monkeypatch, spark, builder):
    from etl_docker_spark.plans import _util

    runs = {}
    for stores in (1, 4):
        _with_state_stores(monkeypatch, stores)
        for name, provider in (("rocksdb", _util._ROCKSDB_PROVIDER),
                               ("hdfs", _HDFS_PROVIDER)):
            monkeypatch.setattr(_util, "_STATE_STORE_PROVIDER", provider)
            runs[name, stores] = sorted(
                map(tuple, builder(spark, SF_SMOKE).collect()))
    rocks = runs["rocksdb", 1]
    assert len(rocks) > 0
    assert all(rows == rocks for rows in runs.values()), list(runs)


def test_rocksdb_is_default_inside_stream_scope(spark):
    from etl_docker_spark.plans._util import (_ROCKSDB_PROVIDER,
                                              stream_state_partitions)

    key = "spark.sql.streaming.stateStore.providerClass"
    with stream_state_partitions(spark, SF_SMOKE):
        assert spark.conf.get(key) == _ROCKSDB_PROVIDER
    # restored (unset) outside the scope so batch sessions are untouched
    assert spark.conf.get(key, None) != _ROCKSDB_PROVIDER


def test_checkpoint_checksums_off_only_inside_stream_scope(spark):
    from etl_docker_spark.plans._util import stream_state_partitions

    key = "spark.sql.streaming.checkpoint.fileChecksum.enabled"
    for prior in ("true", "false"):
        spark.conf.set(key, prior)
        with stream_state_partitions(spark, SF_SMOKE):
            assert spark.conf.get(key) == "false"
        assert spark.conf.get(key) == prior
    spark.conf.unset(key)


def test_checkpoint_file_manager_set_only_inside_stream_scope(spark):
    from etl_docker_spark.plans._util import (_CHECKPOINT_FILE_MANAGER,
                                              stream_state_partitions)

    key, manager = _CHECKPOINT_FILE_MANAGER
    assert manager.endswith(".FileSystemBasedCheckpointFileManager")
    with stream_state_partitions(spark, SF_SMOKE):
        assert spark.conf.get(key) == manager
    # restored (unset) outside the scope so other streams keep the default
    assert spark.conf.get(key, None) != manager


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


@pytest.mark.parametrize("name", [
    "s19_stream_chained_aggs",            # two stateful operators chained
    "s21_stream_state_accounting",        # numRowsTotal summed over stores
    "s26_state_datasource",               # reads every store's state back
    "s27_state_changefeed",               # per-store change feeds
    "s29_changefeed_metrics_reconcile",   # feeds against progress metrics
])
def test_four_state_stores_match_oracle(spark, monkeypatch, name):
    """Queries whose answer is built from state across stores give their
    oracle's rows at four stores, not only at the gate corpus's one."""
    import duckdb

    import __spark_entry__ as entrymod
    from etl_docker_spark.catalog import TABLES
    from tools.check_oracle import canon

    asked = _with_state_stores(monkeypatch, 4)
    sdf = entrymod.queries()[name](spark, SF_SMOKE)
    assert asked
    cols = sorted(sdf.columns)
    got = canon([tuple(r[c] for c in cols) for r in sdf.collect()])
    con = duckdb.connect()
    for table in TABLES:
        con.execute(f"CREATE VIEW {table} AS "
                    f"SELECT * FROM '{SF_SMOKE}/{table}.parquet'")
    cur = con.execute(entrymod.oracle_sql()[name])
    dcols = [d[0] for d in cur.description]
    order = sorted(range(len(dcols)), key=dcols.__getitem__)
    want = canon([tuple(row[i] for i in order) for row in cur.fetchall()])
    assert [dcols[i] for i in order] == cols
    assert len(got) > 0
    assert got == want
