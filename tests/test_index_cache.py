"""Train-once artifact memo (llm/index_cache): identity, isolation, and
value equivalence with a fresh build."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def test_memo_builds_once_per_key(spark):
    from etl_docker_spark.llm.index_cache import memo_frame

    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(5).select(F.col("id").alias("v"))

    a = memo_frame(spark, "test_memo_once", build)
    b = memo_frame(spark, "test_memo_once", build)
    assert a is b
    assert calls["n"] == 1
    assert sorted(r["v"] for r in b.collect()) == [0, 1, 2, 3, 4]


def test_memo_keys_do_not_collide(spark):
    from etl_docker_spark.llm.index_cache import memo_frame

    a = memo_frame(spark, "test_memo_k1", lambda: spark.range(1))
    b = memo_frame(spark, "test_memo_k2", lambda: spark.range(2))
    assert a is not b
    assert a.count() == 1 and b.count() == 2


def _mini_corpus(path) -> str:
    import pandas as pd

    d = path / "corpus"
    d.mkdir(exist_ok=True)
    pd.DataFrame({"k": [1, 2, 3]}).to_parquet(d / "t.parquet")
    return str(d)


def test_disk_tier_serves_across_sessions(spark, tmp_path, monkeypatch):
    """Persisted artifact survives a 'new session' (in-memory memo
    cleared): the build function must NOT run again and the served values
    and schema must match the original build exactly."""
    from etl_docker_spark.llm import index_cache as ic

    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", str(tmp_path / "cache"))
    corpus = _mini_corpus(tmp_path)
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(4).select(
            F.col("id").alias("v"), (F.col("id") * 2).alias("w"))

    first = ic.memo_frame(spark, "disk_roundtrip", build, sf_dir=corpus)
    want = sorted((r["v"], r["w"]) for r in first.collect())
    schema = first.schema

    ic.clear_session_memo()  # simulate a fresh session; disk survives
    served = ic.memo_frame(spark, "disk_roundtrip", build, sf_dir=corpus)
    assert calls["n"] == 1
    assert sorted((r["v"], r["w"]) for r in served.collect()) == want
    assert [(f.name, f.dataType) for f in served.schema.fields] == \
           [(f.name, f.dataType) for f in schema.fields]


def test_disk_tier_invalidates_on_corpus_change(spark, tmp_path,
                                                monkeypatch):
    import pandas as pd

    from etl_docker_spark.llm import index_cache as ic

    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", str(tmp_path / "cache"))
    corpus = _mini_corpus(tmp_path)
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(2)

    ic.memo_frame(spark, "disk_invalidate", build, sf_dir=corpus)
    fp1 = ic.corpus_fingerprint(corpus)

    # rewrite the corpus (size change guarantees a new fingerprint even on
    # coarse mtime filesystems)
    pd.DataFrame({"k": [1, 2, 3, 4, 5]}).to_parquet(f"{corpus}/t.parquet")
    ic.clear_session_memo()
    ic.memo_frame(spark, "disk_invalidate", build, sf_dir=corpus)
    assert ic.corpus_fingerprint(corpus) != fp1
    assert calls["n"] == 2


def test_no_sf_dir_means_no_disk_writes(spark, tmp_path, monkeypatch):
    import os

    from etl_docker_spark.llm import index_cache as ic

    root = tmp_path / "cache"
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", str(root))
    ic.memo_frame(spark, "mem_only", lambda: spark.range(1))
    assert not os.path.exists(root)


def test_memoized_assignments_match_fresh_training(spark):
    """The served artifact must be bit-identical to retraining from
    scratch — the property that makes memoization invisible to the
    correctness gate."""
    from etl_docker_spark.plans.e import e05_assignments, e05_ivf_train

    served = {(r["vec_id"], r["cluster"])
              for r in e05_assignments(spark, SF_SMOKE).collect()}
    fresh = {(r["vec_id"], r["cluster"])
             for r in e05_ivf_train(spark, SF_SMOKE).collect()}
    assert served == fresh and len(served) > 0


def test_corrupt_artifact_falls_back_to_build(spark, tmp_path, monkeypatch):
    """A truncated persisted artifact (crash mid-write after _SUCCESS, bit
    rot, schema drift) must trigger a silent retrain + overwrite, not a
    permanent query failure (ADVICE r2)."""
    import os

    from etl_docker_spark.llm import index_cache as ic

    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", str(tmp_path / "cache"))
    corpus = _mini_corpus(tmp_path)
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(3).select(F.col("id").alias("v"))

    ic.memo_frame(spark, "corrupt_rt", build, sf_dir=corpus)
    path = ic._artifact_dir("corrupt_rt", corpus)
    # corrupt every data file but keep _SUCCESS (the torn-write shape)
    for f in os.listdir(path):
        if f.endswith(".parquet"):
            with open(os.path.join(path, f), "wb") as fh:
                fh.write(b"not a parquet file")

    ic.clear_session_memo()
    served = ic.memo_frame(spark, "corrupt_rt", build, sf_dir=corpus)
    assert calls["n"] == 2
    assert sorted(r["v"] for r in served.collect()) == [0, 1, 2]
    # ...and the retrain repaired the disk tier for the next session
    ic.clear_session_memo()
    again = ic.memo_frame(spark, "corrupt_rt", build, sf_dir=corpus)
    assert calls["n"] == 2  # served from the repaired artifact
    assert sorted(r["v"] for r in again.collect()) == [0, 1, 2]


def test_empty_corpus_disables_disk_tier(spark, tmp_path, monkeypatch):
    """A corpus dir with no visible parquet (remote URI, typo) must not be
    fingerprinted — the fp would never change, so stale artifacts would be
    served forever (ADVICE r2). The memo degrades to in-session only."""
    import os

    from etl_docker_spark.llm import index_cache as ic

    root = tmp_path / "cache"
    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", str(root))
    empty = tmp_path / "no_such_corpus"
    assert ic.corpus_fingerprint(str(empty)) is None
    ic.memo_frame(spark, "empty_dir", lambda: spark.range(1),
                  sf_dir=str(empty))
    assert not os.path.exists(root)


def test_stale_tmp_dirs_swept(spark, tmp_path, monkeypatch):
    """Orphaned <artifact>.tmp-<deadpid> dirs from crashed sessions are
    removed on the next store into the same fingerprint dir (ADVICE r2)."""
    import os

    from etl_docker_spark.llm import index_cache as ic

    monkeypatch.setenv("SPARK_GRAFT_ARTIFACT_DIR", str(tmp_path / "cache"))
    corpus = _mini_corpus(tmp_path)
    parent = os.path.dirname(ic._artifact_dir("sweep_probe", corpus))
    os.makedirs(parent, exist_ok=True)
    # pid 2^22-ish beyond pid_max on this box → guaranteed dead
    stale = os.path.join(parent, "old_artifact-deadbeef.tmp-99999999")
    os.makedirs(stale)
    ic.memo_frame(spark, "sweep_probe", lambda: spark.range(1),
                  sf_dir=corpus)
    assert not os.path.exists(stale)


def test_logic_change_invalidates_fingerprint(tmp_path, monkeypatch):
    """The corpus fingerprint folds in a content hash of the llm/ package,
    so a builder-logic change automatically invalidates persisted
    artifacts without a manual version bump (ADVICE r2)."""
    from etl_docker_spark.llm import index_cache as ic

    corpus = _mini_corpus(tmp_path)
    fp1 = ic.corpus_fingerprint(corpus)
    monkeypatch.setattr(ic, "_LOGIC_HASH", "different-logic")
    monkeypatch.setattr(ic, "_FP_CACHE", {})
    fp2 = ic.corpus_fingerprint(corpus)
    assert fp1 != fp2
