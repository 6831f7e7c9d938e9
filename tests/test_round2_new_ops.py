"""Invariants of the round-2 continuation operators (beyond the value gate):
sketch overestimation + mergeability, Z-order bijectivity, bounded-degree
graph consequences, SemDeDup keep-rule guarantees, DSIR weight sanity."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_docker_spark.plans import QUERIES
from tests.conftest import SF_SMOKE


def test_cms_estimate_never_undercounts(spark):
    rows = QUERIES["d32_cms_heavy_hitters"].builder(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r["est_n"] >= r["true_n"], r


def test_cms_registers_merge_by_addition(spark):
    """The Count-Min property that makes it a 100 TB sketch: registers
    built on disjoint corpus shards sum to the whole-corpus registers."""
    from etl_docker_spark.plans.d import _CMS_D, _CMS_W
    from etl_docker_spark.plans._util import t

    def regs_of(df):
        toks = df.select(F.explode(F.split("text", " ")).alias("tok"))
        d = F.explode(F.array(*[F.lit(i) for i in range(_CMS_D)])).alias("d")
        digest = F.md5(F.concat(F.lit("cms"), F.col("d").cast("string"),
                                F.lit("_"), F.col("tok")).cast("binary"))
        b = (F.conv(F.substring(digest, 1, 8), 16, 10).cast("long") % _CMS_W)
        return {(r["d"], r["b"]): r["n"] for r in (
            toks.select("tok", d).select("d", b.alias("b"))
            .groupBy("d", "b").agg(F.count("*").alias("n")).collect())}

    docs = t(spark, SF_SMOKE, "documents").select("doc_id", "text")
    whole = regs_of(docs)
    left = regs_of(docs.filter(F.col("doc_id") % 2 == 0))
    right = regs_of(docs.filter(F.col("doc_id") % 2 == 1))
    merged: dict = {}
    for part in (left, right):
        for k, v in part.items():
            merged[k] = merged.get(k, 0) + v
    assert merged == whole


def test_zorder_interleave_is_bijective():
    from etl_docker_spark.plans.q import _Z_BITS

    g = 1 << _Z_BITS
    seen = set()
    for px in range(g):
        for sy in range(g):
            z = sum((((px >> i) & 1) << (2 * i))
                    + (((sy >> i) & 1) << (2 * i + 1))
                    for i in range(_Z_BITS))
            seen.add(z)
    assert seen == set(range(g * g))


def test_zorder_cells_partition_the_fact(spark):
    from etl_docker_spark.plans._util import t

    out = QUERIES["q51_zorder_cells"].builder(spark, SF_SMOKE).collect()
    n_fact = t(spark, SF_SMOKE, "lineitem").count()
    assert sum(r["n_rows"] for r in out) == n_fact
    for r in out:
        assert 0 <= r["zcell"] < (1 << (2 * 4))


def test_triangle_count_respects_degree_bound(spark):
    """Mutual top-K construction bounds degree by K, so edges <= K*N/2 and
    triangles <= N*C(K,2)/3 — the inequality that makes the operator
    100 TB-safe is checked, not just asserted in prose."""
    from etl_docker_spark.plans.g import _G02_K

    row = QUERIES["g02_triangle_count"].builder(spark, SF_SMOKE).first()
    n, e, tri = row["n_nodes"], row["n_edges"], row["n_triangles"]
    assert n > 0
    assert 2 * e <= _G02_K * n
    assert 3 * tri <= n * _G02_K * (_G02_K - 1) // 2


def test_semdedup_keeps_cluster_minimum(spark):
    """The min-id member of every cluster can never have a lower-id
    neighbor, so it must always be kept; and every cluster keeps at least
    one vector."""
    rows = QUERIES["d33_semdedup"].builder(spark, SF_SMOKE).collect()
    by_cluster: dict = {}
    for r in rows:
        by_cluster.setdefault(r["cluster"], []).append(r)
    for cluster, members in by_cluster.items():
        min_id = min(m["vec_id"] for m in members)
        kept = {m["vec_id"] for m in members if m["kept"]}
        assert min_id in kept, (cluster, min_id)
        assert kept, cluster


def test_dsir_weights_favor_target_language(spark):
    """English documents must average a higher importance weight than
    non-English ones — the signal the operator exists to produce
    (deterministic on the fixed corpus)."""
    from etl_docker_spark.plans._util import t

    out = QUERIES["d34_dsir_weights"].builder(spark, SF_SMOKE)
    docs = t(spark, SF_SMOKE, "documents").select("doc_id", "lang")
    j = out.join(docs, "doc_id").collect()
    en = [r["avg_weight_ppm"] for r in j if r["lang"] == "en"]
    other = [r["avg_weight_ppm"] for r in j if r["lang"] != "en"]
    assert en and other
    assert sum(en) / len(en) > sum(other) / len(other)
    assert all(r["dsir_score"] > 0 for r in j)
