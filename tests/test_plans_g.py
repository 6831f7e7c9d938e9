"""Graph (g family) query tests: g01's PageRank mass and g02's degree
bound."""

from __future__ import annotations

from pyspark.sql import functions as F

from etl_docker_spark.plans import QUERIES
from tests.conftest import SF_SMOKE


def test_pagerank_mass_conserved(spark):
    """Total rank stays within integer-rounding slack of the scale S (each
    per-edge/per-node floor-div loses < 1 ppb unit, bounded well under
    0.01% of the mass for this graph)."""
    from etl_docker_spark.plans.g import _PR_S, g01_pagerank

    pr = g01_pagerank(spark, SF_SMOKE)
    total = pr.agg(F.sum("pagerank_ppb").alias("t")).collect()[0]["t"]
    assert abs(total - _PR_S) < _PR_S // 10_000, total


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
