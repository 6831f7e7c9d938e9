"""Pinned invariant: gate-corpus cell/cluster occupancy sits BELOW the
skew-refinement caps (VERDICT r2: the e05-family oracles assume the
capped operators take their unrefined path on the gate corpora — the cap
is load-bearing for correctness parity, so a corpus or cap change that
violates this must fail loudly here, not as a silent oracle mismatch).
"""

from __future__ import annotations

import pytest

from pyspark.sql import functions as F

GATE_DIRS = ["/root/testdata/sf0.001", "/root/testdata/sf0.01"]


@pytest.mark.parametrize("sf", GATE_DIRS)
def test_e02_coarse_cells_under_cap(spark, sf):
    """e02 runs with cell_cap=256 on (b1, b2) floor-grid cells
    (plans/llm_queries.py): no gate cell may reach the cap, else
    refinement engages and the plain-cell oracle diverges."""
    from etl_docker_spark.catalog import load_table
    from etl_docker_spark.llm.similarity import bucket_expr

    emb = load_table(spark, sf, "embeddings")
    occ = (emb.select(bucket_expr(F.col("embedding"), 1).alias("b1"),
                      bucket_expr(F.col("embedding"), 2).alias("b2"))
           .groupBy("b1", "b2").count()
           .agg(F.max("count")).first()[0])
    assert occ < 256, f"gate corpus {sf} has a cell at {occ} >= cap 256"


@pytest.mark.parametrize("sf", GATE_DIRS)
def test_d33_trained_clusters_under_cap(spark, sf):
    """d33 sub-buckets e05 clusters past _SEM_CAP occupancy
    (plans/d.py): gate clusters must stay under it so the oracle's
    plain within-cluster form is the executed plan."""
    from etl_docker_spark.plans.e import e05_assignments
    from etl_docker_spark.plans.d import _SEM_CAP

    occ = (e05_assignments(spark, sf)
           .groupBy("cluster").count()
           .agg(F.max("count")).first()[0])
    assert occ < _SEM_CAP, \
        f"gate corpus {sf} has a cluster at {occ} >= cap {_SEM_CAP}"
