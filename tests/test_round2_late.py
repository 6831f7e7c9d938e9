"""Invariant tests for the late-round-2 operators (beyond the smoke/oracle
gate): shingle_rows contract, PageRank mass conservation, funnel
monotonicity, packing-bin structure."""

from __future__ import annotations

from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE


def test_shingle_rows_matches_shingles_of(spark):
    """The codegen shingler and the array-lambda shingler agree on the
    distinct gram set per document (including the short-doc partial-shingle
    contract)."""
    from etl_docker_spark.llm.dedup import shingle_rows, shingles_of

    rows = [(1, "a b c d e"), (2, "a b"), (3, "x"), (4, "p q r")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    fast = (shingle_rows(df, "doc_id", "text", 3)
            .groupBy("doc").agg(F.sort_array(F.collect_set("s")).alias("g")))
    slow = df.select(
        F.col("doc_id").alias("doc"),
        F.sort_array(shingles_of(F.split("text", " "), 3)).alias("g"))
    assert {r["doc"]: r["g"] for r in fast.collect()} == \
           {r["doc"]: r["g"] for r in slow.collect()}


def test_pagerank_mass_conserved(spark):
    """Total rank stays within integer-rounding slack of the scale S (each
    per-edge/per-node floor-div loses < 1 ppb unit, bounded well under
    0.01% of the mass for this graph)."""
    from etl_docker_spark.plans.g import _PR_S, g01_pagerank

    pr = g01_pagerank(spark, SF_SMOKE)
    total = pr.agg(F.sum("pagerank_ppb").alias("t")).collect()[0]["t"]
    assert abs(total - _PR_S) < _PR_S // 10_000, total


def test_funnel_stages_monotonic(spark):
    from etl_docker_spark.plans.q import q38_funnel_conversion

    rows = {r["stage"]: r["n_users"]
            for r in q38_funnel_conversion(spark, SF_SMOKE).collect()}
    assert rows["1_view"] >= rows["2_click"] >= rows["3_purchase"]


def test_sequence_packing_bins_contiguous(spark):
    """Bins are 0..max with no gaps, and every bin holds >= 1 document
    (concat-and-split cannot produce an empty window)."""
    from etl_docker_spark.plans.d import d25_sequence_packing

    rows = d25_sequence_packing(spark, SF_SMOKE).collect()
    bins = sorted(r["bin"] for r in rows)
    assert bins == list(range(len(bins)))
    assert all(r["n_docs"] >= 1 for r in rows)


def test_curation_verdict_priority(spark):
    """A doc failing several rules reports the FIRST (too_short beats
    low_diversity beats exact_dup)."""
    import etl_docker_spark.plans._util as util
    from etl_docker_spark.plans.d import d26_curation_verdict

    rows = [(1, "tiny doc"),                      # too_short
            (2, " ".join(["w"] * 50)),            # long enough, no diversity
            (3, " ".join(f"t{i}" for i in range(50))),  # keep
            (4, " ".join(f"t{i}" for i in range(50)))]  # dup of 3 -> exact_dup
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    orig = util.load_table
    try:
        util.load_table = lambda s, d, n: df
        out = {r["doc_id"]: r["verdict"]
               for r in d26_curation_verdict(spark, SF_SMOKE).collect()}
    finally:
        util.load_table = orig
    assert out == {1: "too_short", 2: "low_diversity",
                   3: "keep", 4: "exact_dup"}
