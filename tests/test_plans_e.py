"""Embedding-search (e family) query tests: invariants of e23/e24
beyond the value gate (the binary-signature primitive and the lossless
rerank stages)."""

from __future__ import annotations

from tests.conftest import SF_SMOKE


def test_binary_signature_matches_python(spark):
    """e23's two-halves sign-bit packing equals a Python reimplementation
    on the smoke corpus, and Hamming via xor+bit_count equals set
    arithmetic on the sign vectors."""
    from pyspark.sql import functions as F

    from etl_docker_spark.plans._util import t

    emb = t(spark, SF_SMOKE, "embeddings").limit(20)

    def half(lo):
        return F.expr(
            f"aggregate(transform(slice(embedding, {lo + 1}, 32), "
            "(x, i) -> IF(x > 0, shiftleft(CAST(1 AS BIGINT), i), "
            "CAST(0 AS BIGINT))), CAST(0 AS BIGINT), (a, b) -> a | b)")

    rows = emb.select("vec_id", "embedding",
                      half(0).alias("lo"), half(32).alias("hi")).collect()
    sigs = {}
    for r in rows:
        lo = sum(1 << i for i, x in enumerate(r.embedding[:32]) if x > 0)
        hi = sum(1 << i for i, x in enumerate(r.embedding[32:64]) if x > 0)
        assert (r.lo, r.hi) == (lo, hi), r.vec_id
        sigs[r.vec_id] = [x > 0 for x in r.embedding]
    a, b = rows[0], rows[1]
    ham_py = sum(x != y for x, y in zip(sigs[a.vec_id], sigs[b.vec_id]))
    ham_sql = spark.createDataFrame(
        [(a.lo, a.hi, b.lo, b.hi)], "alo long, ahi long, blo long, bhi long"
    ).select((F.bit_count(F.col("alo").bitwiseXOR(F.col("blo")))
              + F.bit_count(F.col("ahi").bitwiseXOR(F.col("bhi"))))
             .alias("h")).first().h
    assert ham_sql == ham_py


def test_e23_full_shortlist_equals_bruteforce_knn(spark):
    """With the shortlist as wide as the corpus, e23's exact stage must
    reproduce brute-force top-k cosine exactly (the rerank is lossless;
    only the shortlist cut trades recall)."""
    import etl_docker_spark.plans.e as e
    from etl_docker_spark.llm.similarity import brute_force_knn
    from etl_docker_spark.plans._util import t

    orig = e._E23_SHORTLIST
    e._E23_SHORTLIST = 10 ** 9
    try:
        got = {(r.query_id, r.neighbor_id, r.exact_rank)
               for r in e.e23_binary_hamming_search(
                   spark, SF_SMOKE).collect()}
    finally:
        e._E23_SHORTLIST = orig
    emb = t(spark, SF_SMOKE, "embeddings")
    queries = emb.filter("vec_id < 8")
    expected = {(r["query_id"], r["neighbor_id"], r["rank"])
                for r in brute_force_knn(emb, queries, k=e._E23_K,
                                         id_col="vec_id").collect()}
    assert got == expected


def test_e24_full_shortlist_equals_e06(spark):
    """With the Hamming stage wide open, the funnel reduces to e06's
    trained-IVF search exactly (stage 2 is lossless unless it cuts;
    stages 1 and 3 are shared machinery)."""
    import etl_docker_spark.plans.e as e
    from etl_docker_spark.plans.e import e06_trained_ivf_search

    orig = e._E24_SHORT
    e._E24_SHORT = 10 ** 9
    try:
        got = {(r.query_id, r.neighbor_id, r.exact_rank)
               for r in e.e24_ivf_binary_funnel(spark, SF_SMOKE).collect()}
    finally:
        e._E24_SHORT = orig
    want = {(r.query_id, r.neighbor_id, r.rank)
            for r in e06_trained_ivf_search(spark, SF_SMOKE).collect()}
    assert got == want
