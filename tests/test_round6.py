"""Round-6 batch 1: bounded SSSP, binary-quantization search, hashed
linear classifier, SQL table function."""

from __future__ import annotations

import hashlib
import random

import pytest

from tests.conftest import SF_SMOKE


def _w(a: int, b: int) -> int:
    """The symmetric md5 edge weight g07 uses, in Python."""
    lo, hi = min(a, b), max(a, b)
    h = int(hashlib.md5(f"{lo}_{hi}".encode()).hexdigest()[:8], 16)
    return h % 99 + 1


def _py_bounded_sssp(edges, seeds, max_hops):
    """Brute-force: min cost over all paths of 1..max_hops edges, by
    exhaustive path extension (exponential, fine at test size)."""
    adj = {}
    for a, b, w in edges:
        adj.setdefault(a, []).append((b, w))
    out = {}
    for s in seeds:
        paths = {(s,): 0}
        for _ in range(max_hops):
            nxt = {}
            for p, c in paths.items():
                for v, w in adj.get(p[-1], []):
                    nxt[p + (v,)] = c + w
            for p, c in nxt.items():
                key = (s, p[-1])
                if c < out.get(key, float("inf")):
                    out[key] = c
            paths = nxt
    return out


@pytest.mark.parametrize("seed", [3, 17])
def test_bounded_sssp_matches_bruteforce(spark, seed):
    """bounded_sssp == exhaustive path enumeration with the same hop cap
    on random directed weighted graphs (including unreachable nodes and
    cheaper-longer-path cases the hop cap must exclude)."""
    from pyspark.sql import functions as F

    from etl_docker_spark.operators.graph import bounded_sssp

    rng = random.Random(seed)
    n = 40
    edges = set()
    while len(edges) < 120:
        a, b = rng.randrange(n), rng.randrange(n)
        if a != b:
            edges.add((a, b))
    rows = [(a, b, _w(a, b)) for a, b in sorted(edges)]
    hops = 3

    expected = _py_bounded_sssp(rows, [0, 1, 2], hops)
    df = spark.createDataFrame(rows, "a long, b long, w long").repartition(4)
    got = {(r.seed, r.node): r.cost
           for r in bounded_sssp(df, F.col("a") < 3, hops).collect()}
    assert got == expected


def test_bounded_sssp_early_exit(spark):
    """On a graph that converges in one round, extra hop budget changes
    nothing (the early-exit path) and costs match by hand."""
    from pyspark.sql import functions as F

    from etl_docker_spark.operators.graph import bounded_sssp

    rows = [(0, 1, 5), (1, 2, 7)]
    df = spark.createDataFrame(rows, "a long, b long, w long")
    got = {(r.seed, r.node): r.cost
           for r in bounded_sssp(df, F.col("a") == 0, 10).collect()}
    assert got == {(0, 1): 5, (0, 2): 12}


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


def _py_d58_score(text: str, buckets: int, bias: int) -> tuple[int, int]:
    toks = text.split(" ")
    feats = toks + [f"{a}_{b}" for a, b in zip(toks, toks[1:])]
    s = 0
    for f in feats:
        b = int(hashlib.md5(f.encode()).hexdigest()[:8], 16) % buckets
        s += (b % 2001) - 1000
    q = abs(s) // len(feats) * (1 if s >= 0 else -1)  # trunc toward zero
    return len(feats), q + bias


def test_d58_per_doc_scores_match_python(spark):
    """The hashed-feature score is bit-identical to a Python
    reimplementation (hash, weight map, truncating division, bias)."""
    from pyspark.sql import functions as F

    import etl_docker_spark.plans.d as d

    docs = [(1, "aa bb cc aa"), (2, "zz"), (3, "m n o p q r s t"),
            (4, "dup dup dup dup")]
    df = spark.createDataFrame(docs, "doc_id long, text string") \
        .withColumn("lang", F.lit("xx"))
    df.createOrReplaceTempView("d58_docs")
    w_ppm = ("(pmod(CAST(conv(substring(md5(f), 1, 8), 16, 10) AS BIGINT), "
             f"{d._D58_BUCKETS}) % 2001) - 1000")
    scored = spark.sql(f"""
SELECT doc_id,
       size({d.feats_sql()}) AS n_feats,
       aggregate(transform({d.feats_sql()}, f -> {w_ppm}),
                 CAST(0 AS BIGINT), (acc, w) -> acc + w)
         DIV size({d.feats_sql()}) + {d._D58_BIAS_PPM} AS score_ppm
FROM d58_docs
""").collect()
    for r in scored:
        text = dict(docs)[r.doc_id]
        n, score = _py_d58_score(text, d._D58_BUCKETS, d._D58_BIAS_PPM)
        assert (r.n_feats, r.score_ppm) == (n, score), r.doc_id


def test_q92_installments_conserve_totals(spark):
    """Per-order installment schedules sum exactly to the order's cents
    (the no-lost-cent contract), checked via the gated aggregate: the
    sum over installment buckets equals the corpus-wide total cents."""
    from pyspark.sql import functions as F

    from etl_docker_spark.plans._util import t
    from etl_docker_spark.plans.q import q92_sql_table_function

    out = q92_sql_table_function(spark, SF_SMOKE)
    got = out.agg(F.sum("total_cents").alias("s")).first().s
    want = (t(spark, SF_SMOKE, "orders")
            .select(F.expr(
                "CAST(CAST(o_totalprice AS DECIMAL(12,4)) * 100 AS BIGINT)")
                .alias("c"))
            .agg(F.sum("c").alias("s")).first().s)
    assert got == want
    # every order contributes to installment 1
    n1 = out.filter("inst = 1").first().n_orders
    assert n1 == t(spark, SF_SMOKE, "orders").count()


def test_d59_totals_agree_with_d58(spark):
    """The model-as-data join (d59) and the folded-formula path (d58)
    compute the SAME per-doc scores, so their per-lang score mass must
    agree exactly — the mutual pin that licenses swapping plans as the
    model artifact grows."""
    from pyspark.sql import functions as F

    from etl_docker_spark.plans.d import (d58_linear_classifier_scores,
                                          d59_classifier_weight_join)

    a = {r.lang: r.s for r in d58_linear_classifier_scores(spark, SF_SMOKE)
         .groupBy("lang").agg(F.sum("sum_score_ppm").alias("s")).collect()}
    b = {r.lang: r.s for r in d59_classifier_weight_join(spark, SF_SMOKE)
         .groupBy("lang").agg(F.sum("sum_score_ppm").alias("s")).collect()}
    assert a == b


def test_q93_interval_path_equals_integer_path(spark):
    """Spark's interval-typed SUM/extract must equal plain integer epoch
    arithmetic computed in the same engine (the cross-STYLE agreement
    the oracle then pins cross-engine)."""
    from pyspark.sql import functions as F

    from etl_docker_spark.plans._util import t
    from etl_docker_spark.plans.q import q93_interval_battery

    got = {r.o_orderpriority: (r.total_gap_secs, r.max_gap_secs)
           for r in q93_interval_battery(spark, SF_SMOKE).collect()}
    li = t(spark, SF_SMOKE, "lineitem").select("l_orderkey", "l_shipdate")
    orders = t(spark, SF_SMOKE, "orders")
    want = {r.o_orderpriority: (r.tot, r.mx)
            for r in li.join(orders, li.l_orderkey == orders.o_orderkey)
            .groupBy("o_orderpriority")
            .agg(F.sum(F.unix_timestamp("l_shipdate")
                       - F.unix_timestamp("o_orderdate")).alias("tot"),
                 F.max(F.unix_timestamp("l_shipdate")
                       - F.unix_timestamp("o_orderdate")).alias("mx"))
            .collect()}
    assert got == want


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


def test_bounded_sssp_rejects_nonpositive_hops(spark):
    """max_hops < 1 cannot be honored (the initial frame is already the
    1-hop relaxation) and must raise instead of silently returning it."""
    import pytest
    from pyspark.sql import functions as F

    from etl_docker_spark.operators.graph import bounded_sssp

    df = spark.createDataFrame([(0, 1, 5)], "a long, b long, w long")
    for bad in (0, -1):
        with pytest.raises(ValueError, match="max_hops"):
            bounded_sssp(df, F.col("a") == 0, bad)


def test_d58_both_keep_branches_carry_rows(spark):
    """The decision bias must sit inside the achievable score range so
    the verdict dimension of the rollup is actually exercised (round-6
    ADVICE: bias -2000 made keep constant-false), and d59's clamped
    grid must spread the same scores over several histogram buckets."""
    from etl_docker_spark.plans.d import (d58_linear_classifier_scores,
                                          d59_classifier_weight_join)

    keeps = {r.keep for r in
             d58_linear_classifier_scores(spark, SF_SMOKE).collect()}
    assert keeps == {True, False}
    deciles = {r.decile for r in
               d59_classifier_weight_join(spark, SF_SMOKE).collect()}
    assert len(deciles) >= 4, deciles
    assert deciles <= set(range(10)), deciles


def test_auto_suffix_buckets_rule():
    """Pure sizing rule: nearest power of two in log space, clamped."""
    from etl_docker_spark.llm.dedup import auto_suffix_buckets

    assert auto_suffix_buckets(330) == 256   # the d57 corpus (log2=8.37)
    assert auto_suffix_buckets(256) == 256
    assert auto_suffix_buckets(400) == 512   # log2=8.64 rounds up
    assert auto_suffix_buckets(3) == 16      # clamp low
    assert auto_suffix_buckets(10 ** 6) == 1024  # clamp high
    assert auto_suffix_buckets(None) == 16


def test_d57_auto_k_matches_rule(spark):
    """On the adversarial corpus, auto-sizing must land on _D57_K — the
    design rule SCALE.md recorded, now the default path: median
    shingle-set size ~327 -> nearest pow2 = 256."""
    from pyspark.sql import functions as F

    from etl_docker_spark.llm.dedup import (auto_suffix_buckets,
                                            shingle_rows, _base_hash)
    from etl_docker_spark.plans.d import _D57_K, d57_adversarial_frame

    adv = d57_adversarial_frame(spark, SF_SMOKE, cap=200)
    per_doc = (shingle_rows(adv, "doc_id", "text", 3)
               .select("doc", _base_hash(F.col("s")).alias("h")).distinct()
               .groupBy("doc").agg(F.count("*").alias("sz")))
    med = per_doc.agg(F.median("sz").alias("m")).first()["m"]
    assert auto_suffix_buckets(med) == _D57_K


def test_suffix_buckets_rejects_unknown_string(spark):
    import pytest as _pytest
    from etl_docker_spark.llm.dedup import prefix_filter_jaccard_pairs

    df = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="'banana'"):
        prefix_filter_jaccard_pairs(df, "doc_id", "text",
                                    suffix_buckets="banana").count()
