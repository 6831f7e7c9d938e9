"""Round-8-continuation: the probe-found sketch/collation primitives
behind d66/d67/q100 and the d68 drift gate, pinned in isolation so an
environment regression is caught even before the oracle sweep runs."""

from __future__ import annotations

from tests.conftest import SF_SMOKE


def test_approx_top_k_boundary_stratum_dodge(spark):
    """The k-boundary tie-break of approx_top_k is hash-order (round-8
    probe), so raw top-k output is nondeterministic across engines —
    but dropping the whole boundary stratum (count == min returned
    count) leaves exactly the strictly-greater set, which IS
    deterministic. Pin that on a frame with a deliberate tie AT the
    boundary: {a:3, b:2, c:2, d:1}, k=2 -> only 'a' survives."""
    rows = spark.sql("""
        WITH d AS (SELECT explode(split('a a a b b c c d', ' ')) AS x)
        SELECT tk FROM (SELECT approx_top_k(x, 2, 100) AS tk FROM d)
    """).collect()
    tk = rows[0][0]
    assert len(tk) == 2 and tk[0]["item"] == "a" and tk[0]["count"] == 3
    min_cnt = min(e["count"] for e in tk)
    survivors = [e["item"] for e in tk if e["count"] > min_cnt]
    assert survivors == ["a"]


def test_hll_coupon_exact_phase_boundary(spark):
    """d67's exactness argument: lgK=16 keeps the DataSketches HLL in
    its coupon phase (estimate == exact) through the 3000-value bucket
    domain, while lgK=14 has already promoted to HLL-array mode and
    drifts — pinning BOTH sides documents why _D67_LGK is 16 and turns
    a future default-lgK change into a test failure, not silent
    estimate drift."""
    exact = spark.sql("""
        WITH d AS (SELECT CAST(id % 3000 AS BIGINT) AS v FROM range(60000))
        SELECT CAST(hll_sketch_estimate(hll_sketch_agg(v, 16)) AS BIGINT)
        FROM d
    """).collect()[0][0]
    assert exact == 3000
    drifted = spark.sql("""
        WITH d AS (SELECT CAST(id % 3000 AS BIGINT) AS v FROM range(60000))
        SELECT CAST(hll_sketch_estimate(hll_sketch_agg(v, 14)) AS BIGINT)
        FROM d
    """).collect()[0][0]
    assert drifted != 3000


def test_hll_union_agg_exact_in_coupon_phase(spark):
    """Unions of coupon-phase sketches stay coupon-phase while the
    union cardinality is below the promotion threshold — the property
    d67's cumulative-coverage triangle relies on."""
    got = spark.sql("""
        WITH s AS (
          SELECT g, hll_sketch_agg(v, 16) AS sk FROM (
            SELECT CAST(id % 4 AS INT) AS g,
                   CAST((id * 7) % 2500 AS BIGINT) AS v
            FROM range(50000)
          ) GROUP BY g
        )
        SELECT CAST(hll_sketch_estimate(hll_union_agg(sk, true)) AS BIGINT)
        FROM s
    """).collect()[0][0]
    assert got == 2500


def test_unicode_ci_ai_equates_accent_and_case(spark):
    """q100's collation legs: UNICODE_CI_AI must equate accent AND case
    variants, both in equality and in count(DISTINCT ...)."""
    row = spark.sql("""
        SELECT collate('café', 'UNICODE_CI_AI')
                 = collate('CAFE', 'UNICODE_CI_AI') AS eq_ai,
               collate('BÚÍLDÍNG', 'UNICODE_CI_AI')
                 = collate('building', 'UNICODE_CI_AI') AS eq_b
    """).collect()[0]
    assert row["eq_ai"] and row["eq_b"]
    n = spark.sql("""
        SELECT count(DISTINCT collate(x, 'UNICODE_CI_AI')) FROM VALUES
        ('búíldíng'),('BUILDING'),('building'),('BúíldíNG') AS t(x)
    """).collect()[0][0]
    assert n == 1


def test_d68_holdout_drift_is_nonzero(spark):
    """The drift gate must actually see drift: removing 20% of training
    data moves at least some holdout scores (mean_abs_delta_ppm > 0 on
    the holdout split), while per-split doc counts partition the
    corpus. Pinned at smoke scale."""
    from etl_docker_spark.plans.d import d68_model_score_drift

    rows = {r["split"]: r
            for r in d68_model_score_drift(spark, SF_SMOKE).collect()}
    assert set(rows) == {"train", "holdout"}
    n_docs = sum(r["n_docs"] for r in rows.values())
    from etl_docker_spark.catalog import load_table
    assert n_docs == load_table(spark, SF_SMOKE, "documents").count()
    assert rows["holdout"]["mean_abs_delta_ppm"] > 0
    assert all(r["max_abs_delta_ppm"] >= r["mean_abs_delta_ppm"]
               for r in rows.values())


def test_bitmap_family_exact_merge(spark):
    """d69's primitives: segment bitmaps count exactly, and OR-merging
    per-segment states reproduces the distinct count of the union —
    including across segment boundaries (bitmap_bucket_number splits
    the id space every 32768 bits)."""
    row = spark.sql("""
        WITH ids AS (SELECT id * 9973 AS v FROM range(500))
        SELECT CAST(SUM(c) AS BIGINT) FROM (
          SELECT bitmap_count(bitmap_construct_agg(bitmap_bit_position(v)))
                   AS c
          FROM ids GROUP BY bitmap_bucket_number(v)
        )
    """).collect()[0]
    assert row[0] == 500
    merged = spark.sql("""
        WITH a AS (SELECT id AS v FROM range(300)),
             b AS (SELECT id + 200 AS v FROM range(300)),
        bms AS (
          SELECT bitmap_bucket_number(v) AS seg,
                 bitmap_construct_agg(bitmap_bit_position(v)) AS bm
          FROM (SELECT v FROM a UNION ALL SELECT v FROM b)
          GROUP BY 1
        )
        SELECT CAST(SUM(bitmap_count(bm)) AS BIGINT) FROM (
          SELECT seg, bitmap_or_agg(bm) AS bm FROM bms GROUP BY seg
        )
    """).collect()[0]
    assert merged[0] == 500


def test_round10_primitives_levenshtein_and_try_parse_json(spark):
    """Round-10 staged-query primitives (d70 and q101):
    pinned now so an environment regression before registration is
    caught. Includes the cross-engine gotcha: Spark levenshtein counts
    CODEPOINTS ('café'->'cafe' = 1; DuckDB's byte-based counts 2),
    which is why d70 ASCII-sanitizes its keys on both sides."""
    row = spark.sql("""
        SELECT levenshtein('kitten', 'sitting') AS d1,
               levenshtein('café', 'cafe') AS d2,
               try_parse_json('{"a": 1}') IS NULL AS ok_null,
               try_parse_json('{bad') IS NULL AS bad_null,
               is_variant_null(try_parse_json('null')) AS vnull,
               is_variant_null(try_parse_json('1')) AS vnotnull
    """).collect()[0]
    assert row["d1"] == 3 and row["d2"] == 1
    assert not row["ok_null"] and row["bad_null"]
    assert row["vnull"] and not row["vnotnull"]


def test_d70_deletion_blocking_complete_vs_bruteforce(spark):
    """The staged d70's blocking claim, pinned against brute force on a
    small slice: deletion-neighborhood candidates == the full quadratic
    scan's substitution-distance-1 pairs (completeness AND precision)."""
    # ADVICE r8: go through the catalog loader (not a raw parquet path)
    # so this brute-force frame sees the same normalization every plan
    # sees — a physical-layout change breaks it loudly, not differently.
    from etl_docker_spark.catalog import load_table
    load_table(spark, SF_SMOKE, "customer") \
        .createOrReplaceTempView("d70_brute_customer")
    brute = spark.sql("""
        WITH k AS (SELECT c_custkey AS id, c_name AS key
                   FROM d70_brute_customer)
        SELECT count(*) FROM k a JOIN k b
        ON a.id < b.id AND length(a.key) = length(b.key)
           AND levenshtein(a.key, b.key) <= 1
    """).collect()[0][0]
    from etl_docker_spark.plans.d import d70_edit_distance_blocking
    row = d70_edit_distance_blocking(spark, SF_SMOKE).collect()[0]
    assert row["n_pairs"] == brute
    assert row["n_cand"] == row["n_pairs"]  # precision 1.0
    assert row["min_dist"] == row["max_dist"] == 1
