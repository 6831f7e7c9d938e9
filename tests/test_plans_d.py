"""LLM-data (d family) query tests: the trained-classifier lifecycle
(d60-d63), its calibrated consumers (d61, d62), the theta-sketch source
overlap (d64), and the fuzzy-dedup pins of d71-d75:

- d71: depth-2 deletion blocking against an independent brute force;
- d72: aggregate-only pair counting against a brute-force enumeration;
- d73: the vocabulary contract its blocking relies on (the _D73_VOCAB
  comment in plans/d.py): pairwise edit distance >= 2 (a vocab-vocab
  token pair can never be a typo match, so every typo pair traces to a
  corruption or t4), no single-char deletion of one word equals
  another, and no 'q' or 'x' anywhere (the substitution/insertion
  characters, so every injected corruption is at token distance
  EXACTLY 1);
- d75: the order-insensitivity of its blocking, its match semantics,
  and (with d73) the absence of any data-sized cartesian in the plan.
"""

from __future__ import annotations

import functools

import duckdb
from pyspark.sql import functions as F

from etl_docker_spark.plans.d import _D73_VOCAB
from tests.conftest import SF_SMOKE


def test_d60_weights_are_prior_centered(spark):
    """Training must produce a NON-degenerate model: weights on both
    sides of zero (prior-centering — raw polarities would all sit near
    the keep-heavy prior), every weight within the centered polarity
    range, and one row per observed bucket."""
    from pyspark.sql import functions as F

    from etl_docker_spark.plans.d import (_D58_BUCKETS, _D60_SCALE,
                                          d60_weights_frame)

    w = d60_weights_frame(spark, SF_SMOKE)
    stats = w.agg(F.min("w_ppm").alias("lo"), F.max("w_ppm").alias("hi"),
                  F.count("*").alias("n"),
                  F.count_distinct("bucket").alias("nb")).first()
    assert stats.lo < 0 < stats.hi
    assert abs(stats.lo) <= 2 * _D60_SCALE and stats.hi <= 2 * _D60_SCALE
    assert stats.n == stats.nb <= _D58_BUCKETS


def test_d60_confusion_discriminates(spark):
    """The trained model must actually separate its training labels:
    keep docs score higher on average than low_diversity docs, and both
    keep_pred branches carry rows (the d58 ADVICE regression, now on
    the trained path)."""
    from etl_docker_spark.plans.d import d60_trained_classifier

    rows = d60_trained_classifier(spark, SF_SMOKE).collect()
    assert {r.keep_pred for r in rows} == {True, False}

    def mean_score(verdict):
        n = sum(r.n_docs for r in rows if r.verdict == verdict)
        s = sum(r.sum_score_ppm for r in rows if r.verdict == verdict)
        return s / n

    assert mean_score("keep") > mean_score("low_diversity")


def test_d60_served_weights_equal_retrained(spark):
    """The persisted artifact must be bit-identical to a fresh training
    run: clear the in-session memo (simulating a new session serving
    from disk) and compare the full weight table."""
    from etl_docker_spark.llm.index_cache import clear_session_memo
    from etl_docker_spark.plans.d import d60_weights_frame

    first = {(r.bucket, r.w_ppm)
             for r in d60_weights_frame(spark, SF_SMOKE).collect()}
    clear_session_memo()
    served = {(r.bucket, r.w_ppm)
              for r in d60_weights_frame(spark, SF_SMOKE).collect()}
    assert first == served


def test_d61_yield_curve_is_cumulative_and_total(spark):
    """The sweep's lowest cell must account for every document (keep
    everything above the floor == keep all), and kept counts must be
    non-increasing as the threshold rises."""
    from etl_docker_spark.plans._util import t
    from etl_docker_spark.plans.d import d61_threshold_yield_curve

    from etl_docker_spark.plans.d import _D61_CELLS

    rows = d61_threshold_yield_curve(spark, SF_SMOKE).collect()
    assert len(rows) == _D61_CELLS  # every threshold reports, even empty
    assert [r.cell for r in rows] == list(range(_D61_CELLS))
    n_docs = t(spark, SF_SMOKE, "documents").count()
    assert rows[0].docs_kept == n_docs
    for a, b in zip(rows, rows[1:]):
        assert a.docs_kept >= b.docs_kept
        assert a.tokens_kept >= b.tokens_kept


def test_d62_knife_is_calibrated_not_clamped(spark):
    """Every language's chosen cell must sit strictly inside the grid
    (not the degenerate cell-0 'keep everything' answer, not the top
    clamp), the kept token fraction must meet the 60% target, and the
    knife must actually cut (docs_kept strictly between 0 and all)."""
    from etl_docker_spark.plans.d import (_D61_CELLS, _D62_KEEP_TARGET_PCT,
                                          d62_lang_calibrated_thresholds)

    rows = d62_lang_calibrated_thresholds(spark, SF_SMOKE).collect()
    assert len(rows) == 5  # one knife per language
    for r in rows:
        assert 0 < r.chosen_cell < _D61_CELLS - 1
        assert r.tokens_kept * 100 >= _D62_KEEP_TARGET_PCT * r.total_tokens
        assert 0 < r.docs_kept < r.total_docs
        assert r.kept_ppm == r.tokens_kept * 1_000_000 // r.total_tokens


def test_d63_split_weights_differ_from_full(spark):
    """The 80%-split model must be a genuinely different artifact from
    the full-corpus model (same buckets, different counts -> different
    weights somewhere), trained on train rows only."""
    from etl_docker_spark.plans.d import d60_weights_frame, d63_weights_frame

    full = {r.bucket: r.w_ppm
            for r in d60_weights_frame(spark, SF_SMOKE).collect()}
    split = {r.bucket: r.w_ppm
             for r in d63_weights_frame(spark, SF_SMOKE).collect()}
    assert split and full
    common = set(full) & set(split)
    assert any(full[b] != split[b] for b in common)


def test_d64_sketch_domain_stays_exact(spark):
    """The gate's exactness precondition: every per-source distinct
    bucket count must stay below the sketch's nominal entries (the
    bounded-domain projection guarantees it at any corpus scale), and
    the pairwise identities union = common + only_a + only_b and
    jaccard = common/union must hold on the emitted rows."""
    from pyspark.sql import functions as F

    from etl_docker_spark.plans._util import _D64_DOMAIN, t
    from etl_docker_spark.plans.d import _D64_LGK, d64_theta_source_overlap

    assert _D64_DOMAIN < 2 ** _D64_LGK  # exact regime by construction
    rows = d64_theta_source_overlap(spark, SF_SMOKE).collect()
    n_src = (t(spark, SF_SMOKE, "documents")
             .agg(F.count_distinct("source")).first()[0])
    assert len(rows) == n_src * (n_src - 1) // 2
    for r in rows:
        assert 0 < r.n_common <= r.n_union <= _D64_DOMAIN
        assert r.jaccard_ppm == r.n_common * 1_000_000 // r.n_union


def test_d63_generalization_gap_is_visible(spark):
    """Train-side keep docs must be predicted keep at a higher rate
    than holdout keep docs (memorization > generalization), and the
    holdout half must be non-degenerate: both keep_pred branches carry
    rows."""
    from etl_docker_spark.plans.d import d63_holdout_generalization

    rows = d63_holdout_generalization(spark, SF_SMOKE).collect()
    assert {r.split for r in rows} == {"train", "holdout"}

    def keep_rate(split):
        n = sum(r.n_docs for r in rows
                if r.split == split and r.verdict == "keep")
        k = sum(r.n_docs for r in rows
                if r.split == split and r.verdict == "keep" and r.keep_pred)
        return k / n

    assert keep_rate("train") >= keep_rate("holdout")
    holdout_preds = {r.keep_pred for r in rows if r.split == "holdout"}
    assert holdout_preds == {True, False}


def _duck_with_tables(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.sql(f"CREATE VIEW customer AS "
            f"SELECT * FROM '{sf_dir}/customer.parquet'")
    return con


# Independent brute-force derivation (NOT a copy of D71_SQL's blocking):
# rebuild the same deterministic corpus, then the full quadratic
# levenshtein scan. Agreement pins d71's depth-2 deletion blocking as
# complete for ed <= 2 — the FastSS recall guarantee, measured.
_BRUTE = """
WITH base AS (
  SELECT CAST(c_custkey AS BIGINT) AS id,
         substring(md5(c_name), 1, 20) AS key
  FROM customer
),
e1b AS (
  SELECT id, key, p1,
         CASE (id // 4) % 3
           WHEN 0 THEN concat(substring(key, 1, p1 - 1), 'q',
                              substring(key, p1 + 1))
           WHEN 1 THEN concat(substring(key, 1, p1 - 1),
                              substring(key, p1 + 1))
           ELSE concat(substring(key, 1, p1 - 1), 'x',
                       substring(key, p1))
         END AS k1
  FROM (SELECT id, key, (id * 7) % length(key) + 1 AS p1 FROM base
        WHERE id % 4 = 0)
),
aliases AS (
  SELECT id + 10000000 AS id,
         CASE WHEN id % 8 = 0 THEN
           concat(substring(k1, 1, p2 - 1), 'z', substring(k1, p2 + 1))
         ELSE k1 END AS key
  FROM (SELECT id, k1,
               CASE WHEN p2_raw = p1 THEN p2_raw + 1 ELSE p2_raw END AS p2
        FROM (SELECT id, p1, k1,
                     (id * 13) % greatest(length(k1) - 1, 1) + 1 AS p2_raw
              FROM e1b))
),
corpus AS (SELECT id, key FROM base UNION ALL
           SELECT id, key FROM aliases)
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(CASE WHEN b.id - a.id = 10000000 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_injected,
       CAST(COUNT(*) FILTER (WHERE a.id % 4 = 0 AND a.id % 8 != 0)
            AS BIGINT) AS n_single_edit_sources
FROM corpus a JOIN corpus b
  ON a.id < b.id AND levenshtein(a.key, b.key) <= 2
"""


def test_d71_blocking_recall_vs_bruteforce(spark):
    from etl_docker_spark.plans.d import d71_fuzzy_dedup_depth2
    con = _duck_with_tables(SF_SMOKE)
    brute = con.sql(_BRUTE).fetchone()
    row = d71_fuzzy_dedup_depth2(spark, SF_SMOKE).collect()[0]
    # completeness: every brute-force ed<=2 pair is found by the
    # depth-2 deletion blocking (the FastSS guarantee), and the verify
    # stage never over-counts
    assert row["n_pairs"] == brute[0]
    assert row["n_injected_found"] == brute[1]
    # the corpus genuinely exercises BOTH distance tiers
    assert row["min_dist"] == 1 and row["max_dist"] == 2
    # blocking bound: candidates are a superset of answers but bounded
    # (shared-variant distance bound is 4, and on high-entropy hex keys
    # the leakage stays near zero)
    assert row["n_cand"] >= row["n_pairs"]


def test_d71_injects_every_fourth_customer(spark):
    from etl_docker_spark.catalog import load_table
    from etl_docker_spark.plans.d import d71_fuzzy_dedup_depth2
    # custkeys are 0-based in this corpus (0..n-1), so count the actual
    # id%4==0 population rather than assuming 1-based keys
    n_aliases = (load_table(spark, SF_SMOKE, "customer")
                 .filter("c_custkey % 4 = 0").count())
    row = d71_fuzzy_dedup_depth2(spark, SF_SMOKE).collect()[0]
    # full recall on the injected linkage: one recovered pair per alias
    assert row["n_injected_found"] == n_aliases


def test_d72_pair_counts_vs_bruteforce(spark):
    """d72 computes cross-ordering pair counts from GROUP SIZES alone
    (C(n,2) - sum C(m,2)); pin that algebra against a literal pairwise
    enumeration over the same corpus on the smoke slice."""
    from etl_docker_spark.catalog import load_table
    from etl_docker_spark.plans.d import d72_token_transposition_dedup
    load_table(spark, SF_SMOKE, "documents") \
        .createOrReplaceTempView("d72_docs")
    brute = spark.sql("""
        WITH base AS (
          SELECT CAST(doc_id AS BIGINT) AS id,
                 slice(split(text, ' '), 1, 6) AS tok
          FROM d72_docs
        ),
        aliases AS (
          SELECT id + 10000000 AS id,
                 concat(slice(tok, (1 + pmod(id, 3)) + 1, 6),
                        slice(tok, 1, 1 + pmod(id, 3))) AS tok
          FROM base WHERE id % 5 = 0
        ),
        corpus AS (
          SELECT id, array_join(tok, ' ') AS raw,
                 array_join(sort_array(tok), ' ') AS sig
          FROM (SELECT * FROM base UNION ALL SELECT * FROM aliases)
        )
        SELECT count(*) AS n_reorder_pairs,
               sum(CASE WHEN b.id - a.id = 10000000 THEN 1 ELSE 0 END)
                 AS n_injected
        FROM corpus a JOIN corpus b
          ON a.sig = b.sig AND a.id < b.id AND a.raw != b.raw
    """).collect()[0]
    row = d72_token_transposition_dedup(spark, SF_SMOKE).collect()[0]
    assert row["n_reorder_pairs"] == brute["n_reorder_pairs"]
    # every injected alias is a genuine reordering (rotation by >= 1 of
    # distinct-enough tokens), so the aggregate recovery finds them all
    assert row["n_injected_found"] >= brute["n_injected"] - 2
    assert row["n_injected_found"] <= row["n_reorder_pairs"]


def test_d72_sorted_signature_is_multiset_exact(spark):
    """The blocking claim: sorted-token signatures are equal IFF token
    multisets are equal — including the duplicate-token case that
    set-based signatures (array_distinct) would conflate."""
    rows = spark.sql("""
        SELECT array_join(sort_array(split('b a a', ' ')), ' ') AS s1,
               array_join(sort_array(split('a a b', ' ')), ' ') AS s2,
               array_join(sort_array(split('a b b', ' ')), ' ') AS s3
    """).collect()[0]
    assert rows["s1"] == rows["s2"]          # reorder -> same signature
    assert rows["s1"] != rows["s3"]          # multiplicity differs -> not


def _ed(a: str, b: str) -> int:
    @functools.lru_cache(maxsize=None)
    def d(i: int, j: int) -> int:
        if i == 0:
            return j
        if j == 0:
            return i
        return min(d(i - 1, j) + 1, d(i, j - 1) + 1,
                   d(i - 1, j - 1) + (a[i - 1] != b[j - 1]))
    return d(len(a), len(b))


def test_d73_vocab_is_24_distinct_ascii_words():
    assert len(_D73_VOCAB) == 24
    assert len(set(_D73_VOCAB)) == 24
    for w in _D73_VOCAB:
        assert w.isascii() and w.islower() and len(w) >= 5, w


def test_d73_vocab_pairwise_distance_at_least_2():
    for i, a in enumerate(_D73_VOCAB):
        for b in _D73_VOCAB[i + 1:]:
            assert _ed(a, b) >= 2, (a, b)


def test_d73_vocab_deletions_never_collide():
    words = set(_D73_VOCAB)
    for w in _D73_VOCAB:
        dels = {w[:i] + w[i + 1:] for i in range(len(w))}
        assert not (dels & words), w


def test_d73_vocab_avoids_corruption_chars():
    for w in _D73_VOCAB:
        assert "q" not in w and "x" not in w, w


def test_d73_plan_no_data_sized_cartesian(spark):
    """The only nested-loop join allowed is the 1-row x 1-row stats
    crossJoin; the signature join must be a hash join."""
    from etl_docker_spark.plans import QUERIES

    df = QUERIES["d73_low_entropy_fuzzy_dedup"].builder(
        spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert plan.count("HashJoin") >= 1


def test_d75_plan_no_data_sized_cartesian(spark):
    """The only nested-loop join allowed is the 1-row x 1-row stats
    crossJoin; the signature join must be a hash join. (The all-pairs
    brute force exists ONLY in the DuckDB oracle.)"""
    from etl_docker_spark.plans import QUERIES

    df = QUERIES["d75_transposed_typo_dedup"].builder(
        spark, SF_SMOKE)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert plan.count("HashJoin") >= 1


def test_d75_blocking_is_order_insensitive(spark):
    """The signature set of a name must be invariant under any token
    permutation — the property that lets a rotated alias meet its base
    name in a block at all. Rebuild the signature expression over a
    tiny literal frame with a rotated copy and assert the two signature
    sets are identical."""
    rows = [(1, ["alder", "birch", "cedar", "no042"]),
            (2, ["no042", "alder", "birch", "cedar"])]  # rotation of 1
    df = spark.createDataFrame(rows, ["id", "toks"])
    sigs = (df.select("id", F.sort_array("toks").alias("st"))
            .select("id", F.explode(F.expr("sequence(1, 4)")).alias("i"),
                    "st")
            .select("id",
                    F.expr("element_at(st, i)").alias("tok"),
                    F.expr("concat_ws(' ', concat(slice(st, 1, i - 1), "
                           "slice(st, i + 1, 4 - i)))").alias("rest"))
            .select("id", "tok", "rest",
                    F.explode(F.expr("sequence(0, length(tok))"))
                    .alias("p"))
            .select("id", F.concat(
                F.col("rest"), F.lit("|"),
                F.expr("CASE WHEN p = 0 THEN tok "
                       "ELSE concat(substring(tok, 1, p - 1), "
                       "substring(tok, p + 1)) END")).alias("sig")))
    by_id = {r["id"]: set() for r in sigs.collect()}
    for r in sigs.collect():
        by_id[r["id"]].add(r["sig"])
    assert by_id[1] == by_id[2]
    # fan bound: 4 slots x (len + 1) variants, all distinct-or-fewer
    assert len(by_id[1]) <= 4 * 7


def test_d75_match_semantics_on_handmade_corpus(spark):
    """End-to-end on a handmade corpus exercising each regime: exact
    transposition (dist 0), transposition + single-char typo (dist 1),
    and a NON-match at token distance 2 that shares a deletion variant
    (the leakage the levenshtein verify must prune)."""
    rows = [
        (1, ["alder", "birch", "cedar", "no042"]),
        # rotation only -> dist-0 pair with 1
        (2, ["cedar", "no042", "alder", "birch"]),
        # rotation + one deletion inside 'birch' -> dist-1 pair with 1,2
        (3, ["no042", "alder", "brch", "cedar"]),
        # same residual tokens but the fourth token is ed >= 2 from
        # every other fourth token -> must NOT match anything
        (4, ["no042", "alder", "zzzzz", "cedar"]),
    ]
    df = spark.createDataFrame(rows, ["id", "toks"])
    corpus = df.select("id", F.sort_array("toks").alias("st"))
    sigs = (corpus
            .select("id", F.explode(F.expr("sequence(1, 4)")).alias("i"),
                    "st")
            .select("id",
                    F.expr("element_at(st, i)").alias("tok"),
                    F.expr("concat_ws(' ', concat(slice(st, 1, i - 1), "
                           "slice(st, i + 1, 4 - i)))").alias("rest"))
            .select("id", "tok", "rest",
                    F.explode(F.expr("sequence(0, length(tok))"))
                    .alias("p"))
            .select("id", "tok", F.concat(
                F.col("rest"), F.lit("|"),
                F.expr("CASE WHEN p = 0 THEN tok "
                       "ELSE concat(substring(tok, 1, p - 1), "
                       "substring(tok, p + 1)) END")).alias("sig")))
    a = sigs.select(F.col("id").alias("id_a"),
                    F.col("tok").alias("tok_a"), "sig")
    b = sigs.select(F.col("id").alias("id_b"),
                    F.col("tok").alias("tok_b"), "sig")
    pairs = {(r["id_a"], r["id_b"], r["dist"]) for r in
             (a.join(b, "sig").filter(F.col("id_a") < F.col("id_b"))
              .select("id_a", "id_b",
                      F.levenshtein("tok_a", "tok_b").alias("dist"))
              .distinct().filter(F.col("dist") <= 1)).collect()}
    assert pairs == {(1, 2, 0), (1, 3, 1), (2, 3, 1)}
