"""LLM-data (d family) query tests: invariants of d25-d55 beyond the
value gate (sketch bounds, keep rules, the Python twin of d55), the
sketch, bitmap and edit-distance primitives d64-d70 are built on, the
trained-classifier lifecycle (d60-d63), its calibrated consumers (d61,
d62), the theta-sketch source overlap (d64), and the fuzzy-dedup pins of
d71-d75:

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
import hashlib

import duckdb
import pytest
from pyspark.sql import functions as F

from etl_docker_spark.plans import QUERIES
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


@pytest.mark.parametrize("seed", [3, 17])
def test_self_dedup_curation_matches_bruteforce(spark, seed):
    """d55's sorted-lag union size == brute-force 'positions covered by
    the later copy of any repeated 2-gram' on random repetitive docs."""
    import random

    from etl_docker_spark.plans.d import d55_self_dedup_curation

    rng = random.Random(seed)
    vocab = [f"w{i}" for i in range(8)]  # tiny vocab -> dense repeats
    docs = []
    for i in range(30):
        base = [rng.choice(vocab) for _ in range(rng.randint(2, 12))]
        if rng.random() < 0.5:  # inject a verbatim internal repeat
            span = base[:rng.randint(1, len(base))]
            base = base + span
        docs.append((i, " ".join(base)))

    k = 2
    expected = {}
    for i, text in docs:
        toks = text.split(" ")
        grams = [tuple(toks[p:p + k]) for p in range(len(toks) - k + 1)]
        covered = set()
        for pb in range(len(grams)):
            if grams[pb] in grams[:pb]:
                covered.update(range(pb, pb + k))
        dup = len(covered)
        expected[i] = (len(toks), dup, len(toks) - dup,
                       (1_000_000 * dup) // max(len(toks), 1))

    import tempfile
    with tempfile.TemporaryDirectory() as d:
        spark.createDataFrame(docs, "doc_id long, text string") \
            .write.parquet(f"{d}/documents.parquet")
        got = {r.doc_id: (r.n_tokens, r.dup_tokens, r.curated_tokens,
                          r.dup_ppm)
               for r in d55_self_dedup_curation(spark, d).collect()}
    assert got == expected


def test_theta_exact_mode_set_algebra(spark):
    """Theta sketches in the exact regime (distinct < nominal entries)
    must reproduce set algebra exactly — union/intersection/difference
    on hand-built overlapping sets."""
    row = spark.sql("""
        WITH a AS (SELECT theta_sketch_agg(x, 13) s
                   FROM (SELECT explode(sequence(1, 100)) x)),
             b AS (SELECT theta_sketch_agg(x, 13) s
                   FROM (SELECT explode(sequence(51, 180)) x))
        SELECT theta_sketch_estimate(theta_union(a.s, b.s, 13)) u,
               theta_sketch_estimate(theta_intersection(a.s, b.s)) i,
               theta_sketch_estimate(theta_difference(a.s, b.s)) d
        FROM a, b""").first()
    assert (row.u, row.i, row.d) == (180, 50, 50)


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
