"""LLM-data (d family) query tests: the trained-classifier lifecycle
(d60-d63), its calibrated consumers (d61, d62) and the theta-sketch
source overlap (d64)."""

from __future__ import annotations

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
