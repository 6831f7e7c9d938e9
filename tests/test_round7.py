"""Round-7: the trained-classifier lifecycle (d60)."""

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


def test_variant_roundtrip_and_schema(spark):
    """VARIANT loop on a hand-built row: parse -> typed get -> to_json
    round-trips, schema_of_variant sees the real structure, and
    try_variant_get returns NULL (not error) on absent paths and type
    mismatches."""
    row = spark.sql("""
        SELECT parse_json('{"a": 1, "b": [true, {"c": "x"}]}') v
    """).selectExpr(
        "variant_get(v, '$.a', 'bigint') a",
        "variant_get(v, '$.b[1].c', 'string') c",
        "try_variant_get(v, '$.zzz', 'bigint') miss",
        "try_variant_get(v, '$.b', 'bigint') wrong_type",
        "schema_of_variant(v) sch",
        "to_json(v) js").first()
    assert (row.a, row.c) == (1, "x")
    assert row.miss is None and row.wrong_type is None
    assert row.sch == "OBJECT<a: BIGINT, b: ARRAY<VARIANT>>"
    assert row.js == '{"a":1,"b":[true,{"c":"x"}]}'


def test_s30_metric_covers_every_shape(spark):
    """Every event shape contributes a metric through its own path
    grammar (nested object, array-of-objects, int array, string, int),
    and only errors carry fatal counts."""
    from etl_docker_spark.plans.s import s30_stream_variant_ingest

    rows = {r.grp: r for r in
            s30_stream_variant_ingest(spark, SF_SMOKE).collect()}
    assert set(rows) == {"view", "purchase", "click", "signup", "error"}
    for grp, r in rows.items():
        assert r.sum_metric is not None and r.n_events > 0
        if grp == "error":
            assert 0 < r.n_fatal <= r.n_events
        else:
            assert r.n_fatal == 0


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
