"""Streaming (s family) query tests, with the VARIANT primitives
s30 parses its events through."""

from __future__ import annotations

from tests.conftest import SF_SMOKE


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


def test_s27_lifecycle_consistent_with_s26_snapshot(spark):
    """The change feed's lifecycle view must agree with the state
    snapshot: keys the feed says were NOT evicted are exactly the open
    windows s26 reads back, with identical buffered counts, and every
    key is written exactly once in its day-index batch."""
    from etl_docker_spark.plans.s import (s26_state_datasource,
                                          s27_state_changefeed)

    feed = s27_state_changefeed(spark, SF_SMOKE).collect()
    assert feed
    days = sorted({r.day for r in feed})
    idx = {d: i for i, d in enumerate(days)}
    for r in feed:
        assert r.n_updates == 1, r
        assert r.first_update_batch == idx[r.day], r
    open_feed = {(r.day, r.event_type): r.n_events
                 for r in feed if not r.evicted}
    snap = {(r.w_start, r.event_type): r.n_events
            for r in s26_state_datasource(spark, SF_SMOKE).collect()}
    assert open_feed == snap


def test_s28_matches_batch_aggregate(spark):
    """The idempotent sink's latest-per-key read-back equals the plain
    batch aggregate over the same staged feed (exactly-once despite the
    deliberate double-apply of every batch)."""
    from pyspark.sql import functions as F

    from etl_docker_spark.plans._util import t
    from etl_docker_spark.plans.s import (_TEN_DAY_CUTOFF,
                                          s28_foreachbatch_idempotent)

    got = {(r.day, r.event_type): (r.n_events, r.total_cents)
           for r in s28_foreachbatch_idempotent(spark, SF_SMOKE).collect()}
    batch = (t(spark, SF_SMOKE, "events")
             .filter(F.col("ts") < F.lit(_TEN_DAY_CUTOFF).cast("timestamp"))
             .groupBy(F.date_trunc("day", "ts").alias("day"), "event_type")
             .agg(F.count("*").cast("long").alias("n"),
                  F.sum(F.round(F.col("value") * 100, 0).cast("long"))
                  .alias("c")))
    want = {(r.day, r.event_type): (r.n, r.c) for r in batch.collect()}
    assert got == want


def test_s31_from_json_variant_landing(spark):
    """from_json(..., 'variant') must parse arbitrary JSON text into a
    typed-extractable variant, including rows whose shapes differ —
    the schema-evolution property s31 relies on."""
    df = spark.createDataFrame(
        [('{"k": 7}',), ('{"k": 9, "extra": [1]}',), ('{"other": true}',)],
        "js string")
    rows = df.selectExpr(
        "try_variant_get(from_json(js, 'variant'), '$.k', 'bigint') AS k"
    ).collect()
    assert sorted([r.k for r in rows], key=lambda x: (x is None, x)) \
        == [7, 9, None]


def test_s31_window_totals_match_batch(spark):
    """The streamed windowed rollup must reproduce the batch answer
    over the same extraction (exactly-once across micro-batches)."""
    from pyspark.sql import functions as F

    from etl_docker_spark.plans._util import t
    from etl_docker_spark.plans.s import s31_stream_variant_landing

    got = s31_stream_variant_landing(spark, SF_SMOKE)
    ev = t(spark, SF_SMOKE, "events")
    want = (ev.groupBy(F.window("ts", "1 day").alias("w"), "event_type")
            .agg(F.count("*").cast("long").alias("n_events"),
                 F.sum(F.get_json_object("props", "$.k").cast("long"))
                 .cast("long").alias("sum_k")))
    gots = {(r.window_start, r.event_type): (r.n_events, r.sum_k,
                                             r.n_missing)
            for r in got.collect()}
    wants = {(r.w.start, r.event_type): (r.n_events, r.sum_k)
             for r in want.collect()}
    assert set(gots) == set(wants)
    for key, (n, k, miss) in gots.items():
        assert (n, k) == wants[key]
        assert miss == n  # the absent path must be NULL on EVERY row


def test_s33_streaming_verdicts_match_batch(spark):
    """The staged s33's windowed verdict rollup must agree with q101's
    batch routing on totals per verdict (streaming adds the window key;
    collapsing it recovers the batch counts)."""
    from pyspark.sql import functions as F

    from etl_docker_spark.plans.q import q101_try_parse_json_quarantine
    from etl_docker_spark.plans.s import s33_stream_json_quarantine

    def rollup(df):
        return {r["verdict"]: (r["n"], r["k"]) for r in
                df.groupBy("verdict")
                  .agg(F.sum("n_rows").alias("n"),
                       F.sum("sum_k").alias("k")).collect()}

    batch = rollup(q101_try_parse_json_quarantine(spark, SF_SMOKE))
    stream = rollup(s33_stream_json_quarantine(spark, SF_SMOKE))
    assert batch == stream


def test_ten_day_feed_stages_ten_day_files(spark):
    """The s14-s29 timing rules assume "10 days -> 10 micro-batches":
    `staged_day_stream` stages `_ten_day_feed` as exactly 10 day files
    (one micro-batch each) on the smoke corpus."""
    import os

    from etl_docker_spark.plans._util import staged_day_stream
    from etl_docker_spark.plans.s import _ten_day_feed

    feed = _ten_day_feed(spark, SF_SMOKE, "ts")
    with staged_day_stream(feed, "ten_day") as (_, work):
        assert len(os.listdir(os.path.join(work, "arrivals"))) == 10
