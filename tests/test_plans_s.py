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
