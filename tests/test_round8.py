"""Round-8: VARIANT persistence, XML, collation, listagg and
theta-sketch primitives."""

from __future__ import annotations

from tests.conftest import SF_SMOKE


def test_q95_variant_survives_parquet(spark):
    """to_variant_object -> parquet -> read-back must preserve typed
    path extraction (the shredded-encoding round trip), pinned on a
    hand-built frame so the property is isolated from the corpus."""
    import os
    import shutil
    import tempfile

    df = spark.sql("""
        SELECT to_variant_object(named_struct(
                 'id', id, 'tags', array('a', 'b'),
                 'meta', named_struct('depth', id * 2))) AS v
        FROM range(5)
    """)
    work = tempfile.mkdtemp(prefix="t_q95_")
    try:
        path = os.path.join(work, "v")
        df.write.parquet(path)
        back = spark.read.parquet(path).selectExpr(
            "variant_get(v, '$.id', 'bigint') AS id",
            "variant_get(v, '$.tags[1]', 'string') AS tag",
            "variant_get(v, '$.meta.depth', 'bigint') AS depth",
            "try_variant_get(v, '$.nope', 'bigint') AS miss")
        rows = sorted(back.collect(), key=lambda r: r.id)
        assert [r.id for r in rows] == list(range(5))
        assert all(r.tag == "b" and r.depth == 2 * r.id and r.miss is None
                   for r in rows)
    finally:
        shutil.rmtree(work, ignore_errors=True)


def test_q95_native_construction_matches_parse_json(spark):
    """to_variant_object(struct) must equal parse_json(to_json(struct))
    for the same nested value — construction parity between the native
    and JSON-text paths."""
    row = spark.sql("""
        WITH s AS (SELECT named_struct('a', 1, 'b', array(2, 3)) AS st)
        SELECT to_json(to_variant_object(st)) AS native,
               to_json(parse_json(to_json(st))) AS via_json
        FROM s
    """).first()
    assert row.native == row.via_json == '{"a":1,"b":[2,3]}'


def test_q96_both_xml_grammars_agree(spark):
    """The from_xml schema read and the xpath path language must
    recover identical numbers from the same documents — pinned at the
    output level (the oracle already pins both against the relational
    truth; this pins them against each other row-wise)."""
    from etl_docker_spark.plans.q import q96_xml_battery

    rows = q96_xml_battery(spark, SF_SMOKE).collect()
    assert rows
    for r in rows:
        assert r.sum_qty_struct == r.sum_qty_xpath
        assert r.n_items == r.n_items_xpath


def test_xml_roundtrip_unit(spark):
    """to_xml -> from_xml -> xpath on a hand-built nested row: repeated
    elements land as an array, xpath aggregates across them."""
    row = spark.sql("""
        WITH d AS (SELECT to_xml(named_struct(
          'okey', 7, 'items', array(named_struct('qty', 17),
                                    named_struct('qty', 36)))) x)
        SELECT from_xml(x, 'okey BIGINT, items ARRAY<STRUCT<qty: BIGINT>>')
                 AS s,
               xpath_long(x, 'sum(ROW/items/qty)') AS xq,
               CAST(size(xpath(x, 'ROW/items')) AS BIGINT) AS nx
        FROM d""").first()
    assert row.s.okey == 7
    assert [it.qty for it in row.s.items] == [17, 36]
    assert row.xq == 53 and row.nx == 2


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


def test_collation_primitives(spark):
    """Round-8 probe finds staged for round 9 (q97): pin
    the collation behavior q97 depends on — UTF8_LCASE merges case
    variants under GROUP BY and equality, and the group key keeps the
    FIRST-SEEN representation (why q97 must canonicalize outputs)."""
    rows = spark.sql("""
        SELECT collate(x, 'UTF8_LCASE') k, count(*) n
        FROM VALUES ('Abc'), ('aBC'), ('xyz') t(x)
        GROUP BY k ORDER BY n DESC
    """).collect()
    assert [(r.k, r.n) for r in rows] == [("Abc", 2), ("xyz", 1)]
    eq = spark.sql(
        "SELECT collate('HeLLo', 'UTF8_LCASE') = 'hello' e").first()
    assert eq.e is True


def test_listagg_within_group(spark):
    """Pin listagg WITHIN GROUP ordering (q98's determinism source):
    ascending and descending orders both honored."""
    row = spark.sql("""
        SELECT listagg(x, ',') WITHIN GROUP (ORDER BY x) a,
               listagg(x, '|') WITHIN GROUP (ORDER BY x DESC) d
        FROM VALUES ('b'), ('c'), ('a') t(x)
    """).first()
    assert row.a == "a,b,c" and row.d == "c|b|a"


def test_variant_explode_lateral(spark):
    """Pin the variant_explode table function (q99's engine): object
    fields come back as (pos, key, value), arrays carry ordinality."""
    rows = spark.sql("""
        SELECT e.pos, e.key, variant_get(e.value, '$', 'bigint') v
        FROM (SELECT parse_json('[10,20,30]') vv) t,
             LATERAL variant_explode(t.vv) e
        ORDER BY e.pos
    """).collect()
    assert [(r.pos, r.key, r.v) for r in rows] == [
        (0, None, 10), (1, None, 20), (2, None, 30)]
    keys = spark.sql("""
        SELECT e.key FROM (SELECT parse_json('{"a":1,"b":2}') vv) t,
             LATERAL variant_explode(t.vv) e ORDER BY e.key
    """).collect()
    assert [r.key for r in keys] == ["a", "b"]
