"""Unit tests for relational operators (SURVEY.md §2.3-2.7), the
skyline and the graph operators (connected components)."""

from __future__ import annotations

import random

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F
from pyspark.sql import types as T

from etl_docker_spark.operators import (
    anti_join,
    conform_schema,
    dedup_first,
    enrich,
    explode_children,
    flag_semi_join,
    merge_upsert,
    merge_upsert_path,
)
from etl_docker_spark.operators.merge import apply_updates
from etl_docker_spark.operators.skyline import _sweep, pareto_frontier


def test_conform_schema(spark):
    df = spark.createDataFrame([(1, "x")], ["a", "extra"])
    target = T.StructType([
        T.StructField("a", T.LongType()),
        T.StructField("b", T.StringType()),
    ])
    out = conform_schema(df, target)
    assert out.columns == ["a", "b"]
    row = out.first()
    assert row.a == 1 and row.b is None


def test_dedup_first_deterministic(spark):
    df = spark.createDataFrame(
        [(1, "2024-01-01", "old"), (1, "2024-02-01", "new"), (2, "2024-01-15", "only")],
        ["k", "ts", "v"])
    out = dedup_first(df, ["k"], [F.desc("ts")]).orderBy("k").collect()
    assert [(r.k, r.v) for r in out] == [(1, "new"), (2, "only")]


def test_enrich_left_vs_inner(spark):
    facts = spark.createDataFrame([(1, 10.0), (2, 20.0), (3, 30.0)], ["k", "amt"])
    dim = spark.createDataFrame([(1, "A"), (2, "B")], ["k", "name"])
    left = enrich(facts, dim, on=["k"], how="left").orderBy("k").collect()
    assert [r.name for r in left] == ["A", "B", None]
    inner = enrich(facts, dim, on=["k"], how="inner")
    assert inner.count() == 2


def test_flag_semi_and_anti(spark):
    facts = spark.createDataFrame([(1,), (2,), (3,)], ["k"])
    keys = spark.createDataFrame([(2,), (2,), (9,)], ["k"])
    flagged = flag_semi_join(facts, keys, ["k"], "hit").orderBy("k").collect()
    assert [r.hit for r in flagged] == [False, True, False]
    assert sorted(r.k for r in anti_join(facts, keys, ["k"]).collect()) == [1, 3]


def test_explode_children(spark):
    df = spark.createDataFrame(
        [(1, [{"item": 10, "qty": 2.0}, {"item": 11, "qty": 1.0}]), (2, [])],
        "sale long, Items array<struct<item:long,qty:double>>")
    out = explode_children(df, "Items", parent_cols=["sale"])
    assert out.columns == ["sale", "item", "qty"]
    assert out.count() == 2
    outer = explode_children(df, "Items", parent_cols=["sale"], keep_empty=True)
    assert outer.count() == 3


def test_merge_upsert(spark):
    target = spark.createDataFrame([(1, "a", 1), (2, "b", 1)], ["k", "v", "ver"])
    updates = spark.createDataFrame(
        [(2, "b2", 2), (2, "b3", 3), (3, "c", 1)], ["k", "v", "ver"])
    out = merge_upsert(target, updates, ["k"], order_by=[F.desc("ver")]).orderBy("k").collect()
    assert [(r.k, r.v) for r in out] == [(1, "a"), (2, "b3"), (3, "c")]
    # idempotence: re-merging the same batch changes nothing
    merged = merge_upsert(target, updates, ["k"], order_by=[F.desc("ver")])
    again = merge_upsert(merged, updates, ["k"], order_by=[F.desc("ver")])
    assert sorted((r.k, r.v) for r in again.collect()) == sorted(
        (r.k, r.v) for r in merged.collect())


def test_merge_upsert_path(spark, tmp_path):
    path = str(tmp_path / "tbl")
    merge_upsert_path(spark, path, spark.createDataFrame([(1, "a")], ["k", "v"]), ["k"])
    merge_upsert_path(spark, path, spark.createDataFrame([(1, "a2"), (2, "b")], ["k", "v"]), ["k"])
    out = sorted((r.k, r.v) for r in spark.read.parquet(path).collect())
    assert out == [(1, "a2"), (2, "b")]


def test_apply_updates(spark):
    target = spark.createDataFrame([(1, 0), (2, 0), (3, 0)], ["k", "anulado"])
    cancels = spark.createDataFrame([(2,), (3,)], ["k"])
    out = apply_updates(target, cancels, ["k"], {"anulado": F.lit(1)}).orderBy("k").collect()
    assert [r.anulado for r in out] == [0, 1, 1]


def test_merge_upsert_compare_target_out_of_order(spark):
    """compare_target=True: a LATE batch carrying an OLDER version of a key
    must not clobber newer state; the plain mode (documented) would."""
    from pyspark.sql import functions as F

    from etl_docker_spark.operators.merge import merge_upsert

    target = spark.createDataFrame(
        [(1, 10, "new"), (2, 5, "current")], ["k", "ver", "val"])
    late = spark.createDataFrame(
        [(1, 3, "stale"), (3, 1, "insert")], ["k", "ver", "val"])
    order = [F.desc("ver")]
    safe = {r.k: (r.ver, r.val)
            for r in merge_upsert(target, late, ["k"], order,
                                  compare_target=True).collect()}
    assert safe == {1: (10, "new"), 2: (5, "current"), 3: (1, "insert")}
    plain = {r.k: (r.ver, r.val)
             for r in merge_upsert(target, late, ["k"], order).collect()}
    assert plain[1] == (3, "stale")  # the hazard compare_target removes


SETTINGS = settings(max_examples=60, deadline=None,
                    suppress_health_check=[HealthCheck.function_scoped_fixture])


def brute_skyline(pts: list[tuple[int, int]]) -> set[int]:
    """Indices of undominated points (the NOT EXISTS definition)."""
    keep = set()
    for i, (xi, yi) in enumerate(pts):
        dominated = any(
            xj >= xi and yj >= yi and (xj > xi or yj > yi)
            for j, (xj, yj) in enumerate(pts) if j != i)
        if not dominated:
            keep.add(i)
    return keep


coords = st.integers(min_value=-5, max_value=5)


@given(st.lists(st.tuples(coords, coords), min_size=0, max_size=40))
@SETTINGS
def test_sweep_matches_bruteforce(pts):
    pdf = pd.DataFrame({"i": range(len(pts)),
                        "x": [p[0] for p in pts],
                        "y": [p[1] for p in pts]})
    got = set(_sweep(pdf, "x", "y")["i"])
    assert got == brute_skyline(pts)


def test_sweep_keeps_duplicate_frontier_points():
    pdf = pd.DataFrame({"i": [0, 1, 2], "x": [3, 3, 1], "y": [2, 2, 1]})
    assert set(_sweep(pdf, "x", "y")["i"]) == {0, 1}


@pytest.mark.usefixtures("spark")
def test_pareto_frontier_distributed_matches_local(spark):
    import random

    rng = random.Random(7)
    pts = [(rng.randint(0, 50), rng.randint(0, 50)) for _ in range(400)]
    df = spark.createDataFrame(
        [(i, x, y) for i, (x, y) in enumerate(pts)], "i long, x long, y long"
    ).repartition(8)
    got = {r.i for r in pareto_frontier(df, "x", "y").collect()}
    assert got == brute_skyline(pts)


@pytest.mark.parametrize("seed", [7, 11, 13])
def test_two_phase_cc_matches_pointer_jumping(spark, seed):
    """large-star/small-star CC and min-label propagation must produce
    the identical (node, min-id label) map on random graphs — the two
    algorithms are interchangeable by contract (g06 relies on it)."""
    import random

    from etl_docker_spark.operators.graph import (
        connected_components, connected_components_two_phase)

    rng = random.Random(seed)
    edges = [(rng.randrange(400), rng.randrange(400)) for _ in range(250)]
    df = spark.createDataFrame(edges, "a long, b long").filter("a != b")
    g1 = sorted((r.node, r.label)
                for r in connected_components(df).collect())
    g2 = sorted((r.node, r.label)
                for r in connected_components_two_phase(df).collect())
    assert g1 == g2


def test_two_phase_cc_long_chain(spark):
    """A 600-node chain (diameter 600) must converge well inside the
    32-round cap — the O(log^2 n) claim vs plain propagation's
    O(diameter)."""
    from etl_docker_spark.operators.graph import (
        connected_components_two_phase)

    df = spark.createDataFrame([(i, i + 1) for i in range(600)],
                               "a long, b long")
    lab = connected_components_two_phase(df)
    got = {(r.node, r.label) for r in lab.collect()}
    assert got == {(i, 0) for i in range(601)}
