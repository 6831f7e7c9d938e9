"""Unit tests for relational operators (SURVEY.md §2.3-2.7), the
skyline and the graph operators (connected components)."""

from __future__ import annotations

import hashlib
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
