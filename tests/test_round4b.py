"""Round-4b operators: skyline, prefix-filter Jaccard join, stream dedup
expiry. Property tests pin each against its brute-force definition."""

from __future__ import annotations

import pandas as pd
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from etl_docker_spark.operators.skyline import _sweep, pareto_frontier

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


def _py_shingle_hashes(text: str, n: int = 3) -> set[int]:
    """Python twin of shingle_rows + _base_hash (incl. short-doc rule)."""
    import hashlib

    toks = text.split(" ")
    if len(toks) < n:
        grams = [" ".join(toks)]
    else:
        grams = [" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)]
    return {int(hashlib.md5(g.encode()).hexdigest()[:8], 16)
            for g in grams}


def test_prefix_filter_jaccard_matches_bruteforce(spark):
    import itertools
    import random

    from etl_docker_spark.llm.dedup import prefix_filter_jaccard_pairs

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(30)]
    docs = []
    for i in range(40):
        base = [rng.choice(vocab) for _ in range(rng.randint(1, 12))]
        docs.append((i, " ".join(base)))
        if rng.random() < 0.5:  # planted near-dup: small edit
            mut = list(base)
            if mut and rng.random() < 0.7:
                mut[rng.randrange(len(mut))] = rng.choice(vocab)
            docs.append((100 + i, " ".join(mut)))

    expected = set()
    hsets = {i: _py_shingle_hashes(t) for i, t in docs}
    for (a, ha), (b, hb) in itertools.combinations(sorted(hsets.items()), 2):
        inter = len(ha & hb)
        union = len(ha | hb)
        if 2 * inter >= union:
            expected.add((a, b, inter, union))

    df = spark.createDataFrame(docs, "doc_id long, text string").repartition(4)
    got = {(r.doc_a, r.doc_b, r.inter_n, r.union_n)
           for r in prefix_filter_jaccard_pairs(df, "doc_id", "text").collect()}
    assert got == expected
    assert expected  # the planted near-dups must produce pairs


def test_q73_gate_frame_joins_without_exchange(spark):
    """The exact frame q73 gates must sort-merge-join the two bucketed
    tables with no Exchange below the join (bucket co-location is the
    point of the query; a regression to shuffle would still pass the
    value oracle)."""
    import re

    from etl_docker_spark.plans.q import _q73_bucketed_frames

    joined, tables = _q73_bucketed_frames(spark, "/root/testdata/sf0.001")
    try:
        plan = joined._jdf.queryExecution().explainString(
            spark._jvm.org.apache.spark.sql.execution.ExplainMode
            .fromString("formatted"))
        join_section = plan.split("HashAggregate")[0]
        assert "SortMergeJoin" in plan
        assert not re.search(r"\(\d+\) Exchange", join_section), join_section
    finally:
        for tbl in tables:
            spark.sql(f"DROP TABLE IF EXISTS {tbl}")


@pytest.mark.parametrize("t_num,t_den", [(3, 10), (7, 10), (1, 1)])
def test_prefix_filter_jaccard_general_threshold(spark, t_num, t_den):
    """Completeness of the prefix bound at thresholds other than the
    d47 default — same brute-force comparison, exact rational compare."""
    import itertools
    import random

    from etl_docker_spark.llm.dedup import prefix_filter_jaccard_pairs

    rng = random.Random(23 + t_num)
    vocab = [f"w{i}" for i in range(25)]
    docs = []
    for i in range(30):
        base = [rng.choice(vocab) for _ in range(rng.randint(1, 10))]
        docs.append((i, " ".join(base)))
        if rng.random() < 0.6:
            mut = list(base)
            if rng.random() < 0.7:
                mut[rng.randrange(len(mut))] = rng.choice(vocab)
            docs.append((100 + i, " ".join(mut)))

    hsets = {i: _py_shingle_hashes(t) for i, t in docs}
    expected = set()
    for (a, ha), (b, hb) in itertools.combinations(sorted(hsets.items()), 2):
        inter, union = len(ha & hb), len(ha | hb)
        if t_den * inter >= t_num * union:
            expected.add((a, b, inter, union))

    df = spark.createDataFrame(docs, "doc_id long, text string").repartition(4)
    got = {(r.doc_a, r.doc_b, r.inter_n, r.union_n)
           for r in prefix_filter_jaccard_pairs(
               df, "doc_id", "text", t_num=t_num, t_den=t_den).collect()}
    assert got == expected
