"""Round-5: suffix-filter Jaccard (PPJoin+ completion)."""

from __future__ import annotations

import itertools
import random

import pytest

from tests.test_round4b import _py_shingle_hashes


@pytest.mark.parametrize("t_num,t_den,k", [(3, 10, 4), (1, 2, 8),
                                           (7, 10, 8), (7, 10, 32), (1, 1, 16)])
def test_suffix_jaccard_matches_bruteforce(spark, t_num, t_den, k):
    """The K-bucket suffix filter is exactness-preserving at arbitrary
    rational thresholds and bucket counts: output == brute-force
    all-pairs Jaccard (small K deliberately stresses the bound — fewer
    buckets make it coarser, never unsound)."""
    from etl_docker_spark.llm.dedup import prefix_filter_jaccard_pairs

    rng = random.Random(29)
    vocab = [f"w{i}" for i in range(25)]
    docs = []
    for i in range(40):
        base = [rng.choice(vocab) for _ in range(rng.randint(1, 14))]
        docs.append((i, " ".join(base)))
        if rng.random() < 0.6:
            mut = list(base)
            if mut and rng.random() < 0.7:
                mut[rng.randrange(len(mut))] = rng.choice(vocab)
            docs.append((100 + i, " ".join(mut)))

    expected = set()
    hsets = {i: _py_shingle_hashes(t) for i, t in docs}
    for (a, ha), (b, hb) in itertools.combinations(sorted(hsets.items()), 2):
        inter, union = len(ha & hb), len(ha | hb)
        if t_den * inter >= t_num * union:
            expected.add((a, b, inter, union))

    df = spark.createDataFrame(docs, "doc_id long, text string") \
        .repartition(4)
    got = {(r.doc_a, r.doc_b, r.inter_n, r.union_n)
           for r in prefix_filter_jaccard_pairs(
               df, "doc_id", "text", t_num=t_num, t_den=t_den,
               positional=True, suffix_buckets=k).collect()}
    assert got == expected


def test_suffix_filter_shrinks_candidates(spark):
    """The suffix filter's candidate set is a subset of the positional
    one AND still a superset of the qualifying pairs (the two containments
    that make it a sound shrinker)."""
    from etl_docker_spark.llm.dedup import (_jaccard_candidates,
                                            prefix_filter_jaccard_pairs)

    rng = random.Random(31)
    vocab = [f"w{i}" for i in range(40)]
    docs = [(i, " ".join(rng.choice(vocab)
                         for _ in range(rng.randint(4, 20))))
            for i in range(120)]
    df = spark.createDataFrame(docs, "doc_id long, text string") \
        .repartition(4)

    pos, _ = _jaccard_candidates(df, "doc_id", "text", 3, 7, 10, True, 0)
    suf, _ = _jaccard_candidates(df, "doc_id", "text", 3, 7, 10, True, 16)
    pos_set = {(r.doc_a, r.doc_b) for r in pos.collect()}
    suf_set = {(r.doc_a, r.doc_b) for r in suf.collect()}
    true_set = {(r.doc_a, r.doc_b)
                for r in prefix_filter_jaccard_pairs(
                    df, "doc_id", "text", t_num=7, t_den=10).collect()}
    assert suf_set <= pos_set
    assert true_set <= suf_set


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
