"""d73 (low-entropy fuzzy dedup) — vocabulary contract + plan shape.

The blocking's correctness argument leans on three vocabulary
properties (the _D73_VOCAB comment in plans/d.py); pin them so a future vocab edit
cannot silently break the injected-alias ground truth:
  1. pairwise edit distance >= 2 (a vocab-vocab token pair can never be
     a typo match, so every typo pair traces to a corruption or t4)
  2. no single-char deletion of one word equals another word
  3. no 'q' or 'x' anywhere (the substitution/insertion characters), so
     every injected corruption is at token distance EXACTLY 1
"""

from __future__ import annotations

import functools

from etl_docker_spark.plans.d import _D73_VOCAB


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
        spark, "/root/testdata/sf0.001")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "CartesianProduct" not in plan
    assert plan.count("HashJoin") >= 1
