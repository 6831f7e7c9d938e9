"""Tests for the training-data operators (dedup / similarity / text)."""

from __future__ import annotations

import itertools
import random

import pytest
from pyspark.sql import functions as F

from etl_docker_spark.llm import (
    brute_force_knn,
    exact_dup_groups,
    lang_guess,
    minhash_lsh_pairs,
    poly_fingerprint,
    simhash64,
    token_count,
    tokens_of,
)


def test_exact_dup_groups(spark):
    df = spark.createDataFrame(
        [(1, "hello world"), (2, "hello world"), (3, "different text")],
        ["doc_id", "text"])
    out = {r.canonical_id: r.n_copies for r in exact_dup_groups(df, "doc_id", "text").collect()}
    assert out == {1: 2, 3: 1}


def test_minhash_finds_near_dups(spark):
    base = "the quick brown fox jumps over the lazy dog again and again today"
    near = base.replace("today", "tomorrow")
    far = "completely unrelated words about spark distributed query engines here now"
    df = spark.createDataFrame([(1, base), (2, near), (3, far)], ["doc_id", "text"])
    pairs = minhash_lsh_pairs(df, "doc_id", "text").collect()
    found = {(r.doc_a, r.doc_b) for r in pairs}
    assert (1, 2) in found
    assert all(p in {(1, 2)} for p in found)
    p12 = next(r for r in pairs if (r.doc_a, r.doc_b) == (1, 2))
    assert p12.inter_n * 2 >= p12.union_n  # jaccard >= 0.5


def test_simhash_similar_vs_different(spark):
    df = spark.createDataFrame(
        [(1, "alpha beta gamma delta epsilon zeta"),
         (2, "alpha beta gamma delta epsilon eta"),
         (3, "one two three four five six")],
        ["doc_id", "text"])
    rows = df.select("doc_id", simhash64(F.split("text", " ")).alias("h")).collect()
    h = {r.doc_id: r.h for r in rows}
    ham = lambda a, b: bin((a ^ b) & (2**64 - 1)).count("1")
    assert ham(h[1], h[2]) < ham(h[1], h[3])
    # deterministic
    rows2 = df.select("doc_id", simhash64(F.split("text", " ")).alias("h")).collect()
    assert {r.doc_id: r.h for r in rows2} == h
    # the scale path (explode+aggregate) computes the identical fingerprint
    from etl_docker_spark.llm import simhash_table
    fast = {r.doc_id: r.simhash for r in simhash_table(df, "doc_id", "text").collect()}
    assert fast == h


def test_bucketed_knn_subset_of_exact(spark):
    from etl_docker_spark.llm.similarity import bucketed_knn

    import random
    rnd = random.Random(7)
    vecs = [(i, [rnd.uniform(-0.3, 0.3) for _ in range(8)]) for i in range(60)]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    q = df.filter("vec_id < 3")
    exact = brute_force_knn(df, q, k=5)
    approx = bucketed_knn(df, q, k=5)
    # approximate neighbors rank by true cosine; hits are a subset of
    # in-bucket candidates, and any (query, neighbor) it returns scores
    # identically to the exact computation
    ex = {(r.query_id, r.neighbor_id): r.cosine for r in exact.collect()}
    for r in approx.collect():
        key = (r.query_id, r.neighbor_id)
        if key in ex:
            assert abs(ex[key] - r.cosine) < 1e-12
    assert approx.count() > 0


def test_knn_ranks_by_cosine(spark):
    vecs = [
        (0, [1.0, 0.0, 0.0]),
        (1, [0.9, 0.1, 0.0]),   # closest to 0
        (2, [0.0, 1.0, 0.0]),
        (3, [-1.0, 0.0, 0.0]),  # farthest from 0
    ]
    df = spark.createDataFrame(vecs, "vec_id long, embedding array<float>")
    out = brute_force_knn(df, df.filter(F.col("vec_id") == 0), k=3).orderBy("rank").collect()
    assert [r.neighbor_id for r in out] == [1, 2, 3]
    assert out[0].cosine > 0.99 and out[2].cosine < 0


def test_token_count_and_lang(spark):
    df = spark.createDataFrame(
        [(1, "the cat, and the dog!"), (2, "el perro y la casa de los gatos"),
         (3, "xyzzy plugh")],
        ["doc_id", "text"])
    rows = df.select(
        token_count("text").alias("n"),
        lang_guess(tokens_of("text")).alias("lang"),
    ).collect()
    assert rows[0].n == 7  # the cat , and the dog !
    assert rows[0].lang == "en"
    assert rows[1].lang == "es"
    assert rows[2].lang == "und"


def test_poly_fingerprint_deterministic(spark):
    df = spark.createDataFrame([(1, "abc"), (2, "abc"), (3, "abd")], ["doc_id", "text"])
    rows = df.select("doc_id", poly_fingerprint("text").alias("fp")).collect()
    fp = {r.doc_id: r.fp for r in rows}
    assert fp[1] == fp[2] != fp[3]
    assert fp[1] == ((0 * 31 + 97) * 31 + 98) * 31 + 99  # matches the documented fold


def test_bigram_lm_scores_hand_computed(spark):
    from etl_docker_spark.llm.text import bigram_lm_scores

    # corpus bigrams: "a b" x2 (doc1, doc2), "b a" x1, "a c" x1
    # contexts: c(a)=3 (a b, a b, a c), c(b)=1 (b a)
    # P(b|a)=2/3 -> 666666; P(a|b)=1/1 -> 1000000; P(c|a)=1/3 -> 333333
    df = spark.createDataFrame(
        [(1, "a b a c"), (2, "a b")], ["doc_id", "text"])
    out = {r.doc_id: (r.n_bigrams, r.lm_score)
           for r in bigram_lm_scores(df).collect()}
    # doc1 bigrams: (a,b), (b,a), (a,c) -> 666666 + 1000000 + 333333
    assert out[1] == (3, 1999999)
    # doc2: (a,b) -> 666666
    assert out[2] == (1, 666666)


def test_bigram_lm_skips_short_docs(spark):
    from etl_docker_spark.llm.text import bigram_lm_scores

    df = spark.createDataFrame(
        [(1, "only"), (2, ""), (3, "two words")], ["doc_id", "text"])
    out = bigram_lm_scores(df).collect()
    assert {r.doc_id for r in out} == {3}


def test_simhash_near_dup_pairs(spark):
    from etl_docker_spark.llm import simhash_near_dup_pairs

    base = ("the quick brown fox jumps over the lazy dog while birds sing "
            "in the tall green trees near the quiet river bank at dawn")
    near = base.replace("dawn", "dusk")
    far = "completely unrelated words about spark distributed query engines"
    df = spark.createDataFrame([(1, base), (2, near), (3, far)],
                               ["doc_id", "text"])
    pairs = simhash_near_dup_pairs(df, "doc_id", "text", threshold=8)
    found = {(r.doc_a, r.doc_b): r.hamming for r in pairs.collect()}
    assert (1, 2) in found and found[(1, 2)] <= 8
    assert (1, 3) not in found and (2, 3) not in found


def test_bucketed_knn_multiprobe_superset(spark):
    from etl_docker_spark.llm.similarity import bucketed_knn

    rows = [(i, [0.05 * i, 0.1, 0.2, 0.3]) for i in range(20)]
    df = spark.createDataFrame(rows, ["vec_id", "embedding"])
    q = df.filter(F.col("vec_id") == 10)
    p0 = {(r.query_id, r.neighbor_id)
          for r in bucketed_knn(df, q, k=50).collect()}
    p1 = {(r.query_id, r.neighbor_id)
          for r in bucketed_knn(df, q, k=50, probes=1).collect()}
    assert p0 <= p1          # probing can only add candidates
    assert len(p1) > len(p0)  # and here it does (neighbors straddle cells)


def test_connected_components_long_chain(spark):
    """A 12-node chain (diameter 11, well past any fixed small round cap)
    must collapse into ONE component — the d08 regression the silent
    6-round cap would have fragmented."""
    from etl_docker_spark.operators.graph import connected_components

    edges = spark.createDataFrame([(i, i + 1) for i in range(11)], ["a", "b"])
    labels = {r.node: r.label for r in connected_components(edges).collect()}
    assert labels == {i: 0 for i in range(12)}


def test_connected_components_raises_on_cap(spark):
    """Hitting the round cap raises — fragmentation is never silent."""
    import pytest

    from etl_docker_spark.operators.graph import connected_components

    edges = spark.createDataFrame([(i, i + 1) for i in range(7)], ["a", "b"])
    with pytest.raises(RuntimeError, match="did not converge"):
        connected_components(edges, max_rounds=1)


def test_connected_components_pointer_jump_speed(spark):
    """Pointer jumping closes a 40-hop chain in far fewer than 40 rounds
    (O(log diameter), not O(diameter))."""
    from etl_docker_spark.operators.graph import connected_components

    edges = spark.createDataFrame([(i, i + 1) for i in range(40)], ["a", "b"])
    labels = {r.node: r.label
              for r in connected_components(edges, max_rounds=10).collect()}
    assert labels == {i: 0 for i in range(41)}


def _skewed_embeddings(spark, n_hot=100, n_cold=50):
    """One (b1, b2) cell holding n_hot vectors (differing from dim 3 on),
    plus n_cold vectors spread over distinct cold cells."""
    rows = []
    for i in range(n_hot):
        v = [0.1, 0.1, (i % 4) * 0.5] + [0.01 * ((i * 7 + d) % 40)
                                         for d in range(61)]
        rows.append((i, [float(x) for x in v]))
    for i in range(n_cold):
        v = [2.0 + (i % 5), 3.0 + (i % 7), 0.0] + [0.02 * ((i * 5 + d) % 30)
                                                   for d in range(61)]
        rows.append((1000 + i, [float(x) for x in v]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


def test_near_dup_cap_is_noop_on_cold_corpus(spark):
    """With every cell under the cap, refined output is bit-identical to
    the plain (b1, b2) semantics — the oracle contract at gate scale."""
    from etl_docker_spark.llm.similarity import bucketed_near_dup_pairs

    df = _skewed_embeddings(spark, n_hot=30, n_cold=30)  # hot cell: 30 < cap
    plain = set(map(tuple, bucketed_near_dup_pairs(df, -2.0).collect()))
    capped = set(map(tuple, bucketed_near_dup_pairs(
        df, -2.0, cell_cap=64).collect()))
    assert plain == capped and plain


def test_near_dup_cap_splits_hot_cell(spark):
    """A hot cell (100 rows > cap 64) is refined on dim 3: candidate pairs
    drop from C(100,2) to 4 * C(25,2) and every surviving pair is one the
    plain semantics also produced (refinement only removes)."""
    from etl_docker_spark.llm.similarity import bucketed_near_dup_pairs

    df = _skewed_embeddings(spark)
    plain = set(map(tuple, bucketed_near_dup_pairs(df, -2.0).collect()))
    capped = set(map(tuple, bucketed_near_dup_pairs(
        df, -2.0, cell_cap=64).collect()))
    assert capped < plain
    n_hot_plain = len([p for p in plain if p[0] < 1000 and p[1] < 1000])
    n_hot_capped = len([p for p in capped if p[0] < 1000 and p[1] < 1000])
    assert n_hot_plain == 100 * 99 // 2
    assert n_hot_capped == 4 * (25 * 24 // 2)


def test_near_dup_refines_past_still_hot_subcell(spark):
    """If dim 3 doesn't separate a hot cell, refinement keeps walking the
    refine_dims list until occupancy is under the cap."""
    from pyspark.sql import functions as F

    from etl_docker_spark.llm.similarity import bucketed_near_dup_pairs

    # 90 vectors identical in dims 1-3 (one hot cell even after the first
    # refinement), separated only at dim 4
    rows = [(i, [float(x) for x in
                 [0.1, 0.1, 0.1, (i % 3) * 1.0] + [0.01 * (i % 7)] * 60])
            for i in range(90)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    capped = bucketed_near_dup_pairs(df, -2.0, cell_cap=40)
    n = capped.count()
    assert n == 3 * (30 * 29 // 2)  # three dim-4 subcells of 30


def test_pii_scrub_idempotent_and_ordered(spark):
    """Scrubbing is idempotent, and the email-before-URL order means an
    address inside a URL never leaves a dangling fragment."""
    from etl_docker_spark.plans.d import scrub_pii

    rows = [
        (1, "mail me at a.b+c@ex-1.example.org please"),
        (2, "see https://h.example.com/p?e=x@y.example.net&z=1 now"),
        (3, "call 555-0142 or 55-99 x"),
        (4, "no pii here at all"),
    ]
    df = spark.createDataFrame(rows, ["id", "s"])
    once = df.select("id", scrub_pii(F.col("s")).alias("c"))
    twice = once.select("id", scrub_pii(F.col("c")).alias("c"))
    o = {r.id: r.c for r in once.collect()}
    assert o[1] == "mail me at [PII] please"
    assert o[3] == "call [PII] or 55-99 x"  # phone shape is NNN-NNNN only
    assert o[4] == "no pii here at all"
    assert "x@y" not in o[2] and "[PII]" in o[2]
    assert {r.id: r.c for r in twice.collect()} == o


def test_hyperplane_lsh_finds_true_near_dups(spark):
    """A vector and its tiny perturbation share all 32 (whitened) sign
    bits, so the pair must surface; candidates never include low-cosine
    survivors."""
    import random

    from etl_docker_spark.llm.similarity import hyperplane_lsh_pairs

    rng = random.Random(7)
    base = [[rng.uniform(-1, 1) for _ in range(64)] for _ in range(40)]
    rows = [(i, [float(x) for x in v]) for i, v in enumerate(base)]
    # ids 100+i: near-copies of i (perturbation ~1e-4 -> cosine ~1.0)
    rows += [(100 + i, [float(x + rng.uniform(-1e-4, 1e-4)) for x in v])
             for i, v in enumerate(base[:10])]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = hyperplane_lsh_pairs(df, threshold=0.99).collect()
    pairs = {(r.id_a, r.id_b) for r in got}
    assert {(i, 100 + i) for i in range(10)} <= pairs
    assert all(r.cosine >= 0.99 for r in got)


def test_hyperplane_lsh_candidates_are_band_collisions(spark):
    """Orthogonal one-hot vectors along different dims get different
    signatures with overwhelming probability -> no all-pairs blowup and
    verified output is empty at a high threshold."""
    from etl_docker_spark.llm.similarity import hyperplane_lsh_pairs

    rows = [(i, [1.0 if d == i else 0.0 for d in range(64)])
            for i in range(20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<float>")
    got = hyperplane_lsh_pairs(df, threshold=0.5).collect()
    assert got == []


def test_release_local_checkpoint_logs_its_fallback(caplog):
    """A release that cannot reach the plan handle warns instead of
    passing silently."""
    import logging

    from etl_docker_spark.llm.dedup import _release_local_checkpoint

    with caplog.at_level(logging.WARNING, logger="etl_docker_spark.llm.dedup"):
        _release_local_checkpoint(object())
    (rec,) = caplog.records
    assert rec.levelno == logging.WARNING
    assert "not released" in rec.getMessage()
    assert "AttributeError" in rec.getMessage()


def test_shingle_rows_matches_shingles_of(spark):
    """The codegen shingler and the array-lambda shingler agree on the
    distinct gram set per document (including the short-doc partial-shingle
    contract)."""
    from etl_docker_spark.llm.dedup import shingle_rows, shingles_of

    rows = [(1, "a b c d e"), (2, "a b"), (3, "x"), (4, "p q r")]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    fast = (shingle_rows(df, "doc_id", "text", 3)
            .groupBy("doc").agg(F.sort_array(F.collect_set("s")).alias("g")))
    slow = df.select(
        F.col("doc_id").alias("doc"),
        F.sort_array(shingles_of(F.split("text", " "), 3)).alias("g"))
    assert {r["doc"]: r["g"] for r in fast.collect()} == \
           {r["doc"]: r["g"] for r in slow.collect()}


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


@pytest.mark.parametrize("t_num,t_den", [(3, 10), (1, 2), (7, 10), (1, 1)])
def test_positional_jaccard_matches_bruteforce(spark, t_num, t_den):
    """PPJoin positional filter is exactness-preserving at arbitrary
    rational thresholds: output == brute-force all-pairs Jaccard."""
    from etl_docker_spark.llm.dedup import prefix_filter_jaccard_pairs

    rng = random.Random(23)
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
               positional=True).collect()}
    assert got == expected
    assert expected  # planted near-dups must produce pairs


def test_positional_filter_only_prunes(spark):
    """The positional path's VERIFIED output equals the plain prefix
    path's on the same corpus (the filter may only discard candidates
    that could never verify)."""
    from etl_docker_spark.llm.dedup import prefix_filter_jaccard_pairs

    rng = random.Random(5)
    vocab = [f"t{i}" for i in range(18)]
    docs = [(i, " ".join(rng.choice(vocab)
                         for _ in range(rng.randint(2, 10))))
            for i in range(60)]
    df = spark.createDataFrame(docs, "doc_id long, text string")
    plain = {tuple(r) for r in prefix_filter_jaccard_pairs(
        df, "doc_id", "text", t_num=7, t_den=10).collect()}
    pos = {tuple(r) for r in prefix_filter_jaccard_pairs(
        df, "doc_id", "text", t_num=7, t_den=10,
        positional=True).collect()}
    assert pos == plain


def test_substring_runs_match_bruteforce(spark):
    """Diagonal-streak runs == brute-force longest-common-substring (in
    tokens) on a corpus with planted shared paragraphs, including the
    total gram-match count."""
    from etl_docker_spark.llm.dedup import substring_run_pairs

    rng = random.Random(31)
    vocab = [f"w{i}" for i in range(40)]
    para = [rng.choice(vocab) for _ in range(12)]  # planted 12-token run
    docs = []
    for i in range(30):
        body = [rng.choice(vocab) for _ in range(rng.randint(3, 25))]
        if i % 3 == 0:  # embed the paragraph at a random offset
            at = rng.randint(0, len(body))
            body = body[:at] + para + body[at:]
        docs.append((i, " ".join(body)))

    k, min_run = 5, 8
    toks = {i: t.split(" ") for i, t in docs}

    def grams(ts):
        return [tuple(ts[j:j + k]) for j in range(len(ts) - k + 1)]

    expected = {}
    for (a, ta), (b, tb) in itertools.combinations(sorted(toks.items()), 2):
        ga, gb = grams(ta), grams(tb)
        matches = [(i, j) for i, x in enumerate(ga)
                   for j, y in enumerate(gb) if x == y]
        if not matches:
            continue
        # longest streak per diagonal
        best = 0
        by_diag: dict[int, list[int]] = {}
        for i, j in matches:
            by_diag.setdefault(i - j, []).append(i)
        for d, ps in by_diag.items():
            ps.sort()
            streak = run = 1
            for prev, cur in zip(ps, ps[1:]):
                run = run + 1 if cur == prev + 1 else 1
                streak = max(streak, run)
            best = max(best, streak)
        if best + k - 1 >= min_run:
            expected[(a, b)] = (best + k - 1, len(matches))

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {(r.doc_a, r.doc_b): (r.max_run_tokens, r.n_gram_matches)
           for r in substring_run_pairs(df, "doc_id", "text",
                                        k=k, min_run=min_run).collect()}
    assert got == expected
    assert expected  # the planted paragraphs must surface


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


def test_auto_suffix_buckets_rule():
    """Pure sizing rule: nearest power of two in log space, clamped."""
    from etl_docker_spark.llm.dedup import auto_suffix_buckets

    assert auto_suffix_buckets(330) == 256   # the d57 corpus (log2=8.37)
    assert auto_suffix_buckets(256) == 256
    assert auto_suffix_buckets(400) == 512   # log2=8.64 rounds up
    assert auto_suffix_buckets(3) == 16      # clamp low
    assert auto_suffix_buckets(10 ** 6) == 1024  # clamp high
    assert auto_suffix_buckets(None) == 16


def test_suffix_buckets_rejects_unknown_string(spark):
    import pytest as _pytest
    from etl_docker_spark.llm.dedup import prefix_filter_jaccard_pairs

    df = spark.createDataFrame([(1, "a b c d e")], "doc_id long, text string")
    with _pytest.raises(ValueError, match="'banana'"):
        prefix_filter_jaccard_pairs(df, "doc_id", "text",
                                    suffix_buckets="banana").count()
