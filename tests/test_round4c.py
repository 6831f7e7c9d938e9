"""Round-4c: positional-filter Jaccard, substring-run dedup, ORC
round-trip, schema evolution, base+delta ANN serving."""

from __future__ import annotations

import itertools
import random

import pytest

from tests.test_round4b import _py_shingle_hashes


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


def test_orc_scan_prunes_partitions_and_pushes_filters(spark, tmp_path):
    """The q75 read path must hit the ORC reader with the value filter
    pushed down (search argument) and the partition filter applied at
    planning — a scan reading every partition or every row would still
    pass the value oracle."""
    from pyspark.sql import functions as F

    rows = [(i, "purchase" if i % 3 else "view", i * 100) for i in range(60)]
    df = spark.createDataFrame(rows, "event_id long, event_type string, cents long")
    path = str(tmp_path / "orc")
    df.write.mode("overwrite").partitionBy("event_type").orc(path)
    back = (spark.read.orc(path)
            .filter(F.col("event_type").isin("purchase", "view")
                    & (F.col("cents") >= 1000)))
    plan = back._sc._jvm.PythonSQLUtils.explainString(
        back._jdf.queryExecution(), "formatted")
    assert "PushedFilters" in plan
    assert "GreaterThanOrEqual(cents,1000)" in plan.replace(" ", "")
    assert "PartitionFilters" in plan
    assert "event_type" in plan.split("PartitionFilters")[1].split("\n")[0]


def test_parquet_merge_schema_nulls_legacy_rows(spark, tmp_path):
    """mergeSchema surfaces NULL (not a dropped row, not a default) for
    the added column on pre-evolution files."""
    path = str(tmp_path / "tbl")
    spark.createDataFrame([(1, 10)], "id long, v long") \
        .write.mode("overwrite").parquet(path)
    spark.createDataFrame([(2, 20, "HIGH")], "id long, v long, prio string") \
        .write.mode("append").parquet(path)
    got = {(r.id, r.v, r.prio) for r in
           spark.read.option("mergeSchema", "true").parquet(path).collect()}
    assert got == {(1, 10, None), (2, 20, "HIGH")}


def test_null_safe_join_plans_as_hash_join(spark):
    """EqualNullSafe must stay an equi-join (hash/sort-merge), never
    BroadcastNestedLoop — the scale claim in q79's docstring."""
    from etl_docker_spark.plans.q import q79_null_safe_join

    df = q79_null_safe_join(spark, "/root/testdata/sf0.001")
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    assert "NestedLoop" not in plan
    assert ("HashJoin" in plan) or ("SortMergeJoin" in plan)


def test_correlated_subqueries_decorrelate_to_joins(spark):
    """q80's two correlated aggregate subqueries must decorrelate into
    grouped joins — no nested-loop re-scan per outer row."""
    from etl_docker_spark.plans.q import q80_correlated_agg_subquery

    df = q80_correlated_agg_subquery(spark, "/root/testdata/sf0.001")
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    assert "NestedLoop" not in plan
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan


def test_sql_udfs_inline_into_the_plan(spark):
    """q82's SQL UDFs must inline to native expressions + Generate —
    no Python evaluation node anywhere (the §2.10 discipline extended
    to user-defined logic) — and each order's installments must re-sum
    to its exact total."""
    from pyspark.sql import functions as F

    from etl_docker_spark.plans.q import q82_sql_udf_installments

    df = q82_sql_udf_installments(spark, "/root/testdata/sf0.001")
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    assert "EvalPython" not in plan          # no Python UDF node
    assert "Generate" in plan                # the TVF became an explode

    resum = (df.groupBy("o_orderkey")
             .agg(F.sum("amount_cents").alias("total")))
    import duckdb
    con = duckdb.connect()
    exp = dict(con.execute(
        "SELECT o_orderkey, CAST(CAST(o_totalprice AS DECIMAL(12,4)) * 100"
        " AS BIGINT) FROM '/root/testdata/sf0.001/orders.parquet'"
        " WHERE o_orderkey % 97 = 0").fetchall())
    got = {r.o_orderkey: r.total for r in resum.collect()}
    assert got == exp


def test_q86_plan_has_dynamic_pruning(spark, tmp_path):
    """The q86 gate frame must carry a dynamicpruningexpression on the
    fact scan's PartitionFilters — a regression to filter-after-read
    would still pass the value oracle."""
    from etl_docker_spark.plans.q import _q86_frames

    df = _q86_frames(spark, "/root/testdata/sf0.001", str(tmp_path / "f"))
    plan = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted")
    assert "dynamicpruningexpression" in plan.lower()
