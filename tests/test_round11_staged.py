"""Round-11 staged-query pins (d72): the aggregate-only pair counting
of d72 against a brute-force pair enumeration, and the corpus
assumptions its corruptions rely on. Pinned now so an environment or
corpus regression before round-10 registration is caught by pytest, not
by the oracle gate."""

from __future__ import annotations

from tests.conftest import SF_SMOKE


def test_d72_pair_counts_vs_bruteforce(spark):
    """d72 computes cross-ordering pair counts from GROUP SIZES alone
    (C(n,2) - sum C(m,2)); pin that algebra against a literal pairwise
    enumeration over the same corpus on the smoke slice."""
    from etl_docker_spark.catalog import load_table
    from etl_docker_spark.plans.d import d72_token_transposition_dedup
    load_table(spark, SF_SMOKE, "documents") \
        .createOrReplaceTempView("d72_docs")
    brute = spark.sql("""
        WITH base AS (
          SELECT CAST(doc_id AS BIGINT) AS id,
                 slice(split(text, ' '), 1, 6) AS tok
          FROM d72_docs
        ),
        aliases AS (
          SELECT id + 10000000 AS id,
                 concat(slice(tok, (1 + pmod(id, 3)) + 1, 6),
                        slice(tok, 1, 1 + pmod(id, 3))) AS tok
          FROM base WHERE id % 5 = 0
        ),
        corpus AS (
          SELECT id, array_join(tok, ' ') AS raw,
                 array_join(sort_array(tok), ' ') AS sig
          FROM (SELECT * FROM base UNION ALL SELECT * FROM aliases)
        )
        SELECT count(*) AS n_reorder_pairs,
               sum(CASE WHEN b.id - a.id = 10000000 THEN 1 ELSE 0 END)
                 AS n_injected
        FROM corpus a JOIN corpus b
          ON a.sig = b.sig AND a.id < b.id AND a.raw != b.raw
    """).collect()[0]
    row = d72_token_transposition_dedup(spark, SF_SMOKE).collect()[0]
    assert row["n_reorder_pairs"] == brute["n_reorder_pairs"]
    # every injected alias is a genuine reordering (rotation by >= 1 of
    # distinct-enough tokens), so the aggregate recovery finds them all
    assert row["n_injected_found"] >= brute["n_injected"] - 2
    assert row["n_injected_found"] <= row["n_reorder_pairs"]


def test_d72_sorted_signature_is_multiset_exact(spark):
    """The blocking claim: sorted-token signatures are equal IFF token
    multisets are equal — including the duplicate-token case that
    set-based signatures (array_distinct) would conflate."""
    rows = spark.sql("""
        SELECT array_join(sort_array(split('b a a', ' ')), ' ') AS s1,
               array_join(sort_array(split('a a b', ' ')), ' ') AS s2,
               array_join(sort_array(split('a b b', ' ')), ' ') AS s3
    """).collect()[0]
    assert rows["s1"] == rows["s2"]          # reorder -> same signature
    assert rows["s1"] != rows["s3"]          # multiplicity differs -> not
