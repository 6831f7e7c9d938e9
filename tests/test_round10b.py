"""Round-9 new-surface pins: d71 depth-2 fuzzy dedup (recall vs an
independent brute force) and q102's seeded-generator determinism gate
(including the negative control that proves the gate can fail)."""

from __future__ import annotations

import duckdb

from tests.conftest import SF_SMOKE


def _duck_with_tables(sf_dir: str) -> duckdb.DuckDBPyConnection:
    con = duckdb.connect()
    con.sql(f"CREATE VIEW customer AS "
            f"SELECT * FROM '{sf_dir}/customer.parquet'")
    return con


# Independent brute-force derivation (NOT a copy of D71_SQL's blocking):
# rebuild the same deterministic corpus, then the full quadratic
# levenshtein scan. Agreement pins d71's depth-2 deletion blocking as
# complete for ed <= 2 — the FastSS recall guarantee, measured.
_BRUTE = """
WITH base AS (
  SELECT CAST(c_custkey AS BIGINT) AS id,
         substring(md5(c_name), 1, 20) AS key
  FROM customer
),
e1b AS (
  SELECT id, key, p1,
         CASE (id // 4) % 3
           WHEN 0 THEN concat(substring(key, 1, p1 - 1), 'q',
                              substring(key, p1 + 1))
           WHEN 1 THEN concat(substring(key, 1, p1 - 1),
                              substring(key, p1 + 1))
           ELSE concat(substring(key, 1, p1 - 1), 'x',
                       substring(key, p1))
         END AS k1
  FROM (SELECT id, key, (id * 7) % length(key) + 1 AS p1 FROM base
        WHERE id % 4 = 0)
),
aliases AS (
  SELECT id + 10000000 AS id,
         CASE WHEN id % 8 = 0 THEN
           concat(substring(k1, 1, p2 - 1), 'z', substring(k1, p2 + 1))
         ELSE k1 END AS key
  FROM (SELECT id, k1,
               CASE WHEN p2_raw = p1 THEN p2_raw + 1 ELSE p2_raw END AS p2
        FROM (SELECT id, p1, k1,
                     (id * 13) % greatest(length(k1) - 1, 1) + 1 AS p2_raw
              FROM e1b))
),
corpus AS (SELECT id, key FROM base UNION ALL
           SELECT id, key FROM aliases)
SELECT CAST(COUNT(*) AS BIGINT) AS n_pairs,
       CAST(SUM(CASE WHEN b.id - a.id = 10000000 THEN 1 ELSE 0 END)
            AS BIGINT) AS n_injected,
       CAST(COUNT(*) FILTER (WHERE a.id % 4 = 0 AND a.id % 8 != 0)
            AS BIGINT) AS n_single_edit_sources
FROM corpus a JOIN corpus b
  ON a.id < b.id AND levenshtein(a.key, b.key) <= 2
"""


def test_d71_blocking_recall_vs_bruteforce(spark):
    from etl_docker_spark.plans.d import d71_fuzzy_dedup_depth2
    con = _duck_with_tables(SF_SMOKE)
    brute = con.sql(_BRUTE).fetchone()
    row = d71_fuzzy_dedup_depth2(spark, SF_SMOKE).collect()[0]
    # completeness: every brute-force ed<=2 pair is found by the
    # depth-2 deletion blocking (the FastSS guarantee), and the verify
    # stage never over-counts
    assert row["n_pairs"] == brute[0]
    assert row["n_injected_found"] == brute[1]
    # the corpus genuinely exercises BOTH distance tiers
    assert row["min_dist"] == 1 and row["max_dist"] == 2
    # blocking bound: candidates are a superset of answers but bounded
    # (shared-variant distance bound is 4, and on high-entropy hex keys
    # the leakage stays near zero)
    assert row["n_cand"] >= row["n_pairs"]


def test_d71_injects_every_fourth_customer(spark):
    from etl_docker_spark.catalog import load_table
    from etl_docker_spark.plans.d import d71_fuzzy_dedup_depth2
    # custkeys are 0-based in this corpus (0..n-1), so count the actual
    # id%4==0 population rather than assuming 1-based keys
    n_aliases = (load_table(spark, SF_SMOKE, "customer")
                 .filter("c_custkey % 4 = 0").count())
    row = d71_fuzzy_dedup_depth2(spark, SF_SMOKE).collect()[0]
    # full recall on the injected linkage: one recovered pair per alias
    assert row["n_injected_found"] == n_aliases


def test_q102_determinism_gate_is_not_vacuous(spark):
    """Negative control: the same two-scalar-subquery comparison over an
    UNSEEDED generator must read False — proving ReuseSubquery did not
    collapse the two evaluations into one (which would make the gate
    compare a value with itself and always pass)."""
    row = spark.sql("""
        SELECT (SELECT struct(sum(u), count(*))
                FROM (SELECT uniform(0, 999999999) AS u
                      FROM range(0, 4096, 1, 4))) =
               (SELECT struct(sum(u), count(*))
                FROM (SELECT uniform(0, 999999999) AS u
                      FROM range(0, 4096, 1, 4)) WHERE u >= 0)
               AS det
    """).collect()[0]
    assert row["det"] is False


def test_q102_uniform_is_partition_layout_sensitive(spark):
    """Documents WHY q102 pins its range() partition count: the seeded
    stream is a function of (seed, partition layout). Measured once and
    pinned — a Spark upgrade that changes the seeding scheme shows up
    here, not as silent bench drift."""
    sums = [spark.sql(f"""
        SELECT sum(u) FROM (SELECT uniform(0, 9999, 42) AS u
                            FROM range(0, 10000, 1, {p}))
    """).collect()[0][0] for p in (4, 32)]
    assert sums[0] != sums[1]
    # but each layout individually is run-to-run stable
    again = spark.sql("""
        SELECT sum(u) FROM (SELECT uniform(0, 9999, 42) AS u
                            FROM range(0, 10000, 1, 4))
    """).collect()[0][0]
    assert again == sums[0]
