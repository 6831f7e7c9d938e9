"""Query-family (q) tests: q102's seeded-generator determinism gate,
including the negative control that proves the gate can fail."""

from __future__ import annotations


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
