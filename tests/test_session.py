"""The session factory's sizing: a repeated query reuses its generated
code instead of recompiling it."""

from __future__ import annotations

from etl_docker_spark.session import compiled_classes


def test_repeated_plans_reuse_their_generated_classes(spark):
    """150 one-row plans with distinct literals generate more classes
    than Spark's default codegen cache (100 entries) holds. With the
    session's cap, a second round over the same plans compiles none."""
    def run_round():
        for i in range(150):
            spark.range(1).selectExpr(f"id + {i}").collect()

    run_round()
    before = compiled_classes(spark)
    run_round()
    assert compiled_classes(spark) - before == 0
