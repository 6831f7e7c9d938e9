"""applyInPandasWithState operator test: state persists across micro-batches."""

from __future__ import annotations

from etl_docker_spark.streaming.stateful import (keyed_ttl_totals,
                                                 running_user_totals)


def test_state_survives_across_batches(spark, tmp_path):
    import datetime as dt

    src = str(tmp_path / "src")
    schema = "user_id long, ts timestamp, value double"

    spark.createDataFrame(
        [(1, dt.datetime(2024, 1, 1, 10), 5.0), (1, dt.datetime(2024, 1, 1, 11), 7.0),
         (2, dt.datetime(2024, 1, 1, 9), 1.0)], schema) \
        .write.mode("append").parquet(src)

    # one long-running query, multiple micro-batches: the state store carries
    # totals between them (memory sink can't recover checkpoints, so the
    # cross-batch guarantee is observed within a live query)
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(src))
    q = (running_user_totals(stream)
         .writeStream.outputMode("update").format("memory")
         .queryName("running_totals").start())
    try:
        q.processAllAvailable()
        first = {r.user_id: (r.n_events, r.total_value)
                 for r in spark.sql("SELECT * FROM running_totals").collect()}
        assert first[1] == (2, 12.0) and first[2] == (1, 1.0)

        spark.createDataFrame([(1, dt.datetime(2024, 1, 2, 10), 3.0)], schema) \
            .write.mode("append").parquet(src)
        q.processAllAvailable()
        # update-mode memory sink appends updated rows; the LAST row per key
        # is the current state
        rows = spark.sql("SELECT * FROM running_totals").collect()
        latest = {}
        for r in rows:
            latest[r.user_id] = (r.n_events, r.total_value)
        assert latest[1] == (3, 15.0)  # 12+3, 2+1 — state persisted
    finally:
        q.stop()


def test_ttl_evicts_idle_state(spark, tmp_path):
    """Event-time TTL (`keyed_ttl_totals`): a key idle past the TTL
    (watermark-driven) is evicted; when it reappears, totals restart from
    zero instead of resuming — the observable proof the state store
    dropped it."""
    import datetime as dt

    from pyspark.sql import functions as F

    src = str(tmp_path / "ttl_src")
    schema = "user_id long, ts timestamp, value double"
    ttl_ms = 3_600_000  # 1 hour of event time

    def append(*rows):
        # one part-file per append: micro-batch order must mirror append
        # order, or a reordered listing can legitimately evict user 1
        spark.createDataFrame(list(rows), schema).coalesce(1) \
            .write.mode("append").parquet(src)

    append((1, dt.datetime(2024, 1, 1, 10), 5.0),
           (2, dt.datetime(2024, 1, 1, 10), 1.0))
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(src)
              .select(F.col("user_id").cast("string").alias("state_key"),
                      "ts", (F.col("value") * 100).cast("long").alias("cents")))
    q = (keyed_ttl_totals(stream, ttl_ms=ttl_ms)
         .writeStream.outputMode("update").format("memory")
         .queryName("ttl_totals").start())
    try:
        q.processAllAvailable()
        # advance the watermark well past user 2's 11:00 timeout via user 1
        # traffic (two batches: the first moves the watermark, the second
        # fires the timeout)
        append((1, dt.datetime(2024, 1, 1, 20), 7.0))
        q.processAllAvailable()
        append((1, dt.datetime(2024, 1, 1, 20, 40), 2.0))
        q.processAllAvailable()
        # user 2 comes back — must start from scratch
        append((2, dt.datetime(2024, 1, 1, 21), 4.0))
        q.processAllAvailable()
        latest = {}
        for r in spark.sql("SELECT * FROM ttl_totals ORDER BY last_ts").collect():
            latest[r.state_key] = (r.n_events, r.total_cents)
        assert latest["1"] == (3, 1400)  # never idle: state kept across batches
        assert latest["2"] == (1, 400)   # evicted, then restarted — not (2, 500)
    finally:
        q.stop()


def test_no_ttl_state_survives_idleness(spark, tmp_path):
    """Control: running_user_totals, which has no TTL, keeps user 2's
    state under the same traffic pattern — proving the eviction above is
    the TTL's doing."""
    import datetime as dt

    src = str(tmp_path / "nottl_src")
    schema = "user_id long, ts timestamp, value double"

    def append(*rows):
        spark.createDataFrame(list(rows), schema).coalesce(1) \
            .write.mode("append").parquet(src)

    append((1, dt.datetime(2024, 1, 1, 10), 5.0),
           (2, dt.datetime(2024, 1, 1, 10), 1.0))
    stream = (spark.readStream.schema(schema)
              .option("maxFilesPerTrigger", "1").parquet(src))
    q = (running_user_totals(stream)
         .writeStream.outputMode("update").format("memory")
         .queryName("nottl_totals").start())
    try:
        q.processAllAvailable()
        append((1, dt.datetime(2024, 1, 1, 20), 7.0))
        q.processAllAvailable()
        append((2, dt.datetime(2024, 1, 1, 21), 4.0))
        q.processAllAvailable()
        latest = {}
        for r in spark.sql("SELECT * FROM nottl_totals ORDER BY last_ts").collect():
            latest[r.user_id] = (r.n_events, r.total_value)
        assert latest[2] == (2, 5.0)  # state resumed
    finally:
        q.stop()
