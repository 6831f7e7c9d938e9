"""Structured Streaming queries (the s family).

Windowed, session and stateful aggregations; stream-static and
stream-stream joins; watermark, dedup, TTL and late-data policies;
checkpoint resume, state-store inspection and change feeds; CDC merges
and foreachBatch sinks; JSON/variant ingest with quarantine. Each stream
runs to completion over an availableNow trigger, and a batch DuckDB
oracle checks the landed result.

`QUERIES` maps each query name to its `(builder, oracle)` pair.
"""

from __future__ import annotations

import os
import tempfile

from pyspark.sql import Column, DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from etl_docker_spark.plans._util import (_D64_DOMAIN, _D67_LGK, _DAY_US,
                                          _HLL_ALPHA_NUM, _HLL_M, _HLL_RHO_MAX,
                                          day_file_stream, dec, dsum,
                                          finish_stream, md5_bucket_sql,
                                          memory_stream, sink_name,
                                          stage_day_files, staged_day_stream,
                                          stream_state_partitions, t)
from etl_docker_spark.session import scoped_conf


# ---------------------------------------------------------------- s01 streaming


def _events_stream(spark: SparkSession, sf: str):
    """The events table as a file STREAM, robust to both physical layouts.

    `<sf>/events.parquet` is a single file in the driver's testdata but a
    directory of part-files for generated corpora. The file-stream source
    rejects a bare file path (batch read accepts it), so the file layout
    goes through a pathGlobFilter on the parent dir; the directory layout
    streams the directory itself — a glob filter there would match nothing
    and SILENTLY produce an empty stream.
    """
    from pyspark.sql import types as T

    path = f"{sf}/events.parquet"
    is_dir = os.path.isdir(path)
    # schema from a batch probe (footer read), not hardcoded: the driver's
    # testdata stores ts as int64-nanos, generated corpora may store a real
    # timestamp — the stream must mirror whichever this corpus has
    if is_dir:
        probe = spark.read.parquet(path)
        stream = spark.readStream.schema(probe.schema).parquet(path)
    else:
        probe = spark.read.option("pathGlobFilter", "events.parquet").parquet(sf)
        stream = (spark.readStream.schema(probe.schema)
                  .option("pathGlobFilter", "events.parquet").parquet(sf))
    ts_type = probe.schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        stream = stream.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(ts_type, T.TimestampNTZType):
        # micros-physical corpora read as NTZ; session zone is pinned UTC so
        # the cast to the session-zone TIMESTAMP is wall-clock-preserving
        stream = stream.withColumn("ts", F.col("ts").cast("timestamp"))
    return stream


def s01_stream_tumbling(spark: SparkSession, sf: str) -> DataFrame:
    """Tumbling-window aggregation executed through Structured Streaming.

    The events parquet is consumed as a STREAM (availableNow trigger), the
    windowed aggregate runs through the streaming engine into a memory sink,
    and the sink's table is returned. The oracle is the batch answer —
    equality IS the exactly-once guarantee check.
    """
    from etl_docker_spark.streaming import tumbling_aggregate

    stream = _events_stream(spark, sf)
    agg = tumbling_aggregate(
        stream, "1 day",
        {"n_events": F.count("*"),
         "total_value": F.sum(F.col("value").cast("decimal(12,4)")).cast("double")},
        keys=["event_type"], watermark="1 minute")
    return memory_stream(agg, "s01", "complete", sf)


S01_SQL = """
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
       CAST(date_trunc('day', ts) AS TIMESTAMP) + INTERVAL 1 DAY AS window_end,
       event_type,
       COUNT(*) AS n_events,
       CAST(CAST(SUM(CAST(value AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE) AS total_value
FROM events
GROUP BY date_trunc('day', ts), event_type
"""


# ---------------------------------------------------------------- s02 sessions


def s02_stream_sessions(spark: SparkSession, sf: str) -> DataFrame:
    """Stateful session windows executed through Structured Streaming.

    `session_window(ts, 30 min)` per user; the oracle derives the same
    sessions with lag+cumsum (session_end here is last event + gap, per
    Spark's session_window semantics).
    """
    from etl_docker_spark.streaming import session_aggregate

    stream = _events_stream(spark, sf)
    agg = session_aggregate(
        stream, "30 minutes",
        {"n_events": F.count("*"),
         "total_value": F.sum(F.col("value").cast("decimal(12,4)")).cast("double")},
        keys=["user_id"], watermark="1 minute")
    return memory_stream(agg, "s02", "complete", sf)


S02_SQL = """
WITH g AS (
  SELECT user_id, ts, value,
         CASE WHEN epoch_us(ts) - lag(epoch_us(ts))
                   OVER (PARTITION BY user_id ORDER BY ts, event_id) > 1800000000
              OR lag(epoch_us(ts)) OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS is_new
  FROM events
),
s AS (
  SELECT user_id, ts, value,
         SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts
                           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS sess
  FROM g
)
SELECT MIN(ts) AS session_start,
       MAX(ts) + INTERVAL '30 minutes' AS session_end,
       user_id,
       COUNT(*) AS n_events,
       CAST(CAST(SUM(CAST(value AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE) AS total_value
FROM s GROUP BY user_id, sess
"""


# ---------------------------------------------------------------- s03 stateful


def s03_stateful_running_totals(spark: SparkSession, sf: str) -> DataFrame:
    """Custom stateful operator (applyInPandasWithState) under the gate.

    Per-user totals accumulated in the streaming STATE STORE over the whole
    events table; the surfaced columns are the integer-exact ones
    (event counts — float totals are dropped because pandas-side summation
    order is nondeterministic), so the batch GROUP BY is a full oracle:
    equality proves the state store saw every event exactly once.
    """
    from etl_docker_spark.streaming.stateful import running_user_totals

    stream = _events_stream(spark, sf)
    out = running_user_totals(stream.select("user_id", "ts", "value"))
    sink = memory_stream(out, "s03", "update", sf)
    # update-mode sink: keep the final state row per user
    w = Window.partitionBy("user_id").orderBy(F.desc("n_events"))
    return (sink
            .withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .select("user_id", "n_events"))


# ---------------------------------------------------------------- s04 dedup


def s04_stream_dedup(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming key-dedup through the state store (A4's streaming twin).

    Distinct (user_id, event_type, day) triples computed by streaming
    dropDuplicates; the oracle is batch SELECT DISTINCT — equality proves
    the dedup state saw every event and emitted each key exactly once.
    """
    from etl_docker_spark.streaming import streaming_dedup

    stream = _events_stream(spark, sf).withColumn(
        "day", F.date_trunc("day", F.col("ts")))
    out = streaming_dedup(stream, ["user_id", "event_type", "day"])
    return memory_stream(out, "s04", "append", sf)


S04_SQL = """
SELECT DISTINCT user_id, event_type,
       CAST(date_trunc('day', ts) AS TIMESTAMP) AS day
FROM events
"""


# ---------------------------------------------------------------- s05


def _view_buy_join(spark: SparkSession, sf: str, how: str) -> DataFrame:
    """The stream-stream interval join of s05 and s23 (inner), s17 (left
    outer) and s20 (full outer): each watermarked view event joined
    (`how`) to the same user's watermarked purchases within the following
    6 h, with the purchase's lag as `delta_us`."""
    ev = _events_stream(spark, sf)
    views = (ev.filter(F.col("event_type") == "view")
             .select(F.col("user_id").alias("v_user"),
                     F.col("event_id").alias("view_id"),
                     F.col("ts").alias("view_ts"))
             .withWatermark("view_ts", "1 minute"))
    buys = (ev.filter(F.col("event_type") == "purchase")
            .select(F.col("user_id").alias("b_user"),
                    F.col("event_id").alias("purchase_id"),
                    F.col("ts").alias("buy_ts"))
            .withWatermark("buy_ts", "1 minute"))
    return (views.join(
        buys,
        F.expr("""v_user = b_user
                  AND buy_ts >= view_ts
                  AND buy_ts <= view_ts + interval 6 hours"""),
        how)
        .withColumn("delta_us",
                    F.unix_micros("buy_ts") - F.unix_micros("view_ts")))


def s05_stream_stream_join(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-stream interval join THROUGH Structured Streaming: each view
    event joined to the same user's purchases within the following 6 h.

    Both sides are watermarked streams; the join state is range-bounded by
    the event-time condition, so state eviction is automatic at the
    watermark — the scalable formulation of "correlate two event streams".
    Oracle = the batch join; equality checks exactly-once emission.
    """
    joined = _view_buy_join(spark, sf, "inner").select(
        F.col("v_user").alias("user_id"), "view_id", "purchase_id",
        "delta_us")
    return memory_stream(joined, "s05", "append", sf)


S05_SQL = """
SELECT a.user_id, a.event_id AS view_id, b.event_id AS purchase_id,
       epoch_us(b.ts) - epoch_us(a.ts) AS delta_us
FROM events a JOIN events b
  ON a.user_id = b.user_id
 AND a.event_type = 'view' AND b.event_type = 'purchase'
 AND b.ts >= a.ts AND b.ts <= a.ts + INTERVAL '6 hours'
"""


# ---------------------------------------------------------------- s06


def s06_cdc_merge(spark: SparkSession, sf: str) -> DataFrame:
    """CDC-merge THROUGH the streaming engine: the events table arrives as
    three micro-batches (split by event_id, NOT by time — deliberately
    out of order) and each batch is upserted into a parquet target via
    foreachBatch with the out-of-order-safe merge
    (operators.merge, compare_target=True). Final state: latest event per
    user by (ts, event_id).

    The oracle is the batch argmax — equality proves the merge is
    arrival-order independent AND exactly-once-per-epoch. This is the
    reference's staging->merge load loop (CotyData_IPN.py:207-242) as a
    continuous pipeline.
    """
    from etl_docker_spark.streaming.cdc import merge_stream_into

    ev = t(spark, sf, "events").select(
        "event_id", "user_id", "ts", "event_type", "value")
    with tempfile.TemporaryDirectory(
            prefix="s06_", ignore_cleanup_errors=True) as work:
        src, target = f"{work}/src", f"{work}/target"
        # three deliberately time-interleaved batches
        ev.repartitionByRange(3, "event_id").write.mode("overwrite").parquet(src)
        stream = (spark.readStream.schema(ev.schema)
                  .option("maxFilesPerTrigger", "1").parquet(src))
        # stateless foreachBatch merge: session width
        # (`stream_state_partitions`)
        with stream_state_partitions(spark, sf, session_width=True):
            finish_stream(merge_stream_into(
                stream, target, keys=["user_id"],
                order_by=[F.desc("ts"), F.desc("event_id")],
                checkpoint=f"{work}/ckpt", compare_target=True), "s06")
        final = (spark.read.parquet(target)
                 .select("user_id", F.col("ts").alias("last_ts"),
                         F.col("event_type").alias("last_type"),
                         F.col("value").alias("last_value"))
                 .localCheckpoint())  # pin before the workdir is deleted
        return final


S06_SQL = """
SELECT user_id, ts AS last_ts, event_type AS last_type, value AS last_value
FROM events
QUALIFY row_number() OVER (PARTITION BY user_id
                           ORDER BY ts DESC, event_id DESC) = 1
"""


# ---------------------------------------------------------------- s07


def s07_stream_sliding(spark: SparkSession, sf: str) -> DataFrame:
    """Sliding event-time windows (1 day long, sliding every 12 h) executed
    THROUGH Structured Streaming into a memory sink; the oracle is the
    batch answer with each event expanded into its two covering windows —
    equality is the exactly-once check (same contract as s01..s04).
    """
    from etl_docker_spark.streaming import tumbling_aggregate

    stream = _events_stream(spark, sf)
    agg = tumbling_aggregate(
        stream, "1 day",
        {"n_events": F.count("*"),
         "total_value": F.sum(F.col("value").cast("decimal(12,4)"))
         .cast("double")},
        keys=["event_type"], watermark="1 minute", slide="12 hours")
    return memory_stream(agg, "s07", "complete", sf)


_HALF_DAY_US = 12 * 3600 * 1_000_000
S07_SQL = f"""
WITH expanded AS (
  SELECT make_timestamp(((epoch_us(ts) // {_HALF_DAY_US}) - k)
                        * {_HALF_DAY_US}) AS window_start,
         event_type, value
  FROM events, (SELECT unnest(generate_series(0, 1)) AS k)
)
SELECT window_start,
       window_start + INTERVAL 1 DAY AS window_end,
       event_type,
       COUNT(*) AS n_events,
       CAST(CAST(SUM(CAST(value AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE)
         AS total_value
FROM expanded
GROUP BY window_start, event_type
"""


# ---------------------------------------------------------------- s08


def s08_stream_static_join(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-static dimension enrichment: the events STREAM broadcast-
    joined per micro-batch to the static customer dimension (user_id + 1
    maps into c_custkey), then a watermarked daily tumbling aggregate per
    market segment — the Structured-Streaming form of the reference's
    lookup-map joins (Funciones_CotyData.py:15-326). The static side is
    re-resolvable per batch (live dim updates); broadcast keeps the stream
    side shuffle-free before the windowed aggregation. Oracle = the batch
    answer (exactly-once check, as s01..s07).
    """
    from etl_docker_spark.streaming import tumbling_aggregate

    dim = (t(spark, sf, "customer")
           .select((F.col("c_custkey") - 1).alias("user_id"),
                   F.col("c_mktsegment").alias("segment")))
    stream = _events_stream(spark, sf).join(F.broadcast(dim), "user_id")
    agg = tumbling_aggregate(
        stream, "1 day",
        {"n_events": F.count("*"),
         "total_value": F.sum(dec("value")).cast("double")},
        keys=["segment"], watermark="1 minute")
    return memory_stream(agg, "s08", "complete", sf)


S08_SQL = f"""
WITH enriched AS (
  SELECT CAST(epoch_us(e.ts) AS BIGINT) // {_DAY_US} AS day_idx,
         c.c_mktsegment AS segment, e.value
  FROM events e JOIN customer c ON e.user_id + 1 = c.c_custkey
)
SELECT make_timestamp(day_idx * {_DAY_US}) AS window_start,
       make_timestamp((day_idx + 1) * {_DAY_US}) AS window_end,
       segment,
       COUNT(*) AS n_events,
       CAST(CAST(SUM(CAST(value AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE)
         AS total_value
FROM enriched
GROUP BY day_idx, segment
"""


# ---------------------------------------------------------------- s09


def s09_stream_hll_users(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming HLL: distinct-user estimate per event type, maintained
    INCREMENTALLY through the streaming engine — the register table
    (event_type, bucket, max rho) is a streaming groupBy-MAX whose state is
    exactly the 64-number sketch, so arbitrary stream length accumulates
    into bounded state (the reason HLL is the streaming cardinality tool).
    The estimate is assembled from the final register table in batch; the
    oracle computes the identical deterministic sketch over the batch
    events view — equality proves the incremental register maintenance
    exactly reproduces the batch sketch (d28's mergeability, now across
    micro-batches instead of partitions).
    """
    stream = _events_stream(spark, sf)
    h = F.conv(F.substring(F.md5(F.col("user_id").cast("string")
                                 .cast("binary")), 1, 15), 16, 10) \
        .cast("long")
    keyed = stream.select("event_type", h.alias("hv")).select(
        "event_type", (F.col("hv") % _HLL_M).alias("bucket"),
        F.expr(f"hv div {_HLL_M}").alias("wv"))
    rho = (F.when(F.col("wv") == 0, F.lit(_HLL_RHO_MAX))
           .otherwise(F.lit(_HLL_RHO_MAX) - F.length(F.bin(F.col("wv")))))
    regs = (keyed.select("event_type", "bucket", rho.alias("rho"))
            .groupBy("event_type", "bucket")
            .agg(F.max("rho").alias("m_rho")))
    sink = memory_stream(regs, "s09", "complete", sf)
    # empty registers contribute 2^RHO_MAX each, so the fill is arithmetic
    # (M - observed) — no bucket-completion join needed
    z = (sink.groupBy("event_type")
         .agg((F.expr(f"sum(shiftleft(cast(1 as bigint),"
                      f" {_HLL_RHO_MAX} - m_rho))")
               + (F.lit(_HLL_M) - F.count("*"))
               * F.lit(1 << _HLL_RHO_MAX).cast("long")).alias("z")))
    return z.select(
        "event_type",
        F.floor(F.lit(float(_HLL_ALPHA_NUM)) / F.col("z")).cast("long")
        .alias("hll_users"))


S09_SQL = f"""
WITH hashed AS (
  SELECT event_type,
         CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15)
              AS BIGINT) % {_HLL_M} AS bucket,
         CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 15)
              AS BIGINT) // {_HLL_M} AS wv
  FROM events
),
r AS (
  SELECT event_type, bucket,
         CASE WHEN wv = 0 THEN {_HLL_RHO_MAX}
              ELSE {_HLL_RHO_MAX} - length(bin(wv)) END AS rho
  FROM hashed
),
reg AS (
  SELECT event_type, bucket, MAX(rho) AS m_rho
  FROM r GROUP BY event_type, bucket
),
s AS (
  SELECT event_type,
         SUM(CAST(1 AS BIGINT) << ({_HLL_RHO_MAX} - m_rho))
           + ({_HLL_M} - COUNT(*))
             * (CAST(1 AS BIGINT) << {_HLL_RHO_MAX}) AS z
  FROM reg GROUP BY event_type
)
SELECT event_type,
       CAST(FLOOR({_HLL_ALPHA_NUM} / z) AS BIGINT) AS hll_users
FROM s
"""


# ---------------------------------------------------------------- s10

_S10_TOPK = 3


def s10_stream_topk(spark: SparkSession, sf: str) -> DataFrame:
    """Top-3 event types per day, maintained THROUGH the streaming engine.

    The daily (window, event_type) counts are streaming state (complete
    mode, exactly the aggregate s01 proves); the top-k rank is applied to
    the sink table at read time — ranking is not a streaming-state
    operation (a rank flips retroactively when counts move), so the
    serving layer does it over the k*windows-row aggregate, not the
    event stream. The oracle is the batch answer: equality proves the
    stream's counts AND the serving rank together.
    """
    from etl_docker_spark.streaming import tumbling_aggregate

    stream = _events_stream(spark, sf)
    agg = tumbling_aggregate(
        stream, "1 day", {"n_events": F.count("*")},
        keys=["event_type"], watermark="1 minute")
    sink = memory_stream(agg, "s10", "complete", sf)
    w = Window.partitionBy("window_start").orderBy(F.desc("n_events"),
                                                   F.asc("event_type"))
    return (sink.withColumn("rank", F.row_number().over(w).cast("long"))
            .filter(F.col("rank") <= _S10_TOPK))


S10_SQL = f"""
WITH counts AS (
  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
         CAST(date_trunc('day', ts) AS TIMESTAMP) + INTERVAL 1 DAY
           AS window_end,
         event_type, COUNT(*) AS n_events
  FROM events GROUP BY 1, 2, 3
)
SELECT window_start, window_end, event_type, n_events,
       CAST(row_number() OVER (PARTITION BY window_start
                               ORDER BY n_events DESC, event_type)
            AS BIGINT) AS rank
FROM counts
QUALIFY rank <= {_S10_TOPK}
"""


# ---------------------------------------------------------------- s11


def s11_stream_scd2(spark: SparkSession, sf: str) -> DataFrame:
    """SCD2 history maintained through the streaming engine: the
    (user_id, ts)-deduped event feed arrives as three micro-batches SPLIT
    BY EVENT ID (deliberately out of time order) and each folds into the
    parquet history via scd2_stream_into. The oracle recomputes the
    history in one batch pass — equality proves the fold is
    arrival-order independent (a late batch inserts its versions into
    the MIDDLE of each key's timeline) and exactly-once.

    event_id rides in the attrs so every version is distinct (the no-op
    filter never collapses two updates) and the feed is pre-deduped per
    (user_id, ts) by max event_id, so (key, valid_from) is globally
    unique — the preconditions under which the fold is a pure function
    of the SET of updates, independent of batching.
    """
    from etl_docker_spark.streaming.cdc import scd2_stream_into

    ev = t(spark, sf, "events").select("event_id", "user_id", "ts", "value")
    w = Window.partitionBy("user_id", "ts").orderBy(F.desc("event_id"))
    feed = (ev.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1).drop("rn"))
    with tempfile.TemporaryDirectory(
            prefix="s11_", ignore_cleanup_errors=True) as work:
        src, target = f"{work}/src", f"{work}/hist"
        feed.repartitionByRange(3, "event_id").write.mode(
            "overwrite").parquet(src)
        stream = (spark.readStream.schema(feed.schema)
                  .option("maxFilesPerTrigger", "1").parquet(src))
        # stateless foreachBatch fold: session width, as s06
        with stream_state_partitions(spark, sf, session_width=True):
            finish_stream(scd2_stream_into(
                stream, target, keys=["user_id"],
                attrs=["value", "event_id"], ts_col="ts",
                checkpoint=f"{work}/ckpt"), "s11")
        return spark.read.parquet(target).localCheckpoint()


S11_SQL = """
WITH feed AS (
  SELECT user_id, value, event_id, ts
  FROM events
  QUALIFY row_number() OVER (PARTITION BY user_id, ts
                             ORDER BY event_id DESC) = 1
)
SELECT user_id, value, event_id, ts AS valid_from,
       lead(ts) OVER w AS valid_to,
       lead(ts) OVER w IS NULL AS is_current
FROM feed
WINDOW w AS (PARTITION BY user_id ORDER BY ts)
"""


# ---------------------------------------------------------------- s12


def s12_stream_jsonl_ingest(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING file ingest with bad-record accounting: the q61 drop dir
    (JSONL, ~1/37 lines truncated) consumed through the streaming engine
    in three micro-batches, corrupt lines folded into a '_CORRUPT' group
    of the same aggregation — one stream, no second scan.

    Streaming PERMISSIVE parsing uses the same corrupt-record column as
    the batch reader (sources/files.py); equality with the batch filter
    twin proves the stream parsed every good line, rejected every bad
    one, and counted each exactly once across batches.
    """
    from pyspark.sql import types as T

    from etl_docker_spark.sources.files import CORRUPT_COL

    ev = t(spark, sf, "events").select(
        "event_id", "event_type",
        F.round(F.col("value") * 100, 0).cast("long").alias("micros"))
    payload = F.to_json(F.struct("event_id", "event_type", "micros"))
    line = F.when(F.pmod("event_id", F.lit(37)) == 0,
                  F.concat(F.lit('{"event_id":'),
                           F.col("event_id").cast("string"))
                  ).otherwise(payload)
    with tempfile.TemporaryDirectory(
            prefix="s12_", ignore_cleanup_errors=True) as work:
        # three files -> three micro-batches (maxFilesPerTrigger=1)
        (ev.select(line.alias("value"))
         .repartitionByRange(3, "event_id")
         .write.mode("overwrite").text(work))
        schema = T.StructType([
            T.StructField("event_id", T.LongType()),
            T.StructField("event_type", T.StringType()),
            T.StructField("micros", T.LongType()),
            T.StructField(CORRUPT_COL, T.StringType()),
        ])
        stream = (spark.readStream.schema(schema)
                  .option("mode", "PERMISSIVE")
                  .option("columnNameOfCorruptRecord", CORRUPT_COL)
                  .option("maxFilesPerTrigger", "1")
                  .json(work))
        grouped = (stream
                   .select(F.when(F.col(CORRUPT_COL).isNotNull(),
                                  F.lit("_CORRUPT"))
                           .otherwise(F.col("event_type")).alias("grp"),
                           F.coalesce("micros", F.lit(0)).alias("micros"))
                   .groupBy("grp")
                   .agg(F.count("*").alias("n_lines"),
                        F.sum("micros").alias("sum_micros")))
        return memory_stream(grouped, "s12", "complete", sf).localCheckpoint()


S12_SQL = """
SELECT CASE WHEN event_id % 37 = 0 THEN '_CORRUPT' ELSE event_type END
         AS grp,
       COUNT(*) AS n_lines,
       CAST(SUM(CASE WHEN event_id % 37 = 0 THEN 0
                     ELSE CAST(round(value * 100, 0) AS BIGINT) END)
            AS BIGINT) AS sum_micros
FROM events GROUP BY 1
"""


# ---------------------------------------------------------------- s13

_S13_SPLIT = "2024-01-16"   # events before this date arrive LATE
_S13_BRIDGE = "2024-02-14"  # advances the (lagging) late-event watermark


def s13_stream_late_data_drop(spark: SparkSession, sf: str) -> DataFrame:
    """Watermark LATE-DATA DROP semantics, gated. Every other s-query
    proves the streaming engine loses nothing (oracle = full batch
    answer); none proves the opposite contract — that data arriving
    after the watermark has passed its window is EXCLUDED. At 100 TB
    the drop rule is what bounds streaming state; an engine that
    silently keeps (or double-counts) late rows passes all no-loss
    gates and still has unbounded state.

    Arrival order is made deterministic with one file per micro-batch
    (maxFilesPerTrigger=1, mtime-ordered, the s12 pattern):

      batch 1  events with ts >= 2024-01-16 (on time).
      batch 2  a single '_bridge' row (2024-02-14): Spark >= 3.4 filters
               late events with the PREVIOUS micro-batch's watermark
               (lateEvents wm lags eviction wm by one batch — verified
               empirically on this engine), so one bridge batch is
               needed before the watermark from batch 1's data governs
               input filtering.
      batch 3  events with ts <  2024-01-16 — entirely late; append
               mode must discard all of them (the engine reports them
               via numRowsDroppedByWatermark). availableNow then runs a
               final no-data batch whose watermark (2024-02-14, from the
               bridge) closes every January window, so they all emit;
               the bridge's own window ends past that watermark and
               never appears.

    Oracle: the daily per-type aggregate over ONLY the on-time slice —
    if any late row survived (or any on-time row was dropped), counts
    or decimal-exact sums diverge.
    """
    from etl_docker_spark.streaming import tumbling_aggregate

    ev = t(spark, sf, "events").select("ts", "event_type", "value")
    on_time = ev.filter(F.col("ts") >= F.lit(_S13_SPLIT).cast("timestamp"))
    late = ev.filter(F.col("ts") < F.lit(_S13_SPLIT).cast("timestamp"))

    def one_row(ts: str, etype: str):
        return spark.createDataFrame(
            [(etype, 0.0)], "event_type string, value double").select(
            F.lit(ts).cast("timestamp").alias("ts"), "event_type", "value")

    bridge = one_row(_S13_BRIDGE, "_bridge")

    with tempfile.TemporaryDirectory(
            prefix="s13_", ignore_cleanup_errors=True) as work:
        # one parallel staging job, one file per arrival slot (pidx IS
        # the batch index: on_time, bridge, late) — the serial
        # coalesce(1)-per-part loop this replaces additionally collapsed
        # each part's scan+filter into a single task (optimization r12;
        # same finding-2 shape as the r11 stage_day_files port)
        parts = (on_time.withColumn("pidx", F.lit(0))
                 .unionByName(bridge.withColumn("pidx", F.lit(1)))
                 .unionByName(late.withColumn("pidx", F.lit(2))))
        arrivals = stage_day_files(parts, work, day_col="pidx")

        stream = day_file_stream(spark, arrivals)
        agg = tumbling_aggregate(
            stream, "1 day",
            {"n_events": F.count("*"), "total_value": dsum("value")},
            keys=["event_type"], watermark="0 seconds")
        return (memory_stream(agg, "s13", "append", sf)
                .filter(F.col("event_type") != "_bridge")
                .select(F.col("window_start").alias("day"), "event_type",
                        "n_events", "total_value")
                .localCheckpoint())


S13_SQL = f"""
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
       COUNT(*) AS n_events,
       CAST(CAST(SUM(CAST(value AS DECIMAL(12,4))) AS VARCHAR) AS DOUBLE)
         AS total_value
FROM events
WHERE ts >= TIMESTAMP '{_S13_SPLIT} 00:00:00'
GROUP BY 1, 2
"""


# ---------------------------------------------------------------- ten-day feed

# The first ten event days. Staged one file per day, they replay as ten
# micro-batches: the feed whose timing s14-s29 pin.
_TEN_DAY_CUTOFF = "2024-01-11"


def _cents() -> Column:
    """`value` in integer cents, whose sums are exact in both engines."""
    return F.round(F.col("value") * 100, 0).cast("long").alias("cents")


def _ten_day_feed(spark: SparkSession, sf: str, *cols) -> DataFrame:
    """The events before `_TEN_DAY_CUTOFF` as `cols`, plus their day
    (`dcol`) for `stage_day_files`."""
    return (t(spark, sf, "events")
            .filter(F.col("ts") < F.lit(_TEN_DAY_CUTOFF).cast("timestamp"))
            .select(*cols,
                    F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
                    .alias("dcol")))


# ---------------------------------------------------------------- s14/s15

# A key idle this many days loses its state (s14's TTL) or closes its
# session (s15's gap).
_IDLE_DAYS = 3


def _key_day_feed(spark: SparkSession, sf: str) -> DataFrame:
    """The s14/s15 feed: each event keyed `user_id:event_type`, at its
    day's midnight, in integer cents."""
    return _ten_day_feed(
        spark, sf,
        F.concat_ws(":", F.col("user_id").cast("string"),
                    "event_type").alias("state_key"),
        F.date_trunc("day", F.col("ts")).alias("ts"), _cents())


# The batch form of `_key_day_feed` (`ev`, events at their day `d`) and
# each key's activity segments (`grp`): an activity day at least
# `_IDLE_DAYS` + 3 days after the key's previous one starts a new
# segment `g` (s14's restart rule, s15's session split).
_KEY_SEGMENT_CTES = f"""ev AS (
  SELECT CAST(user_id AS VARCHAR) || ':' || event_type AS state_key,
         CAST(date_trunc('day', ts) AS TIMESTAMP) AS d,
         CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events WHERE ts < TIMESTAMP '{_TEN_DAY_CUTOFF} 00:00:00'
),
dd AS (SELECT DISTINCT state_key, d FROM ev),
lg AS (
  SELECT state_key, d,
         CASE WHEN lag(d) OVER w IS NULL THEN 0
              WHEN d >= lag(d) OVER w
                        + INTERVAL {_IDLE_DAYS + 3} DAY THEN 1
              ELSE 0 END AS restart
  FROM dd WINDOW w AS (PARTITION BY state_key ORDER BY d)
),
grp AS (
  SELECT state_key, d,
         SUM(restart) OVER (PARTITION BY state_key ORDER BY d
                            ROWS UNBOUNDED PRECEDING) AS g
  FROM lg
)"""


def s14_stream_ttl_eviction(spark: SparkSession, sf: str) -> DataFrame:
    """Stateful TTL EVICTION under the oracle gate: per-(user, event_type)
    running totals through applyInPandasWithState where a key idle past
    the event-time TTL has its state REMOVED — on an unbounded key space
    this eviction is the only thing keeping streaming state bounded, and
    no other s-query pins it (s03 keeps state forever; s13 pins the
    late-INPUT drop, this pins the state-side eviction).

    One file per calendar day (day-truncated ts, integer cents) feeds
    10 deterministic micro-batches. Empirically pinned eviction timing
    on this engine (see tests and the s13 lag note): the timeout fires
    in the first data-less batch whose watermark STRICTLY exceeds
    last_ts + ttl, and the watermark during the day-X batch is day X-1
    (one-batch lag). With midnight-aligned days and every day present,
    a key's state therefore restarts before activity day E iff
    E >= last_activity + ttl_days + 3 — a pure day-arithmetic rule the
    batch oracle replays: per key, totals of the FINAL surviving state
    segment as of its last emission. Keys that idle out after their
    last activity keep their last emitted row (eviction emits nothing),
    which the oracle reproduces by construction.

    Integer-cents totals (pandas int64 sums) keep cross-engine equality
    exact — float accumulation order would diverge in the last ulp.
    """
    from etl_docker_spark.streaming.stateful import keyed_ttl_totals

    with staged_day_stream(_key_day_feed(spark, sf), "s14") as (stream, _):
        out = keyed_ttl_totals(stream, ttl_ms=_IDLE_DAYS * 86_400_000)
        # Python stateful operator: the update fn runs once per key per
        # batch, so state partitions must scale with the KEY population —
        # which outnumbers cores at every gate size — not with source
        # bytes (the windowed queries' rule): session width. 4 partitions
        # serialized 750k per-key invocations into 185 s at ~sf1; about
        # one per core is the measured sweet spot (SCALE.md: past ~2x
        # cores, task scheduling + state-store commits win back the
        # losses).
        sink = memory_stream(out, "s14", "update", sf, session_width=True)
        w = Window.partitionBy("state_key").orderBy(F.desc("last_ts"))
        return (sink
                .withColumn("__rn", F.row_number().over(w))
                .filter(F.col("__rn") == 1)
                .select("state_key", "n_events", "total_cents", "last_ts")
                .localCheckpoint())


S14_SQL = f"""
WITH {_KEY_SEGMENT_CTES},
lastg AS (SELECT state_key, MAX(g) AS g FROM grp GROUP BY state_key),
seg AS (SELECT grp.state_key, grp.d FROM grp JOIN lastg USING (state_key, g))
SELECT e.state_key,
       COUNT(*) AS n_events,
       CAST(SUM(e.cents) AS BIGINT) AS total_cents,
       MAX(e.d) AS last_ts
FROM ev e JOIN seg USING (state_key, d)
GROUP BY e.state_key
"""


# ---------------------------------------------------------------- s15


def s15_stream_session_close(spark: SparkSession, sf: str) -> DataFrame:
    """EMIT-ON-TIMEOUT sessionization, gated — the inverse output
    discipline of s14: data batches are absorbed into per-key session
    state SILENTLY, and the only rows the sink ever receives come from
    the timeout handler, when the watermark passes session_end + gap.
    The state store holds exactly the open sessions; the sink holds
    exactly the closed ones. This is the streaming shape of
    gaps-and-islands sessionization (q22/q45's batch twin) and the last
    classic stateful output pattern the surface didn't pin.

    Deterministic closure rule on the 10-day file-per-batch feed,
    derived from the empirically-pinned timing (strict-inequality
    timeout + one-batch watermark lag, midnight-aligned days; verified
    again for the emission path with a targeted prototype):

      - a session followed by more key activity (gap >= gap_days + 3,
        s14's split rule) closed mid-stream — always emitted;
      - a key's LAST session closes only if the END-OF-STREAM watermark
        (the last data day, via availableNow's final no-data batch)
        strictly exceeds session_end + gap — i.e. end <= day 6 here;
        later sessions stay open and are never emitted (a real
        pipeline resumes them from the checkpoint on the next run).

    The oracle replays exactly that: sessionize activity days by the
    split rule, keep non-last sessions plus last sessions ending by
    day 6, aggregate events per session.

    The built-in `session_window` (append mode, 0 s watermark, entirely
    in the JVM) cannot replace this operator: it splits and closes with
    one gap, where this rule splits at a 6-day gap (`_IDLE_DAYS` + 3)
    and closes once the end-of-stream watermark passes session_end + 3
    days. Measured on this feed, as (sessions equal to the oracle's,
    oracle sessions, session_window sessions): a 6-day gap gives
    (6, 19, 6) at sf0.001, (86, 204, 86) at sf0.01 and (756, 1918, 756)
    at sf0.1, since every last session ending on day 5 or 6 stays open;
    a 4-day gap gives (18, 19, 27), (198, 204, 294) and
    (1896, 1918, 2709), since it splits sessions at 4- and 5-day gaps.
    """
    from etl_docker_spark.streaming.stateful import session_close_stream

    with staged_day_stream(_key_day_feed(spark, sf), "s15") as (stream, _):
        out = session_close_stream(stream, gap_ms=_IDLE_DAYS * 86_400_000)
        # per-key Python stateful operator: session width, as s14
        return (memory_stream(out, "s15", "update", sf, session_width=True)
                .select("state_key", "session_start", "session_end",
                        "n_events", "total_cents")
                .localCheckpoint())


S15_SQL = f"""
WITH {_KEY_SEGMENT_CTES},
lastd AS (SELECT MAX(d) AS last_day FROM ev),
sessions AS (
  SELECT state_key, g, MIN(d) AS session_start, MAX(d) AS session_end
  FROM grp GROUP BY state_key, g
),
closed AS (
  SELECT s.state_key, s.g, s.session_start, s.session_end
  FROM sessions s, lastd
  WHERE s.g < (SELECT MAX(g) FROM sessions s2
               WHERE s2.state_key = s.state_key)
     OR lastd.last_day > s.session_end + INTERVAL {_IDLE_DAYS} DAY
)
SELECT c.state_key, c.session_start, c.session_end,
       COUNT(*) AS n_events, CAST(SUM(e.cents) AS BIGINT) AS total_cents
FROM closed c
JOIN grp ON grp.state_key = c.state_key AND grp.g = c.g
JOIN ev e ON e.state_key = c.state_key AND e.d = grp.d
GROUP BY c.state_key, c.session_start, c.session_end
"""


# ---------------------------------------------------------------- s16

_S16_DELAY_DAYS = 2


def s16_stream_dedup_expiry(spark: SparkSession, sf: str) -> DataFrame:
    """dropDuplicatesWithinWatermark STATE-EXPIRY semantics, gated. s04
    pins plain streaming dedup (infinite state, nothing re-emits); this
    pins the bounded-state variant every 100 TB deployment actually
    runs: a key's dedup state lives only `delay` past its FIRST event,
    so a key re-appearing after expiry is EMITTED AGAIN — that
    re-emission (exactly-once only within the horizon, at-least-once
    beyond it) is the contract under test, and what keeps dedup state
    finite at scale.

    Timing rule, pinned empirically on this engine (prototype in this
    round's notes; same one-batch watermark lag as s13/s14):

      - eviction watermark before batch i = max event time over batches
        < i, minus delay;
      - a key's state expires when that watermark STRICTLY exceeds
        first_event_time + delay (dropped duplicates do NOT extend it);
      - so with midnight-aligned day batches, a key last emitted at day
        e re-emits at its first active day d with
        prev_global_day(d) > e + 2*delay.

    The feed is one file per calendar day (mtime-ordered,
    maxFilesPerTrigger=1), each pre-aggregated to one row per
    (state_key, day) so within-batch arrival order can't matter. With
    delay=2 over a 10-day feed a key emits at most twice (a third
    emission needs prev_global_day > day 11 — past the feed), which is
    what lets the oracle replay the rule with two aggregation passes
    instead of a recursive CTE.
    """
    ev = (t(spark, sf, "events")
          .filter(F.col("ts") < F.lit(_TEN_DAY_CUTOFF).cast("timestamp"))
          .select(
              F.concat_ws(":", F.col("user_id").cast("string"),
                          "event_type").alias("state_key"),
              F.date_trunc("day", F.col("ts")).alias("day"), _cents()))
    per = (ev.groupBy("state_key", "day")
           .agg(F.count("*").cast("long").alias("n_events"),
                F.sum("cents").alias("total_cents"))
           .withColumn("dcol", F.date_format("day", "yyyy-MM-dd")))

    with staged_day_stream(per, "s16") as (stream, _):
        out = (stream
               .withWatermark("day", f"{_S16_DELAY_DAYS} days")
               .dropDuplicatesWithinWatermark(["state_key"]))
        return (memory_stream(out, "s16", "append", sf)
                .select("state_key", "day", "n_events", "total_cents")
                .localCheckpoint())


S16_SQL = f"""
WITH ev AS (
  SELECT CAST(user_id AS VARCHAR) || ':' || event_type AS state_key,
         CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         CAST(round(value * 100, 0) AS BIGINT) AS cents
  FROM events WHERE ts < TIMESTAMP '{_TEN_DAY_CUTOFF} 00:00:00'
),
kd AS (
  SELECT state_key, day, CAST(COUNT(*) AS BIGINT) AS n_events,
         CAST(SUM(cents) AS BIGINT) AS total_cents
  FROM ev GROUP BY state_key, day
),
gd AS (
  SELECT day, lag(day) OVER (ORDER BY day) AS prev_day
  FROM (SELECT DISTINCT day FROM kd)
),
kdp AS (SELECT kd.*, gd.prev_day FROM kd JOIN gd USING (day)),
first AS (SELECT state_key, MIN(day) AS d0 FROM kdp GROUP BY state_key),
second AS (
  SELECT k.state_key, MIN(k.day) AS d1
  FROM kdp k JOIN first f USING (state_key)
  WHERE k.prev_day > f.d0 + INTERVAL {2 * _S16_DELAY_DAYS} DAY
  GROUP BY k.state_key
)
SELECT k.state_key, k.day, k.n_events, k.total_cents
FROM kdp k
JOIN first f ON f.state_key = k.state_key
LEFT JOIN second s ON s.state_key = k.state_key
WHERE k.day = f.d0 OR k.day = s.d1
"""


# ---------------------------------------------------------------- s17


def s17_stream_outer_join(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-stream LEFT OUTER interval join, gated — the null-emission
    timing s05's inner join can't see. An outer stream-stream join is
    the production shape of "views that never converted": the engine
    may only emit the null-padded row once the watermark PROVES no
    matching purchase can still arrive, and must never emit it for a
    view whose window the watermark hasn't closed (those stay in state
    — at 100 TB the watermark is the only thing bounding that state).

    Emission rule, pinned empirically (prototype: views at hours 0..19,
    watermark-driving purchase at 20h, 0s delays — exactly views
    0..12 emitted nulls):

      - the global watermark is the MIN over both sides of
        (max event time - that side's delay)
        (spark.sql.streaming.multipleWatermarkPolicy = min, the
        default);
      - an unmatched view emits its null row iff
        view_ts + 6h < final_watermark, STRICT (the boundary view at
        exactly wm - 6h stays in state and never emits);
      - matched rows emit as they match, independent of the rule.

    Views whose window the final no-data batch leaves open simply never
    appear — the restart-from-checkpoint analog of s15's open sessions.
    """
    joined = _view_buy_join(spark, sf, "leftOuter").select(
        F.col("v_user").alias("user_id"), "view_id", "purchase_id",
        "delta_us")
    return memory_stream(joined, "s17", "append", sf).localCheckpoint()


# The batch form of `_view_buy_join` shared by the S17 and S20 oracles:
# the view (`v`) and purchase (`b`) sides, the final watermark (`wm`,
# the MIN over both sides of max event time - 1 min), the matched pairs,
# and (`_UNMATCHED_VIEWS`) the views the watermark has closed unmatched.
# S23 shares the purchase side and watermark (`_BUY_WM_CTES`) and the
# join condition (`_VIEW_BUY_ON`).
_BUY_WM_CTES = """b AS (
  SELECT user_id AS bu, event_id AS purchase_id, ts AS bts
  FROM events WHERE event_type = 'purchase'
),
wm AS (
  SELECT least((SELECT MAX(vts) FROM v), (SELECT MAX(bts) FROM b))
         - INTERVAL 1 MINUTE AS w
)"""
_VIEW_BUY_ON = """  FROM v JOIN b ON v.user_id = b.bu
   AND b.bts >= v.vts AND b.bts <= v.vts + INTERVAL 6 HOUR"""
_VIEW_BUY_CTES = f"""v AS (
  SELECT user_id, event_id AS view_id, ts AS vts
  FROM events WHERE event_type = 'view'
),
{_BUY_WM_CTES},
matched AS (
  SELECT v.user_id, v.view_id, b.purchase_id,
         epoch_us(b.bts) - epoch_us(v.vts) AS delta_us
{_VIEW_BUY_ON}
)"""
_UNMATCHED_VIEWS = """  SELECT v.user_id, v.view_id,
         CAST(NULL AS BIGINT) AS purchase_id,
         CAST(NULL AS BIGINT) AS delta_us
  FROM v, wm
  WHERE v.vts + INTERVAL 6 HOUR < wm.w
    AND NOT EXISTS (
      SELECT 1 FROM b
      WHERE b.bu = v.user_id
        AND b.bts >= v.vts AND b.bts <= v.vts + INTERVAL 6 HOUR)"""

S17_SQL = f"""
WITH {_VIEW_BUY_CTES},
unmatched AS (
{_UNMATCHED_VIEWS}
)
SELECT * FROM matched UNION ALL SELECT * FROM unmatched
"""


def _daily_counts(stream: DataFrame, *aggs: Column) -> DataFrame:
    """(w, event_type, n_events, *aggs): each 1-day event-time window's
    per-type event count and aggs, under a 1 min watermark on ts."""
    return (stream.withWatermark("ts", "1 minute")
            .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
            .agg(F.count("*").cast("long").alias("n_events"), *aggs))


def _daily_cents(stream: DataFrame) -> DataFrame:
    """(day, event_type, n_events, total_cents) of a `_cents()` feed."""
    return (_daily_counts(stream, F.sum("cents").alias("total_cents"))
            .select(F.col("w.start").alias("day"), "event_type",
                    "n_events", "total_cents"))


# The S18/S25 oracle tail: per-type totals of the days of `ev` (day,
# event_type, cents) that the final watermark `wm` has closed.
_CLOSED_DAY_TOTALS = """SELECT e.day, e.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(e.cents) AS BIGINT) AS total_cents
FROM ev e, wm
WHERE e.day + INTERVAL 1 DAY <= wm.w
GROUP BY e.day, e.event_type
"""


# ---------------------------------------------------------------- s18


def s18_stream_checkpoint_resume(spark: SparkSession, sf: str) -> DataFrame:
    """CHECKPOINT RECOVERY exactly-once, gated — the property every
    other s-query assumes and none exercises: state surviving a full
    query restart. The stream runs TWICE against the same checkpoint
    and file sink: run 1 sees days 1-5 of the feed, terminates
    (availableNow), run 2 starts a NEW streaming query from the same
    checkpoint with days 6-10 added.

    What the single gated output proves:
      - no replay: run 2's source starts from the checkpointed file
        offset — if days 1-5 were re-read, their window counts double;
      - no state loss: day 5's window is OPEN when run 1 ends (its end
        lies past run 1's watermark) — its correct counts exist only in
        recovered state, and emit in run 2 when day-6 data closes it;
      - exactly-once sink: the file sink's transaction log must commit
        each batch once across the restart boundary.
    Day 10's window out-lives the final watermark and never appears
    (s15's open-session discipline).

    Oracle: the batch per-day aggregate restricted to windows whose end
    <= final watermark (max event time - 1 min) — days 1..9 on this
    feed.
    """
    ev = _ten_day_feed(spark, sf, "ts", "event_type", _cents())
    with tempfile.TemporaryDirectory(
            prefix="s18_", ignore_cleanup_errors=True) as work:
        arrivals = stage_day_files(ev, work)
        # run 1 sees days 1-5: hold days 6-10 back (a rename keeps their
        # mtimes, so they still arrive after days 1-5)
        held = os.path.join(work, "held")
        os.makedirs(held)
        late = sorted(os.listdir(arrivals))[5:]
        for f in late:
            os.replace(os.path.join(arrivals, f), os.path.join(held, f))
        stream = day_file_stream(spark, arrivals)
        agg = _daily_cents(stream)
        sink = os.path.join(work, "sink")
        writer = (agg.writeStream.outputMode("append").format("parquet")
                  .option("path", sink)
                  .option("checkpointLocation", os.path.join(work, "ckpt")))
        with stream_state_partitions(spark, sf):
            finish_stream(writer, "s18 run 1")   # days 1-5, then terminate
            for f in late:
                os.replace(os.path.join(held, f), os.path.join(arrivals, f))
            finish_stream(writer, "s18 run 2")   # resume from checkpoint
        return (spark.read.parquet(sink)
                .select("day", "event_type", "n_events", "total_cents")
                .localCheckpoint())


S18_SQL = f"""
WITH ev AS (
  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
         CAST(round(value * 100, 0) AS BIGINT) AS cents, ts
  FROM events WHERE ts < TIMESTAMP '{_TEN_DAY_CUTOFF} 00:00:00'
),
wm AS (SELECT MAX(ts) - INTERVAL 1 MINUTE AS w FROM ev)
{_CLOSED_DAY_TOTALS}"""


# ---------------------------------------------------------------- s19


def s19_stream_chained_aggs(spark: SparkSession, sf: str) -> DataFrame:
    """CHAINED streaming aggregations (multiple stateful operators in one
    query, Spark 3.4+): an hourly windowed aggregate feeding a daily
    windowed aggregate over `window_time` — the streaming form of every
    warehouse's rollup cascade (raw -> hourly -> daily), run as ONE
    query so the hourly tier never lands on storage.

    What the chain adds over s01's single agg: the daily operator's
    input is the hourly operator's APPEND output, so correctness needs
    (a) the hourly tier to emit each hour exactly once as the watermark
    closes it, and (b) the daily tier to treat those emissions as event
    time (`window_time(hw)`) under the SAME watermark. `n_hours` — the
    count of hourly rows absorbed per day — is the witness that the
    intermediate tier really existed (a single-agg rewrite can't
    produce it without a second shuffle over raw rows; here the daily
    state sees only ~24 rows/key/day regardless of raw volume — the
    100 TB argument for chaining inside the engine).

    Emission, pinned by prototype (day-batched feed, availableNow, same
    one-batch watermark lag as s13-s18): a daily window emits iff
    day_end <= final watermark (max event ts - 1 min); day-aligned
    windows mean every hourly window inside an emitted day has closed
    too, so the gated output equals the batch rollup over days 1..9 and
    the last day stays open (s15's open-session discipline).
    """
    feed = _ten_day_feed(spark, sf, "ts", "event_type", _cents())
    with staged_day_stream(feed, "s19") as (stream, _):
        hourly = (stream.withWatermark("ts", "1 minute")
                  .groupBy(F.window("ts", "1 hour").alias("hw"), "event_type")
                  .agg(F.count("*").cast("long").alias("n_events"),
                       F.sum("cents").alias("cents")))
        daily = (hourly
                 .groupBy(F.window(F.window_time("hw"), "1 day").alias("dw"),
                          "event_type")
                 .agg(F.count("*").cast("long").alias("n_hours"),
                      F.sum("n_events").cast("long").alias("n_events"),
                      F.sum("cents").cast("long").alias("total_cents"))
                 .select(F.col("dw.start").alias("day"), "event_type",
                         "n_hours", "n_events", "total_cents"))
        return memory_stream(daily, "s19", "append", sf).localCheckpoint()


S19_SQL = f"""
WITH ev AS (
  SELECT date_trunc('day', ts) AS day, date_trunc('hour', ts) AS hr,
         event_type, CAST(round(value * 100, 0) AS BIGINT) AS cents, ts
  FROM events WHERE ts < TIMESTAMP '{_TEN_DAY_CUTOFF} 00:00:00'
),
wm AS (SELECT MAX(ts) - INTERVAL 1 MINUTE AS w FROM ev),
hourly AS (
  SELECT day, hr, event_type, COUNT(*) AS n_events, SUM(cents) AS cents
  FROM ev GROUP BY day, hr, event_type
)
SELECT CAST(h.day AS TIMESTAMP) AS day, h.event_type,
       CAST(COUNT(*) AS BIGINT) AS n_hours,
       CAST(SUM(h.n_events) AS BIGINT) AS n_events,
       CAST(SUM(h.cents) AS BIGINT) AS total_cents
FROM hourly h, wm
WHERE h.day + INTERVAL 1 DAY <= wm.w
GROUP BY h.day, h.event_type
"""


# ---------------------------------------------------------------- s20


def s20_stream_full_outer_join(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-stream FULL OUTER interval join — both null-emission rules
    in one gate (s17 pins only the left side). Production meaning: in
    one pass, views that never converted AND purchases with no
    preceding view (direct/attribution-less conversions) — the two
    audit queries every funnel pipeline runs, emitted from one join
    state instead of two scans.

    Emission rules, pinned by prototype (synthetic boundary feed,
    availableNow, one-batch watermark lag; final watermark = MIN over
    both sides of max event ts - 1 min):

      - matched rows emit as they match (independent of watermark);
      - an unmatched VIEW emits its null row iff
        view_ts + 6h < wm, STRICT (s17's rule — the boundary view at
        exactly wm - 6h stays in state);
      - an unmatched PURCHASE emits its null row iff buy_ts < wm,
        STRICT (pinned: buys at wm-2h/wm-1h emitted, the buy at
        exactly wm held) — its match window is views in
        [buy_ts - 6h, buy_ts], so eviction needs only the watermark to
        pass buy_ts itself, not the 6h horizon.

    Rows the final no-data batch leaves open never appear — at 100 TB
    the watermark is the only bound on both sides' join state.
    """
    joined = _view_buy_join(spark, sf, "fullOuter").select(
        F.coalesce("v_user", "b_user").alias("user_id"),
        "view_id", "purchase_id", "delta_us")
    return memory_stream(joined, "s20", "append", sf).localCheckpoint()


S20_SQL = f"""
WITH {_VIEW_BUY_CTES},
unmatched_v AS (
{_UNMATCHED_VIEWS}
),
unmatched_b AS (
  SELECT b.bu AS user_id, CAST(NULL AS BIGINT) AS view_id, b.purchase_id,
         CAST(NULL AS BIGINT) AS delta_us
  FROM b, wm
  WHERE b.bts < wm.w
    AND NOT EXISTS (
      SELECT 1 FROM v
      WHERE v.user_id = b.bu
        AND b.bts >= v.vts AND b.bts <= v.vts + INTERVAL 6 HOUR)
)
SELECT * FROM matched
UNION ALL SELECT * FROM unmatched_v
UNION ALL SELECT * FROM unmatched_b
"""


# ---------------------------------------------------------------- s21


def s21_stream_state_accounting(spark: SparkSession, sf: str) -> DataFrame:
    """STATE-SIZE accounting via StreamingQueryProgress, gated — the
    observability contract capacity planning runs on: after an
    availableNow run of a day-windowed aggregate, the state store must
    hold EXACTLY the open windows (groups whose window end outlives the
    final watermark) and the sink exactly the closed ones. At 100 TB
    `numRowsTotal` is the number you alert on — if eviction lags the
    watermark (state leak) or runs ahead of it (dropped results), this
    gate diverges from the oracle's open/closed split.

    Pinned by prototype: the final no-data batch evicts every closed
    window it emits, so lastProgress.stateOperators[0].numRowsTotal ==
    open (day x event_type) groups; emitted sink rows == closed groups.
    (RocksDB and HDFS providers agree — provider-independence is the
    same claim tests/test_streaming_rocksdb.py pins for the s-family.)
    """
    feed = _ten_day_feed(spark, sf, "ts", "event_type")
    with staged_day_stream(feed, "s21") as (stream, _):
        agg = _daily_counts(stream)
        name = sink_name("s21", sf)
        # track_rows: this query GATES numRowsTotal — keep the exact
        # state-row metric despite its per-commit counting cost
        with stream_state_partitions(spark, sf, track_rows=True):
            q = finish_stream(agg.writeStream.outputMode("append")
                              .format("memory").queryName(name), name)
        state_rows = next(
            (int(p["stateOperators"][0]["numRowsTotal"])
             for p in reversed(q.recentProgress) if p["stateOperators"]),
            None)
        emitted = spark.table(name).count()
        return spark.createDataFrame(
            [(state_rows, emitted)],
            "n_open_state_rows long, n_closed_emitted long")


S21_SQL = f"""
WITH ev AS (
  SELECT date_trunc('day', ts) AS day, event_type, ts
  FROM events WHERE ts < TIMESTAMP '{_TEN_DAY_CUTOFF} 00:00:00'
),
wm AS (SELECT MAX(ts) - INTERVAL 1 MINUTE AS w FROM ev),
groups AS (SELECT DISTINCT day, event_type FROM ev)
SELECT
  CAST((SELECT COUNT(*) FROM groups g, wm
        WHERE g.day + INTERVAL 1 DAY > wm.w) AS BIGINT)
    AS n_open_state_rows,
  CAST((SELECT COUNT(*) FROM groups g, wm
        WHERE g.day + INTERVAL 1 DAY <= wm.w) AS BIGINT)
    AS n_closed_emitted
"""


# ---------------------------------------------------------------- s22


def s22_stream_update_mode(spark: SparkSession, sf: str) -> DataFrame:
    """UPDATE output mode, gated — every other s-query appends; update
    mode is the dashboard-serving contract (upsert the changed keys
    each micro-batch, emit nothing for quiet keys). The foreachBatch
    sink records per-batch emissions; the gate pins, per key:

      - n_updates: the number of batches that emitted the key — update
        mode must emit a key exactly in the batches where its aggregate
        CHANGED (here: the days the key received events, under the
        deterministic one-file-per-day feed), never in quiet batches
        and never in the final no-data batch (an unwatermarked groupBy
        holds state but has nothing new to say);
      - the final emitted values, which must equal the batch aggregate
        (the last upsert a downstream store would hold).

    An engine that re-emitted all keys every batch (complete-mode
    semantics leaking into update) or missed a changed key diverges in
    n_updates; a state bug diverges in the finals."""
    feed = _ten_day_feed(spark, sf, "ts",
                         (F.col("user_id") % 10).alias("bucket"), _cents())
    with staged_day_stream(feed, "s22") as (stream, _):
        agg = (stream.groupBy("bucket")
               .agg(F.count("*").cast("long").alias("n_events"),
                    F.sum("cents").alias("total_cents")))
        emissions: list[tuple] = []

        def sink(batch_df, batch_id):
            # the ONLY collect() in the package: a foreachBatch RECORDER
            # for the emission-timing gate, bounded at |keys| = 10 rows
            # per batch by construction (user_id % 10) — it observes the
            # sink protocol, it is not on any data path
            emissions.extend(
                (r["bucket"], r["n_events"], r["total_cents"])
                for r in batch_df.collect())

        with stream_state_partitions(spark, sf):
            finish_stream(agg.writeStream.outputMode("update")
                          .foreachBatch(sink), "s22")
        # per key: emission count + the last (= largest n_events) upsert
        per_key: dict[int, tuple[int, int, int]] = {}
        for bucket, n, tc in emissions:  # batches arrive in order
            prev = per_key.get(bucket)
            per_key[bucket] = (prev[0] + 1 if prev else 1, n, tc)
        return spark.createDataFrame(
            [(b, c, n, tc) for b, (c, n, tc) in sorted(per_key.items())],
            "bucket long, n_updates long, n_events long, total_cents long")


S22_SQL = f"""
SELECT user_id % 10 AS bucket,
       CAST(COUNT(DISTINCT date_trunc('day', ts)) AS BIGINT) AS n_updates,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM events WHERE ts < TIMESTAMP '{_TEN_DAY_CUTOFF} 00:00:00'
GROUP BY user_id % 10
"""


# ---------------------------------------------------------------- s23


def s23_stream_join_then_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Stream-stream JOIN chained into a windowed AGGREGATE — the other
    multiple-stateful-operator shape next to s19's agg-over-agg (Spark
    3.4+): per-day conversion counts computed stream-side from the
    view->purchase interval join, one query, the joined stream never
    lands on storage. This is the production funnel metric: at 100 TB
    you cannot materialize the joined stream and re-aggregate it
    batch-side every day; the chain keeps join state bounded by the
    watermark AND aggregation state bounded to open windows.

    Semantics under gate (pinned by prototype): the join emits matches
    as both sides arrive; the downstream day window on `buy_ts` (the
    event-time column that survives the join with its watermark) emits
    iff day_end <= final watermark, where the final watermark is the
    MIN over both input sides of (max event ts - 1 min). The oracle is
    the batch join + the same window cutoff — equality proves the
    propagated watermark closed exactly the right windows through TWO
    stateful operators."""
    daily = (_view_buy_join(spark, sf, "inner")
             .groupBy(F.window("buy_ts", "1 day").alias("w"))
             .agg(F.count("*").cast("long").alias("n_conversions"),
                  F.sum("purchase_id").cast("long").alias("pid_checksum"))
             .select(F.col("w.start").alias("day"), "n_conversions",
                     "pid_checksum"))
    return memory_stream(daily, "s23", "append", sf).localCheckpoint()


S23_SQL = f"""
WITH v AS (
  SELECT user_id, ts AS vts FROM events WHERE event_type = 'view'
),
{_BUY_WM_CTES},
m AS (
  SELECT b.purchase_id, CAST(date_trunc('day', b.bts) AS TIMESTAMP) AS day
{_VIEW_BUY_ON}
)
SELECT m.day, CAST(COUNT(*) AS BIGINT) AS n_conversions,
       CAST(SUM(m.purchase_id) AS BIGINT) AS pid_checksum
FROM m, wm WHERE m.day + INTERVAL 1 DAY <= wm.w
GROUP BY m.day
"""


# ---------------------------------------------------------------- s24


def s24_watermark_policy_max(spark: SparkSession, sf: str) -> DataFrame:
    """multipleWatermarkPolicy = MAX, gated — the operational knob whose
    cost is DATA LOSS, pinned so it's never a surprise: with one side
    of a stream-stream join far ahead (here: the purchases feed arrives
    complete in batch 0 while views trickle one day-file per batch),
    the max policy advances the global watermark to the FAST side's
    horizon, and every later view batch is late-filtered wholesale.
    The default min policy (s17/s20) waits for the slowest side and
    loses nothing — max trades completeness for state eviction, which
    is sometimes right (bounded state over a chronically-lagging
    side) but only if you can predict exactly what is lost. This gate
    is that prediction.

    Pinned by prototype: watermark stats propagate with a TWO-batch
    effective lag under availableNow (the filter for batch i uses the
    watermark derived from stats through batch i-2; batch 0 and 1 see
    wm=0), so exactly the views of the two earliest day-files survive —
    days 1-2 join against the full purchase table (all in state from
    batch 0), unmatched ones null-emit (the final watermark sits at the
    purchase horizon, far past every surviving view's window).

    The oracle restricts the batch left join to views of the two
    earliest days — if the policy, the lag, or the late filter moved,
    the surviving-day set changes and the gate diverges."""
    ev = (t(spark, sf, "events")
          .filter(F.col("ts") < F.lit(_TEN_DAY_CUTOFF).cast("timestamp")))
    views = (ev.filter(F.col("event_type") == "view")
             .select(F.col("user_id").alias("v_user"),
                     F.col("event_id").alias("view_id"),
                     F.col("ts").alias("view_ts"),
                     F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd")
                     .alias("dcol")))
    buys = (ev.filter(F.col("event_type") == "purchase")
            .select(F.col("user_id").alias("b_user"),
                    F.col("event_id").alias("purchase_id"),
                    F.col("ts").alias("buy_ts")))

    policy_key = "spark.sql.streaming.multipleWatermarkPolicy"
    with staged_day_stream(views, "s24") as (sv, work):
        bdir = os.path.join(work, "buys")
        # repartition(1), not coalesce(1): coalesce collapses the whole
        # events scan+filter into ONE task; the exchange keeps the scan
        # parallel and only the (single-file) write runs on one task.
        # All buys files land in micro-batch 0 either way (no
        # maxFilesPerTrigger on this source), so one file stays the
        # deterministic choice. (optimization r12)
        buys.repartition(1).write.mode("overwrite").parquet(bdir)

        with scoped_conf(spark, policy_key, "max"):
            pb = spark.read.parquet(bdir)
            sv = sv.drop("dcol").withWatermark("view_ts", "1 minute")
            sb = (spark.readStream.schema(pb.schema).parquet(bdir)
                  .withWatermark("buy_ts", "1 minute"))
            joined = (sv.join(
                sb,
                F.expr("""v_user = b_user
                          AND buy_ts >= view_ts
                          AND buy_ts <= view_ts + interval 6 hours"""),
                "leftOuter")
                .select(F.col("v_user").alias("user_id"), "view_id",
                        "purchase_id",
                        (F.unix_micros("buy_ts") - F.unix_micros("view_ts"))
                        .alias("delta_us")))
            return memory_stream(joined, "s24", "append", sf).localCheckpoint()


S24_SQL = f"""
WITH v0 AS (
  SELECT user_id, event_id AS view_id, ts AS vts,
         date_trunc('day', ts) AS vday
  FROM events
  WHERE event_type = 'view' AND ts < TIMESTAMP '{_TEN_DAY_CUTOFF} 00:00:00'
),
keep_days AS (
  SELECT DISTINCT vday FROM v0 ORDER BY vday LIMIT 2
),
v AS (SELECT * FROM v0 WHERE vday IN (SELECT vday FROM keep_days)),
b AS (
  SELECT user_id AS bu, event_id AS purchase_id, ts AS bts
  FROM events
  WHERE event_type = 'purchase' AND ts < TIMESTAMP '{_TEN_DAY_CUTOFF} 00:00:00'
)
SELECT v.user_id, v.view_id, b.purchase_id,
       epoch_us(b.bts) - epoch_us(v.vts) AS delta_us
FROM v LEFT JOIN b ON v.user_id = b.bu
   AND b.bts >= v.vts AND b.bts <= v.vts + INTERVAL 6 HOUR
"""


# ---------------------------------------------------------------- s25


def s25_stream_dedup_then_agg(spark: SparkSession, sf: str) -> DataFrame:
    """Streaming DEDUP chained into a windowed aggregate — the third
    multi-stateful combination (s19 agg->agg, s23 join->agg): an
    at-least-once feed (every day-file arrives TWICE, in consecutive
    batches — the redelivery pattern of any retrying ingest) passes
    through dropDuplicatesWithinWatermark before the daily rollup, one
    query. The aggregate must count every event exactly once: the
    dedup operator absorbs the second delivery (within the 2-day
    horizon by construction), and the downstream day window emits
    under the usual cutoff. The oracle is the batch DISTINCT rollup
    with the window rule — equality proves redelivery changed nothing,
    which is the exactly-once-from-at-least-once contract production
    feeds rely on (upstream replays being absorbed by keyed dedup
    state bounded by the watermark, not by an unbounded seen-set)."""
    feed = _ten_day_feed(spark, sf, "event_id", "ts", "event_type", _cents())
    # each day delivered twice, back to back (redelivery feed)
    with staged_day_stream(feed, "s25", repeats=2) as (stream, _):
        deduped = (stream.withWatermark("ts", "2 days")
                   .dropDuplicatesWithinWatermark(["event_id"]))
        daily = (deduped
                 .groupBy(F.window("ts", "1 day").alias("w"), "event_type")
                 .agg(F.count("*").cast("long").alias("n_events"),
                      F.sum("cents").cast("long").alias("total_cents"))
                 .select(F.col("w.start").alias("day"), "event_type",
                         "n_events", "total_cents"))
        return memory_stream(daily, "s25", "append", sf).localCheckpoint()


S25_SQL = f"""
WITH ev AS (
  SELECT DISTINCT event_id, CAST(date_trunc('day', ts) AS TIMESTAMP) AS day,
         event_type, CAST(round(value * 100, 0) AS BIGINT) AS cents, ts
  FROM events WHERE ts < TIMESTAMP '{_TEN_DAY_CUTOFF} 00:00:00'
),
wm AS (SELECT MAX(ts) - INTERVAL 2 DAY AS w FROM ev)
{_CLOSED_DAY_TOTALS}"""


# ---------------------------------------------------------------- s26


def s26_state_datasource(spark: SparkSession, sf: str) -> DataFrame:
    """STATE INTROSPECTION via the state data source (new in Spark 4):
    after an availableNow run of the day-windowed aggregate, read the
    checkpoint's state store back as a BATCH DataFrame
    (`spark.read.format("statestore")`) and gate its CONTENTS — the
    actual buffered (window, event_type) partial aggregates — not just
    the row count s21 pins from progress metrics. This is the
    operational surface that matters at 100 TB: inspecting or
    repairing a streaming job's state without replaying the stream
    (the offline half of state management; the online half is the
    job itself).

    Prediction (s21's pinned eviction semantics): after the final
    no-data batch, state holds exactly the OPEN windows — groups whose
    window end outlives the end-of-stream watermark (max ts - delay) —
    and since end-of-stream means every event has arrived, each open
    window's buffered partial aggregate equals the full batch count of
    its group. The state reader runs under the same provider conf as
    the write (RocksDB by default), exercising the provider round-trip.
    """
    feed = _ten_day_feed(spark, sf, "ts", "event_type")
    with staged_day_stream(feed, "s26") as (stream, work):
        agg = _daily_counts(stream)
        ckpt = os.path.join(work, "ckpt")
        with stream_state_partitions(spark, sf):
            finish_stream(agg.writeStream.outputMode("append").format("noop")
                          .option("checkpointLocation", ckpt), "s26")
            # Read under the SAME provider conf the write used — the
            # reader materializes the store files, not the progress API.
            state = (spark.read.format("statestore").load(ckpt)
                     .select(
                         F.col("key.window.start").alias("w_start"),
                         F.col("key.event_type").alias("event_type"),
                         # state schema keeps the physical aggregate
                         # name (`count`), not the query alias
                         F.col("value.count").cast("long")
                         .alias("n_events"))
                     .localCheckpoint())
        return state


S26_SQL = f"""
WITH ev AS (
  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS w_start,
         event_type, ts
  FROM events WHERE ts < TIMESTAMP '{_TEN_DAY_CUTOFF} 00:00:00'
),
wm AS (SELECT MAX(ts) - INTERVAL 1 MINUTE AS w FROM ev)
SELECT w_start, event_type, CAST(COUNT(*) AS BIGINT) AS n_events
FROM ev, wm
GROUP BY w_start, event_type, wm.w
HAVING w_start + INTERVAL 1 DAY > wm.w
"""


# ---------------------------------------------------------------- s27/s28

# the state change feed reads per-batch changelogs, which RocksDB writes
# only under changelog checkpointing (see s27)
_CHANGELOG_KEY = ("spark.sql.streaming.stateStore.rocksdb."
                  "changelogCheckpointing.enabled")


def s27_state_changefeed(spark: SparkSession, sf: str) -> DataFrame:
    """State CHANGE FEED introspection (`readChangeFeed` on the state
    data source, native in this Spark 4.1 build — found by the round-6
    probe): after the availableNow day-windowed run, read every state
    transition the job ever committed — (batch_id, change_type, key,
    value) — and gate the per-key LIFECYCLE: in which batch each
    (day, event_type) group was first written, how many times it was
    rewritten, the final buffered aggregate, and whether the watermark
    evicted it. s26 snapshots the END state (open windows only); this
    reads the state's HISTORY, the primitive for debugging watermark
    bugs and sizing state churn (how many keys rewrite per batch =
    changelog volume a RocksDB-changelog checkpoint would upload).

    The feed's determinism comes from the arrival discipline: one file
    per day in mtime order + maxFilesPerTrigger=1 means day i's groups
    are touched exactly once, in batch i — so first_update_batch equals
    the day index and n_updates is 1, both oracle-computable. Evicted
    == NOT open, the exact complement of s26's HAVING clause. The state
    key keeps PHYSICAL names (`window`, `count`), read under the same
    provider conf as the write (s26's lessons).

    Found by this query: the change feed replays per-batch CHANGELOGS,
    which the RocksDB provider only writes under changelog
    checkpointing — so that knob is not just an upload-cost dial (the
    ~sf1 negative result in SCALE.md), it is a PREREQUISITE for change
    feed introspection. Scoped on here for the run + read.
    """
    feed = _ten_day_feed(spark, sf, "ts", "event_type", _cents())
    with staged_day_stream(feed, "s27") as (stream, work):
        agg = _daily_counts(stream)
        ckpt = os.path.join(work, "ckpt")
        with stream_state_partitions(spark, sf), \
                scoped_conf(spark, _CHANGELOG_KEY, "true"):
            finish_stream(agg.writeStream.outputMode("append").format("noop")
                          .option("checkpointLocation", ckpt), "s27")
            feed = (spark.read.format("statestore")
                    .option("readChangeFeed", "true")
                    .option("changeStartBatchId", "0")
                    .load(ckpt)
                    .localCheckpoint())
        upd = F.col("change_type") == "update"
        return (feed.groupBy(
            F.col("key.window.start").alias("day"),
            F.col("key.event_type").alias("event_type"))
            .agg(F.min(F.when(upd, F.col("batch_id"))).cast("long")
                 .alias("first_update_batch"),
                 F.sum(F.when(upd, 1).otherwise(0)).cast("long")
                 .alias("n_updates"),
                 F.max(F.when(upd, F.col("value.count"))).cast("long")
                 .alias("n_events"),
                 F.bool_or(F.col("change_type") == "delete")
                 .alias("evicted")))


# The batch form of the s27-s29 stream: the ten-day feed's events at
# their day (`ev`), the end-of-stream watermark (`wm`) and each day's
# micro-batch index (`idx`, one file per day).
_DAY_BATCH_CTES = f"""ev AS (
  SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type, ts
  FROM events WHERE ts < TIMESTAMP '{_TEN_DAY_CUTOFF} 00:00:00'
),
wm AS (SELECT MAX(ts) - INTERVAL 1 MINUTE AS w FROM ev),
idx AS (
  SELECT day, CAST(dense_rank() OVER (ORDER BY day) - 1 AS BIGINT) AS di
  FROM (SELECT DISTINCT day FROM ev)
)"""

S27_SQL = f"""
WITH {_DAY_BATCH_CTES}
SELECT e.day, e.event_type,
       i.di AS first_update_batch,
       CAST(1 AS BIGINT) AS n_updates,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       e.day + INTERVAL 1 DAY <= wm.w AS evicted
FROM ev e JOIN idx i ON i.day = e.day, wm
GROUP BY e.day, e.event_type, i.di, wm.w
"""


def s28_foreachbatch_idempotent(spark: SparkSession, sf: str) -> DataFrame:
    """EXACTLY-ONCE custom sink under retry: the foreachBatch +
    batch-id-keyed overwrite pattern — the one streaming sink discipline
    the battery hadn't gated (s18 proves the FILE sink's transaction
    log; this proves the pattern for sinks with NO transaction log,
    which is how Structured Streaming writes to JDBC/KV stores in
    production: make the write a deterministic function of batch_id and
    OVERWRITE, so redelivery after a commit-ack failure is harmless).

    Each update-mode micro-batch lands in its own batch_id-keyed
    directory, then the writer immediately re-applies itself (the
    simulated redelivery — same frame, same batch_id). Read-back then
    RAISES if any (batch_id, key) landed more than once (an append-mode
    sink would double every retried batch); the gated answer takes each
    key's value at its max batch_id — equal to the plain batch
    aggregate, because update mode emits a key's latest running value
    whenever it changes and day d's count is complete within batch d.

    Scale shape: per batch one overwrite of the changed keys only
    (update mode), partitioned by the stream's shuffle partitioning; the
    read-back dedup check groups on (batch, key) — bench-scale bounded,
    and on a cluster it is the sink's own primary-key constraint.
    """
    feed = _ten_day_feed(spark, sf, "ts", "event_type", _cents())
    with staged_day_stream(feed, "s28") as (stream, work):
        agg = _daily_cents(stream)
        sink = os.path.join(work, "sink")
        ckpt = os.path.join(work, "ckpt")

        def write_batch(bdf: DataFrame, bid: int) -> None:
            # persist: a foreachBatch frame re-executes its whole
            # micro-batch plan (state-store pass included) on EVERY
            # action — the standard idiom when a batch is written more
            # than once is to cache it so the redelivery re-applies the
            # same computed rows instead of running the batch twice
            out = bdf.withColumn("batch_id", F.lit(bid).cast("long"))
            out.persist()
            try:
                path = os.path.join(sink, f"b={bid}")
                out.write.mode("overwrite").parquet(path)
                # simulated redelivery: the sink must absorb a full
                # re-apply of the same batch without duplicating
                # (idempotence is the OVERWRITE; append here would
                # double the batch)
                out.write.mode("overwrite").parquet(path)
            finally:
                out.unpersist()

        with stream_state_partitions(spark, sf):
            finish_stream(agg.writeStream.outputMode("update")
                          .foreachBatch(write_batch)
                          .option("checkpointLocation", ckpt), "s28")
        parts = [os.path.join(sink, d) for d in sorted(os.listdir(sink))]
        parts = [p for p in parts
                 if any(f.endswith(".parquet") for f in os.listdir(p))]
        rows = spark.read.parquet(*parts).localCheckpoint()
        dup = (rows.groupBy("batch_id", "day", "event_type")
               .count().filter("count > 1").count())
        if dup:
            raise RuntimeError(
                f"s28: {dup} (batch, key) rows duplicated — the sink is "
                "not idempotent under redelivery")
        w = Window.partitionBy("day", "event_type") \
            .orderBy(F.desc("batch_id"))
        return (rows.withColumn("rn", F.row_number().over(w))
                .filter("rn = 1")
                .select("day", "event_type", "n_events", "total_cents"))


S28_SQL = f"""
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS day, event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(round(value * 100, 0) AS BIGINT)) AS BIGINT)
         AS total_cents
FROM events
WHERE ts < TIMESTAMP '{_TEN_DAY_CUTOFF} 00:00:00'
GROUP BY 1, 2
"""


# ---------------------------------------------------------------- s29


def s29_changefeed_metrics_reconcile(spark: SparkSession,
                                     sf: str) -> DataFrame:
    """Two independent engine channels, one SQL truth: the per-batch
    state-churn LEDGER from the change feed (s27's source) reconciled
    against the progress-metrics API (s21's source,
    `stateOperators[].numRowsUpdated/numRowsRemoved`). A state-store
    capacity model is only trustworthy if the metrics a dashboard
    scrapes agree with what the store actually committed — this gates
    that agreement row by row, and gates BOTH against the oracle's
    arithmetic (keys touched per day-batch; windows evictable at
    end of stream).

    Output: one row per file batch with the update count from each
    channel, plus the stream-total delete/remove counts from each
    channel (eviction BATCH ids are machinery timing — the totals are
    the data-determined invariant). All four channels must equal the
    oracle's counts, which are plain GROUP BYs over the staged feed.
    """
    feed = _ten_day_feed(spark, sf, "ts", "event_type", _cents())
    with staged_day_stream(feed, "s29") as (stream, work):
        n_days = len(os.listdir(os.path.join(work, "arrivals")))
        agg = _daily_counts(stream)
        ckpt = os.path.join(work, "ckpt")
        # track_rows: the reconcile gate reads numRowsUpdated/Removed;
        # keep row tracking exact rather than relying on the untracked
        # fast path's metric semantics
        with stream_state_partitions(spark, sf, track_rows=True), \
                scoped_conf(spark, _CHANGELOG_KEY, "true"):
            q = finish_stream(agg.writeStream.outputMode("append")
                              .format("noop")
                              .option("checkpointLocation", ckpt), "s29")
            progress = [p for p in q.recentProgress if p is not None]
            feed = (spark.read.format("statestore")
                    .option("readChangeFeed", "true")
                    .option("changeStartBatchId", "0")
                    .load(ckpt)
                    .select("batch_id", "change_type")
                    .localCheckpoint())

        metrics = {}
        removed_total = 0
        for p in progress:
            ops = p.get("stateOperators") or []
            if not ops:
                continue
            metrics[int(p["batchId"])] = int(ops[0]["numRowsUpdated"])
            removed_total += int(ops[0]["numRowsRemoved"])
        mrows = [(b, n) for b, n in sorted(metrics.items()) if b < n_days]
        mdf = spark.createDataFrame(
            mrows, "batch_id long, metric_updates long")

        upd = F.col("change_type") == "update"
        fdf = (feed.filter(F.col("batch_id") < n_days)
               .groupBy("batch_id")
               .agg(F.sum(F.when(upd, 1).otherwise(0)).cast("long")
                    .alias("feed_updates")))
        feed_deletes = (feed.filter(F.col("change_type") == "delete")
                        .count())
        return (fdf.join(mdf, "batch_id")
                .withColumn("total_feed_deletes",
                            F.lit(feed_deletes).cast("long"))
                .withColumn("total_metric_removed",
                            F.lit(removed_total).cast("long"))
                .orderBy("batch_id"))


S29_SQL = f"""
WITH {_DAY_BATCH_CTES},
keys AS (SELECT DISTINCT day, event_type FROM ev),
closed AS (
  SELECT CAST(COUNT(*) AS BIGINT) AS n
  FROM keys, wm WHERE day + INTERVAL 1 DAY <= wm.w
)
SELECT i.di AS batch_id,
       CAST(COUNT(*) AS BIGINT) AS feed_updates,
       CAST(COUNT(*) AS BIGINT) AS metric_updates,
       (SELECT n FROM closed) AS total_feed_deletes,
       (SELECT n FROM closed) AS total_metric_removed
FROM keys k JOIN idx i ON i.day = k.day
GROUP BY i.di
ORDER BY i.di
"""


# ---------------------------------------------------------------- s30


def s30_stream_variant_ingest(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING ingest of HETEROGENEOUS JSON through the VARIANT type
    (q94's probe find, applied where it earns its keep): five event
    shapes share one feed — nested object (view.meta.ms), flat scalar +
    array-of-objects (purchase.cents/.items), array-of-ints
    (click.depth), string ref (signup.ref), int + bool (error.code/
    .fatal) — and the stream parses each line ONCE into VARIANT, then
    recovers a per-type metric by typed path extraction inside a CASE
    on the discriminator. No per-shape schema, no PERMISSIVE column
    padding (s12's fixed-schema ingest needs every field declared on
    every line; here each shape carries only its own fields — the
    schema-evolution story: a sixth shape tomorrow is a new CASE arm,
    not a reader-schema migration).

    Three text files -> three micro-batches (maxFilesPerTrigger=1);
    complete-mode rollup per type. The oracle recomputes every metric
    straight from the relational columns the JSON was built from, so
    the gate pins the JSON -> VARIANT -> typed-extraction loop lossless
    across micro-batch boundaries.

    Scale shape: parse_json/variant_get are per-row codegen expressions
    (VARIANT parses once into a binary encoding; each extraction is a
    path walk, not a re-parse); state is 5 groups. At 100 TB feed rate
    the cost IS the scan — identical to s12's, with the reader schema
    debt removed.
    """
    ev = t(spark, sf, "events").select("event_id", "event_type", _cents())
    i = F.col("event_id")
    payload = (
        F.when(F.col("event_type") == "view", F.to_json(F.struct(
            F.lit("view").alias("t"), i.alias("id"),
            F.struct(F.col("cents").alias("ms")).alias("meta"))))
        .when(F.col("event_type") == "purchase", F.to_json(F.struct(
            F.lit("purchase").alias("t"), i.alias("id"),
            F.col("cents").alias("cents"),
            F.array(F.struct((i % 5 + 1).alias("q")),
                    F.struct((i % 7 + 1).alias("q"))).alias("items"))))
        .when(F.col("event_type") == "click", F.to_json(F.struct(
            F.lit("click").alias("t"), i.alias("id"),
            F.array((i % 3).cast("long"),
                    (i % 4).cast("long")).alias("depth"))))
        .when(F.col("event_type") == "signup", F.to_json(F.struct(
            F.lit("signup").alias("t"), i.alias("id"),
            F.concat(F.lit("r"), (i % 10).cast("string")).alias("ref"))))
        .otherwise(F.to_json(F.struct(
            F.lit("error").alias("t"), i.alias("id"),
            (i % 503).alias("code"),
            (i % 2 == 0).alias("fatal")))))
    with tempfile.TemporaryDirectory(
            prefix="s30_", ignore_cleanup_errors=True) as work:
        (ev.select(payload.alias("value"))
         .repartitionByRange(3, "event_id")
         .write.mode("overwrite").text(work))
        stream = (spark.readStream
                  .option("maxFilesPerTrigger", "1").text(work))
        vg = "try_variant_get(v, '{p}', 'bigint')"
        parsed = stream.select(F.parse_json(F.col("value")).alias("v"))
        metric = F.expr(
            "CASE variant_get(v, '$.t', 'string') "
            f"WHEN 'view' THEN {vg.format(p='$.meta.ms')} "
            f"WHEN 'purchase' THEN {vg.format(p='$.cents')} "
            f"+ {vg.format(p='$.items[0].q')} + {vg.format(p='$.items[1].q')} "
            f"WHEN 'click' THEN {vg.format(p='$.depth[0]')} "
            f"+ {vg.format(p='$.depth[1]')} "
            "WHEN 'signup' THEN CAST(substring("
            "variant_get(v, '$.ref', 'string'), 2) AS BIGINT) "
            f"ELSE {vg.format(p='$.code')} END")
        flag = F.expr("CASE WHEN try_variant_get(v, '$.fatal', 'boolean') "
                      "THEN 1 ELSE 0 END").cast("long")
        grouped = (parsed.select(
            F.expr("variant_get(v, '$.t', 'string')").alias("grp"),
            metric.alias("metric"), flag.alias("flag"))
            .groupBy("grp")
            .agg(F.count("*").cast("long").alias("n_events"),
                 F.sum("metric").cast("long").alias("sum_metric"),
                 F.sum("flag").cast("long").alias("n_fatal")))
        return memory_stream(grouped, "s30", "complete", sf).localCheckpoint()


S30_SQL = """
SELECT event_type AS grp,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CASE event_type
                WHEN 'view' THEN CAST(round(value * 100, 0) AS BIGINT)
                WHEN 'purchase' THEN CAST(round(value * 100, 0) AS BIGINT)
                     + event_id % 5 + 1 + event_id % 7 + 1
                WHEN 'click' THEN event_id % 3 + event_id % 4
                WHEN 'signup' THEN event_id % 10
                ELSE event_id % 503 END) AS BIGINT) AS sum_metric,
       CAST(SUM(CASE WHEN event_type = 'error' AND event_id % 2 = 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_fatal
FROM events
GROUP BY 1
"""


# ---------------------------------------------------------------- s31


def s31_stream_variant_landing(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING landing of a real semi-structured column through
    `from_json(..., 'variant')` — the round-7 probe finding q94/s30 left
    un-queried. s30 built heterogeneous JSON and parsed it with
    `parse_json`; here the VARIANT conversion happens INSIDE the reader
    expression (`from_json` with the 'variant' target type — the
    PERMISSIVE-into-variant landing pattern), applied to the events
    table's actual `props` JSON column, and the extraction feeds an
    EVENT-TIME windowed aggregate: per (day, event_type), event count,
    the sum of the `$.k` payload field, and the count of rows where a
    missing path extracts NULL (`try_variant_get` — the null path is
    load-bearing: it contributes one per row, so a parse regression
    that nulls whole documents would shift the metric).

    The batch q13 consumes the same column with `get_json_object`
    (re-parses the JSON text per access); the VARIANT landing parses
    once per row into the binary encoding, after which every extraction
    is a path walk — the difference that compounds when one payload
    feeds many metrics.

    Scale shape: parse + extraction are per-row codegen expressions in
    the stream's select; state is (days x event_types) windowed groups
    behind a watermark. At a 100 TB/day feed the cost is the scan plus
    one windowed shuffle — identical to s01's, with the JSON parsing
    folded into the same pass instead of a downstream re-parse job.
    """
    stream = _events_stream(spark, sf)
    parsed = stream.select(
        "ts", "event_type",
        F.expr("from_json(props, 'variant')").alias("v"))
    extracted = parsed.select(
        "ts", "event_type",
        F.expr("variant_get(v, '$.k', 'bigint')").alias("k"),
        F.expr("try_variant_get(v, '$.no_such_key', 'bigint')")
        .alias("absent"))
    agg = (_daily_counts(
        extracted, F.sum("k").cast("long").alias("sum_k"),
        F.sum(F.when(F.col("absent").isNull(), 1).otherwise(0))
        .cast("long").alias("n_missing"))
           .select(F.col("w.start").alias("window_start"),
                   F.col("w.end").alias("window_end"),
                   "event_type", "n_events", "sum_k", "n_missing"))
    return memory_stream(agg, "s31", "complete", sf)


S31_SQL = """
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
       CAST(date_trunc('day', ts) AS TIMESTAMP) + INTERVAL 1 DAY
         AS window_end,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(SUM(CAST(json_extract_string(props, '$.k') AS BIGINT))
            AS BIGINT) AS sum_k,
       CAST(COUNT(*) AS BIGINT) AS n_missing
FROM events
GROUP BY 1, 2, 3
"""


# ---------------------------------------------------------------- s32


def s32_stream_hll_cardinality(spark: SparkSession, sf: str) -> DataFrame:
    """STREAMING distinct-cardinality via native HLL sketch aggregation —
    the streaming leg of the d64/d67 sketch family: per (event-time day,
    event_type), the event count and the distinct user-bucket count,
    where the cardinality state is an `hll_sketch_agg` sketch, not a
    per-key exact-distinct state store.

    This is THE 100-TB streaming-distinct design: an exact streaming
    COUNT(DISTINCT) would carry every seen key in the state store
    (state grows with cardinality, the classic streaming OOM); the HLL
    state is a few KB per group regardless of how many distinct values
    pass, merges associatively across micro-batches and shuffle
    partitions, and the estimate is read once per emitted row. Gate
    exactness: user ids fold into d64's bounded 3000-bucket domain, so
    every sketch stays in its coupon-exact phase (_D67_LGK = 16,
    exact through 8192 — tests/test_round9.py pins the boundary) and
    the oracle pins estimates as plain COUNT(DISTINCT ...). At a real
    100 TB feed you would drop the bucketing and accept the ±0.8%
    HLL error — the plan does not change, only the exactness argument.
    """
    stream = _events_stream(spark, sf)
    bucket = F.expr(md5_bucket_sql("CAST(user_id AS STRING)", _D64_DOMAIN))
    agg = (_daily_counts(
        stream.select("ts", "event_type", bucket.alias("b")),
        F.expr(f"hll_sketch_estimate(hll_sketch_agg(b, {_D67_LGK}))")
        .cast("long").alias("n_user_buckets"))
           .select(F.col("w.start").alias("window_start"),
                   F.col("w.end").alias("window_end"),
                   "event_type", "n_events", "n_user_buckets"))
    return memory_stream(agg, "s32", "complete", sf)


S32_SQL = f"""
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
       CAST(date_trunc('day', ts) AS TIMESTAMP) + INTERVAL 1 DAY
         AS window_end,
       event_type,
       CAST(COUNT(*) AS BIGINT) AS n_events,
       CAST(COUNT(DISTINCT
              CAST('0x' || substring(md5(CAST(user_id AS VARCHAR)), 1, 8)
                   AS BIGINT) % {_D64_DOMAIN}) AS BIGINT)
         AS n_user_buckets
FROM events
GROUP BY 1, 2, 3
"""


# ---------------------------------------------------------------- s33


def s33_stream_json_quarantine(spark: SparkSession, sf: str) -> DataFrame:
    """q101's malformed/json-null/value quarantine routing INSIDE the
    streaming landing path: the same deterministic corruption feeds a
    `try_parse_json` + `is_variant_null` verdict expression in the
    stream's select, and the routing rolls up into event-time day
    windows per verdict — bad payloads are counted and quarantined
    continuously, never thrown (ANSI parse_json would kill the stream
    on the first bad batch; this is the streaming form of the
    reference's error-isolation idiom, CotyData_IPN.py:190,247).

    $.k uses the same regex-gated string extraction as q101 so the
    cross-engine coercion is structural on both sides.

    Scale shape: verdict + extraction are per-row codegen expressions
    in the reader's select (no second pass, no UDF); state is
    (days x verdicts) windowed groups behind a watermark — s31's exact
    state bound with the quarantine verdict as the extra key.
    """
    stream = _events_stream(spark, sf)
    fed = stream.select(
        "ts",
        F.expr("CASE WHEN event_id % 7 = 0 "
               "THEN substring(props, 1, greatest(length(props) - 2, 1)) "
               "WHEN event_id % 7 = 1 THEN 'null' "
               "ELSE props END").alias("payload"))
    parsed = fed.select(
        "ts", F.expr("try_parse_json(payload)").alias("v"))
    k_str = "try_variant_get(v, '$.k', 'string')"
    routed = parsed.select(
        "ts",
        F.when(F.col("v").isNull(), "malformed")
        .when(F.expr("is_variant_null(v)"), "json_null")
        .otherwise("value").alias("verdict"),
        F.expr(f"CASE WHEN {k_str} RLIKE '^-?[0-9]{{1,18}}$' "
               f"THEN CAST({k_str} AS BIGINT) END").alias("k"))
    agg = (routed.withWatermark("ts", "1 minute")
           .groupBy(F.window("ts", "1 day").alias("w"), "verdict")
           .agg(F.count("*").cast("long").alias("n_rows"),
                F.sum(F.coalesce(F.col("k"), F.lit(0))).cast("long")
                .alias("sum_k"))
           .select(F.col("w.start").alias("window_start"),
                   F.col("w.end").alias("window_end"),
                   "verdict", "n_rows", "sum_k"))
    return memory_stream(agg, "s33", "complete", sf)


S33_SQL = """
WITH fed AS (
  SELECT ts,
         CASE WHEN event_id % 7 = 0
              THEN substring(props, 1, greatest(length(props) - 2, 1))
              WHEN event_id % 7 = 1 THEN 'null'
              ELSE props END AS payload
  FROM events
),
v AS (
  SELECT ts,
         CASE WHEN payload IS NULL OR NOT json_valid(payload)
                THEN 'malformed'
              WHEN json_type(CAST(payload AS JSON)) = 'NULL'
                THEN 'json_null'
              ELSE 'value' END AS verdict,
         CASE WHEN payload IS NOT NULL AND json_valid(payload)
                   AND json_type(CAST(payload AS JSON)) != 'NULL'
                   AND regexp_matches(
                         json_extract_string(payload, '$.k'),
                         '^-?[0-9]{1,18}$')
              THEN CAST(json_extract_string(payload, '$.k') AS BIGINT)
              ELSE NULL END AS k
  FROM fed
)
SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS window_start,
       CAST(date_trunc('day', ts) AS TIMESTAMP) + INTERVAL 1 DAY
         AS window_end,
       verdict,
       CAST(COUNT(*) AS BIGINT) AS n_rows,
       CAST(SUM(COALESCE(k, 0)) AS BIGINT) AS sum_k
FROM v
GROUP BY 1, 2, 3
"""


QUERIES = {
    "s01_stream_tumbling": (s01_stream_tumbling, S01_SQL),
    "s02_stream_sessions": (s02_stream_sessions, S02_SQL),
    "s03_stateful_running_totals": (s03_stateful_running_totals,
                                    "SELECT user_id, COUNT(*) AS n_events FROM events GROUP BY user_id"),
    "s04_stream_dedup": (s04_stream_dedup, S04_SQL),
    "s05_stream_stream_join": (s05_stream_stream_join, S05_SQL),
    "s06_cdc_merge": (s06_cdc_merge, S06_SQL),
    "s07_stream_sliding": (s07_stream_sliding, S07_SQL),
    "s08_stream_static_join": (s08_stream_static_join, S08_SQL),
    "s09_stream_hll_users": (s09_stream_hll_users, S09_SQL),
    "s10_stream_topk": (s10_stream_topk, S10_SQL),
    "s11_stream_scd2": (s11_stream_scd2, S11_SQL),
    "s12_stream_jsonl_ingest": (s12_stream_jsonl_ingest, S12_SQL),
    "s13_stream_late_data_drop": (s13_stream_late_data_drop, S13_SQL),
    "s14_stream_ttl_eviction": (s14_stream_ttl_eviction, S14_SQL),
    "s15_stream_session_close": (s15_stream_session_close, S15_SQL),
    "s16_stream_dedup_expiry": (s16_stream_dedup_expiry, S16_SQL),
    "s17_stream_outer_join": (s17_stream_outer_join, S17_SQL),
    "s18_stream_checkpoint_resume": (s18_stream_checkpoint_resume, S18_SQL),
    "s19_stream_chained_aggs": (s19_stream_chained_aggs, S19_SQL),
    "s20_stream_full_outer_join": (s20_stream_full_outer_join, S20_SQL),
    "s21_stream_state_accounting": (s21_stream_state_accounting, S21_SQL),
    "s22_stream_update_mode": (s22_stream_update_mode, S22_SQL),
    "s23_stream_join_then_agg": (s23_stream_join_then_agg, S23_SQL),
    "s24_watermark_policy_max": (s24_watermark_policy_max, S24_SQL),
    "s25_stream_dedup_then_agg": (s25_stream_dedup_then_agg, S25_SQL),
    "s26_state_datasource": (s26_state_datasource, S26_SQL),
    "s27_state_changefeed": (s27_state_changefeed, S27_SQL),
    "s28_foreachbatch_idempotent": (s28_foreachbatch_idempotent, S28_SQL),
    "s29_changefeed_metrics_reconcile": (s29_changefeed_metrics_reconcile,
                                         S29_SQL),
    "s30_stream_variant_ingest": (s30_stream_variant_ingest, S30_SQL),
    "s31_stream_variant_landing": (s31_stream_variant_landing, S31_SQL),
    "s32_stream_hll_cardinality": (s32_stream_hll_cardinality, S32_SQL),
    "s33_stream_json_quarantine": (s33_stream_json_quarantine, S33_SQL),
}
