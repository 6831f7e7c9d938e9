"""Shared helpers for the query surface.

Cross-engine determinism rules used throughout:
- Money/quantity aggregates run over DECIMAL(18,4) and cast the RESULT to
  DOUBLE: decimal arithmetic is exact, so the sum is independent of
  partitioning/order and the final double is bit-identical in any engine.
- Averages are written sum/count on identical operands (never engine AVG,
  whose internal accumulation differs).
- Integer-valued outputs are pinned to BIGINT on both sides (Spark `size`
  is INT, DuckDB `len` is BIGINT — casting removes the schema skew).
"""

from __future__ import annotations

import os
import tempfile
from contextlib import ExitStack, contextmanager

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import DataStreamWriter, StreamingQuery

from etl_docker_spark.catalog import load_table
from etl_docker_spark.session import scoped_conf

# Precision discipline: DECIMAL(12,4) money × DECIMAL(6,4) rate × DECIMAL(6,4)
# rate = scale-12 result under 38 digits in BOTH Spark ((26,12)) and DuckDB
# ((24,12)) — no engine-specific precision-loss rounding ever kicks in.
DEC = "decimal(12,4)"
RATE = "decimal(6,4)"


def dec(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(DEC)


def rate(col: Column | str) -> Column:
    c = F.col(col) if isinstance(col, str) else col
    return c.cast(RATE)


def dsum(col: Column | str) -> Column:
    """Order-insensitive exact sum, surfaced as DOUBLE."""
    return F.sum(dec(col)).cast("double")


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    ensure_session_confs(spark)
    return load_table(spark, sf_dir, name)


_ROCKSDB_PROVIDER = ("org.apache.spark.sql.execution.streaming.state."
                     "RocksDBStateStoreProvider")
# The state-store provider of every gate stream; RocksDB is the only one
# (see `stream_state_partitions`).
_STATE_STORE_PROVIDER = _ROCKSDB_PROVIDER

# Spark 4 writes and verifies a checksum file for every streaming
# checkpoint file (offset log, commit log, state deltas). The gate streams
# checkpoint into a fresh temp dir that is deleted after the run, where
# the checksums are pure per-batch latency (~1.5 s of s14's 16.5 s wall,
# 126 ChecksumCheckpointFileManager threads observed), so they are off
# inside `stream_state_partitions` only; sessions keep Spark's default.
_CHECKPOINT_CHECKSUM = "spark.sql.streaming.checkpoint.fileChecksum.enabled"

# Each micro-batch writes three small checkpoint files (the source's
# file log, the offset log, the commit log). Spark's default checkpoint
# file manager writes them through Hadoop's FileContext, which took ~30
# ms per file on a 4-core host's local disk (s16 at sf0.001: ~1.0 s of
# its ~3.9 s warm run over 11 batches); the FileSystem-based manager
# takes ~9 ms. Its weakness, a check-then-rename that two writers of
# one checkpoint can race, cannot arise in a gate stream: one writer, a
# throwaway checkpoint. So it is set inside `stream_state_partitions`
# only; sessions keep Spark's default.
_CHECKPOINT_FILE_MANAGER = (
    "spark.sql.streaming.checkpointFileManagerClass",
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager")

# Upper bound on one availableNow run of a gate stream.
_STREAM_TIMEOUT_S = 300


def _state_partitions_for(spark: SparkSession, sf: str) -> int:
    """State-store count of a stateful gate stream over corpus `sf`: ~512
    KB of events parquet per store, clamped to [1, cores]. Every
    micro-batch commits each store once, so a gate corpus, whose whole
    state fits in one store, runs one; replicated scale corpora fan the
    state back out (30 stores on 32 cores at ~sf1, SCALE.md)."""
    path = f"{sf}/events.parquet"
    if os.path.isdir(path):
        size = sum(e.stat().st_size for e in os.scandir(path) if e.is_file())
    else:
        size = os.path.getsize(path)
    cores = spark.sparkContext.defaultParallelism
    return max(1, min(cores, size // (512 * 1024)))


@contextmanager
def stream_state_partitions(spark: SparkSession, sf: str,
                            track_rows: bool = False,
                            session_width: bool = False):
    """Scope streaming state-store knobs for a gate query over corpus
    `sf`; each is restored on exit.

    - `spark.sql.shuffle.partitions`: stateful streaming sizes its
      state-store instances to the shuffle-partition count, and every
      micro-batch commits each store once, so the right number tracks
      STATE volume, not CPU count: `_state_partitions_for(spark, sf)`,
      one store for a gate stream, whose state is hundreds of keys. (A
      traced perfbench `stream_microbatch` run, s07 + s16 on 4 cores,
      summed 6.4 s of state commit over 8 stores and 0.79 s over 2.)
      `session_width=True` keeps the session's width (`cores`) instead,
      for two kinds of stream whose work is not sized by state bytes:
      stateless foreachBatch merges (s06, s11), where the knob is only
      the merge's shuffle width and one partition measured no faster,
      and per-key Python stateful operators (s14, s15), whose update fn
      runs once per key per batch over a key population that outnumbers
      cores at every gate size (SCALE.md: at sf0.1 both run 9.2 s on 32
      cores and 11.4-12.9 s on 8).
    - state-store provider: `_STATE_STORE_PROVIDER` (RocksDB). The
      HDFS-backed store keeps every versioned key in JVM heap, which OOMs
      on large state (dedup horizons, stream-stream join buffers);
      RocksDB spills to local disk and bounds heap. Results are
      provider-independent (tests/test_streaming_rocksdb.py), and a
      one-store gate stream ran within noise of it on HDFS (SCALE.md).
      RocksDB changelog checkpointing stays off: it was measured WORSE at
      gate-sized state (SCALE.md); s27/s29 turn it on with `scoped_conf`
      because the state change feed needs it.
    - rocksdb.trackTotalNumberOfRows: OFF unless `track_rows=True`.
      Tracking makes every commit count its rows (extra gets on each
      put/delete); the knob only feeds the `numRowsTotal` progress
      metric, never results. Off is the recommended setting for
      write-heavy state at scale and measured ~25% off s16's wall here
      (13.9 -> 10.3 s at sf0.1, optimization r11). Queries that GATE
      state-size observability (s21 numRowsTotal, s29 changefeed
      reconcile) pass track_rows=True and keep exact metrics.
    - checkpoint file checksums: off (see `_CHECKPOINT_CHECKSUM`).
    - checkpoint file manager: FileSystem-based (see
      `_CHECKPOINT_FILE_MANAGER`).
    """
    n = (spark.sparkContext.defaultParallelism if session_width
         else _state_partitions_for(spark, sf))
    with ExitStack() as scope:
        for key, value in (
                ("spark.sql.shuffle.partitions", str(n)),
                (_CHECKPOINT_CHECKSUM, "false"),
                _CHECKPOINT_FILE_MANAGER,
                ("spark.sql.streaming.stateStore.providerClass",
                 _STATE_STORE_PROVIDER),
                ("spark.sql.streaming.stateStore.rocksdb."
                 "trackTotalNumberOfRows", "true" if track_rows else "false")):
            scope.enter_context(scoped_conf(spark, key, value))
        yield


def finish_stream(run: DataStreamWriter | StreamingQuery,
                  name: str) -> StreamingQuery:
    """Run one gate stream to its end and stop it.

    `run` is a configured writer, started here under an availableNow
    trigger, or a query already started under one. A run that has not
    finished within `_STREAM_TIMEOUT_S` has landed only part of its input,
    so it raises `RuntimeError` naming `name` instead of returning a
    partial sink. The query is stopped either way; its progress
    (`recentProgress`) stays readable."""
    q = run.trigger(availableNow=True).start() \
        if isinstance(run, DataStreamWriter) else run
    try:
        finished = q.awaitTermination(_STREAM_TIMEOUT_S)
    finally:
        q.stop()
    if not finished:
        raise RuntimeError(
            f"{name}: availableNow run did not finish within "
            f"{_STREAM_TIMEOUT_S} s; refusing a partial result")
    return q


def sink_name(query_id: str, sf: str) -> str:
    """The memory-sink table of gate stream `query_id` (e.g. "s01") over
    corpus `sf`: one name per (query, corpus), so runs over different
    corpora in one session never read each other's sink."""
    return f"{query_id}_sink_{abs(hash(sf)) % 10 ** 8}"


def memory_stream(df: DataFrame, query_id: str, mode: str, sf: str,
                  session_width: bool = False) -> DataFrame:
    """Run the streaming frame `df` of gate stream `query_id` over corpus
    `sf` into its memory sink (`sink_name`, output mode `mode`) inside
    `stream_state_partitions`, through `finish_stream`, and return the
    sink's table."""
    name = sink_name(query_id, sf)
    with stream_state_partitions(df.sparkSession, sf,
                                 session_width=session_width):
        finish_stream(df.writeStream.outputMode(mode).format("memory")
                      .queryName(name), name)
    return df.sparkSession.table(name)


def day_file_stream(spark: SparkSession, arrivals: str) -> DataFrame:
    """The day-files `stage_day_files` staged under `arrivals`, as a stream
    that reads one file per micro-batch. The schema comes from a batch
    probe of the staged files."""
    probe = spark.read.parquet(arrivals)
    return (spark.readStream.schema(probe.schema)
            .option("maxFilesPerTrigger", "1").parquet(arrivals))


@contextmanager
def staged_day_stream(df: DataFrame, query_id: str, repeats: int = 1):
    """Stage `df` one file per `dcol` day (`stage_day_files`) in a temp
    work dir that lives for the block, and yield `(stream, work)`: the
    `day_file_stream` over those files and the work dir, where the
    caller keeps its checkpoint and sinks."""
    with tempfile.TemporaryDirectory(
            prefix=f"{query_id}_", ignore_cleanup_errors=True) as work:
        arrivals = stage_day_files(df, work, repeats=repeats)
        yield day_file_stream(df.sparkSession, arrivals), work


def session_conf(spark: SparkSession, key: str, value: str) -> None:
    """The ONE sanctioned path for a session-level (no-restore) conf
    mutation from a query builder, so mutation sites are grep-auditable
    (builders must not call spark.conf.set directly — PLANS.md audits
    this). Legitimate only when the conf is consulted at EXECUTION time
    and the builder returns a lazy frame, so a scoped set-then-restore
    would revert before the action runs. Each call site carries its own
    justification comment."""
    spark.conf.set(key, value)


def ensure_session_confs(spark: SparkSession) -> None:
    """Make queries self-sufficient on a FOREIGN SparkSession (the external
    driver builds its own): nanos-parquet reads and UTC timestamp rendering
    are runtime-settable confs, so pin them here rather than assuming the
    session came from our factory."""
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    spark.conf.set("spark.sql.session.timeZone", "UTC")


def stage_day_files(df: DataFrame, work: str, day_col: str = "dcol",
                    repeats: int = 1) -> str:
    """Stage a frame as ONE parquet file per `day_col` value with
    ascending mtimes under <work>/arrivals, so `maxFilesPerTrigger=1`
    replays it as one deterministic micro-batch per day (file i IS
    batch i). Returns the arrivals dir; `repeats` copies each day-file
    that many consecutive times (the at-least-once redelivery feeds).
    The one day-file stager of the s family; `day_file_stream` reads
    its output back as a stream.

    One-file-per-day comes from `repartition(day_col)`: each day's rows
    land wholly in one task, so each partition DIRECTORY gets exactly
    one file, while distinct days still write in PARALLEL — a
    coalesce(1) serializes the whole feed through a single task (~10 s
    per rep per query at ~sf1, measured). Day-file CONTENT is unchanged
    up to row order, and every consumer aggregates order-insensitively
    within a batch (sums/counts/min/max/dedup-by-key-on-identical-
    payload)."""
    import shutil

    staged = os.path.join(work, "staged")
    df.repartition(F.col(day_col)).write.partitionBy(day_col) \
        .mode("overwrite").parquet(staged)
    arrivals = os.path.join(work, "arrivals")
    os.makedirs(arrivals)
    days = sorted(d for d in os.listdir(staged)
                  if d.startswith(f"{day_col}="))
    seq = 0
    for d in days:
        src_dir = os.path.join(staged, d)
        matches = [f for f in os.listdir(src_dir)
                   if f.endswith(".parquet")]
        if len(matches) != 1:
            # a foreign maxRecordsPerFile (or any future write-path
            # change) splitting a day into multiple files must fail
            # HERE, not as a confusing downstream gate mismatch
            raise RuntimeError(
                f"expected exactly one parquet file in {src_dir}, "
                f"found {matches}")
        for _ in range(repeats):
            dst = os.path.join(arrivals, f"{seq:03d}.parquet")
            shutil.copyfile(os.path.join(src_dir, matches[0]), dst)
            os.utime(dst, (1700000000 + seq * 60,) * 2)
            seq += 1
    return arrivals


# ---------------------------------------------------------------- shared
# Constants and frames used by more than one query family.

# sequential-fold dot product, identical shape to _DOT in plans/e.py — the
# left-to-right fold makes DuckDB bit-match Spark's F.aggregate
_DOT2 = ("list_reduce(list_transform(generate_series(1, len({a})), "
         "i -> CAST({a}[i] AS DOUBLE) * CAST({b}[i] AS DOUBLE)), "
         "(acc, x) -> acc + x)")


_DAY_US = 86_400_000_000


def md5_bucket_sql(col: str, n: int) -> str:
    """Spark SQL for the md5 bucket hash: the first 32 bits of md5(`col`)
    as an integer, mod `n`. The oracles compute the same bucket as
    `CAST('0x' || substring(md5(col), 1, 8) AS BIGINT) % n`."""
    return (f"pmod(CAST(conv(substring(md5({col}), 1, 8), 16, 10) "
            f"AS BIGINT), {n})")


_HLL_M = 64                     # registers (6 bucket bits)
_HLL_RBITS = 54                 # 60-bit hash = 6 bucket + 54 rank bits
_HLL_RHO_MAX = _HLL_RBITS + 1   # rho(0) := 55
# alpha_64 * m^2 * 2^55 as ONE double literal: both engines parse the same
# repr, so the estimators' single double division is IEEE-identical
# cross-engine
_HLL_ALPHA_NUM = repr(0.709 * _HLL_M * _HLL_M * float(2 ** _HLL_RHO_MAX))


def prefix_jaccard_pairs_frame(spark: SparkSession, sf: str) -> DataFrame:
    """Per-session memoized exact-Jaccard pair frame at the default
    t = 1/2 (disk tier keyed on the corpus, like minhash_pairs_frame):
    d47 gates it, d48 re-consumes it for the exact component labeling —
    the shingle+md5 corpus pass and the prefix join run once per
    session instead of once per consumer. Values are deterministic, so
    cached == rebuilt for the gate."""
    from etl_docker_spark.llm.dedup import prefix_filter_jaccard_pairs
    from etl_docker_spark.llm.index_cache import memo_frame

    return memo_frame(
        spark, f"d47_pairs:{sf}",
        lambda: prefix_filter_jaccard_pairs(
            t(spark, sf, "documents"), "doc_id", "text", shingle_n=3),
        sf_dir=sf)


# Shared with D06_SQL (plans/d.py): identical tokenize -> 3-shingle ->
# md5-32 hash pipeline, so the two oracles stay in lockstep by text.
_D47_HASHED_CTES = """
toks AS (
  SELECT doc_id, string_split(text, ' ') AS tk FROM documents
),
sh AS (
  SELECT doc_id,
         list_distinct(list_transform(generate_series(1, greatest(len(tk) - 2, 1)),
                                      i -> array_to_string(tk[i:i+2], ' '))) AS sh
  FROM toks
),
hashed AS (
  SELECT doc_id,
         list_transform(sh, s -> CAST('0x' || substring(md5(s), 1, 8) AS BIGINT)) AS hh
  FROM sh
)"""


# Bounded hash domain: projecting tokens into [0, 3000) caps each
# sketch's distinct count at 3000 < 2^13 (= _D64_LGK) nominal entries,
# so the theta sketches stay in EXACT mode at ANY corpus scale and the
# estimates are integers the oracle reproduces as plain distinct counts
# (the same exact-regime discipline d28 used for its portable HLL). A
# production run sketching RAW token ids instead accepts the
# ~1/sqrt(2^13) = 1.1% relative error — the machinery below is
# identical either way.
_D64_DOMAIN = 3000


# DataSketches HLL stays in its coupon (LIST/SET) phase — where the
# estimate is EXACT — until ~2^(lgK-2) distinct values; probed in this
# build: lgK=16 exact through 8192, lgK=15 drifts at 4096, lgK=14 at
# 3000. The 3000-bucket domain is safely inside lgK=16's exact phase,
# for every per-lang sketch AND every union (unions of coupon sets stay
# coupon sets at <= 3000 distinct), so the oracle pins every estimate
# as a plain COUNT(DISTINCT ...).
_D67_LGK = 16
