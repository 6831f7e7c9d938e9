"""Event-time windowed aggregations (watermarks, tumbling/sliding/session).

Late data: the watermark bounds state; events older than the watermark are
dropped by Spark's streaming engine. On batch frames the same expressions
compute the complete (no-late-data) answer — which is exactly the oracle
for the streaming variant.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def with_watermark(df: DataFrame, ts_col: str = "ts", delay: str = "10 minutes") -> DataFrame:
    """Apply a watermark when streaming; no-op on batch frames."""
    return df.withWatermark(ts_col, delay) if df.isStreaming else df


def tumbling_aggregate(df: DataFrame, window: str, aggs: dict[str, Column],
                       keys: Sequence[str] = (), ts_col: str = "ts",
                       watermark: str = "10 minutes",
                       slide: str | None = None) -> DataFrame:
    """Tumbling (or sliding, with `slide`) event-time aggregation.

    Output carries window_start/window_end plus the keys and aggregates.
    """
    src = with_watermark(df, ts_col, watermark)
    win = F.window(ts_col, window, slide) if slide else F.window(ts_col, window)
    out = src.groupBy(win.alias("w"), *keys).agg(
        *[expr.alias(name) for name, expr in aggs.items()])
    return out.select(
        F.col("w.start").alias("window_start"),
        F.col("w.end").alias("window_end"),
        *keys, *aggs.keys())


def streaming_dedup(df: DataFrame, keys: Sequence[str], ts_col: str = "ts",
                    watermark: str | None = None) -> DataFrame:
    """Key dedup across the stream (state-store backed).

    Projects to the key columns: which physical duplicate row survives a
    distributed dedup is nondeterministic by definition, so only the key set
    is a stable contract (the batch oracle is SELECT DISTINCT keys).

    Two state regimes:
    - watermark=None (default): global exactly-once dedup, state grows with
      distinct keys — correct under any micro-batch split; right when the
      key space is bounded (dims, daily rollup keys).
    - watermark='…': `dropDuplicatesWithinWatermark` — state holds only the
      watermark horizon (the 100 TB/day regime); duplicates farther apart
      in event time than the delay can re-emit, by design.
    """
    cols = [*keys]
    if not df.isStreaming:
        return df.select(*cols).dropDuplicates(cols)
    if watermark is None:
        return df.select(*cols).dropDuplicates(cols)
    return (df.withWatermark(ts_col, watermark)
            .select(*cols, ts_col)
            .dropDuplicatesWithinWatermark(cols)
            .select(*cols))


def session_aggregate(df: DataFrame, gap: str, aggs: dict[str, Column],
                      keys: Sequence[str] = ("user_id",), ts_col: str = "ts",
                      watermark: str = "10 minutes") -> DataFrame:
    """Session-window aggregation (dynamic-gap sessions).

    The streaming-native twin of the batch lag+cumsum sessionization
    (plans.q.q22_sessionize).
    """
    src = with_watermark(df, ts_col, watermark)
    win = F.session_window(ts_col, gap)
    out = src.groupBy(win.alias("w"), *keys).agg(
        *[expr.alias(name) for name, expr in aggs.items()])
    return out.select(
        F.col("w.start").alias("session_start"),
        F.col("w.end").alias("session_end"),
        *keys, *aggs.keys())
