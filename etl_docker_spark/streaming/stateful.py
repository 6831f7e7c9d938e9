"""Custom stateful streaming operators via applyInPandasWithState.

The escape hatch for stateful logic the built-in windows can't express
(custom eviction, per-key models, counters with business rules); state
lives in the streaming state store, sized per key. Three operators, one
per output discipline:

- `running_user_totals`: per-user running totals (count + sum + last-seen
  timestamp) kept forever, one updated row per key per batch (s03).
- `keyed_ttl_totals`: per-key running totals in integer cents with
  event-time TTL eviction: emits on data, evicts silently (s14).
- `session_close_stream`: gap sessions that absorb data silently and
  emit only when the watermark closes them (s15).

Per-invocation cost discipline (guide §4.1/§4.2/§4.5): the update fn runs
once per key per micro-batch — ~27k invocations per run at sf0.1, ~750k at
~sf1 — so constant per-call overhead IS the operator's floor. Three rules
keep it low:

- 1-row outputs copy module-level dtype-pinned pandas templates (`.iat`
  assignment) instead of `pd.DataFrame({...})` per call (~330 -> ~133 µs
  measured, optimization r11), and tiny per-group reductions go through
  `.values` (NumPy) instead of Series methods.
- ONLY the columns the update fn reads cross the Python boundary: each
  operator projects its input to (key, event-time, payload) before the
  groupBy — the raw gate streams also carry the staging day column, a
  string the fn never touches, and the per-key serializer would
  otherwise build a pandas Series for it on every call (optimization
  r12, guide §4.1 "pass only the columns the function needs").
- Event time LEAVES the boundary as epoch integers (int64), not as a
  timestamp column: per-key datetime64/Timestamp handling (pandas
  `_sequence_to_dt64`, Timestamp boxing) was the largest remaining
  per-call cost in the worker profile (optimization r12). Spark
  timestamps are micros-exact, so the int64 is lossless and the
  operator's OUTPUT schema is unchanged — `timestamp_micros` /
  `timestamp_millis` convert back in a projection on the streaming
  frame the operator returns. On the INPUT side only the NoTimeout
  path ships `unix_micros(ts)`; the EventTimeTimeout paths must keep
  the watermarked timestamp column itself (the analyzer requires the
  watermark-tagged attribute to reach the stateful operator), and the
  update fns read its raw datetime64 ns values without boxing.
"""

from __future__ import annotations

from collections.abc import Iterable

import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

_TOTALS_RAW_SCHEMA = ("user_id long, n_events long, total_value double, "
                      "last_us long")
STATE_SCHEMA = "n long, total double"
# Watermark delay of the two event-time operators. Their callers feed
# event time in order (s14/s15: one day per micro-batch), and the timeout
# rules their docstrings pin are derived for a watermark at the max
# event time seen.
_WATERMARK_DELAY = "0 seconds"

# 1-row output templates with the declared dtypes; each yield copies a
# template and assigns scalars — 2.5x cheaper than constructing a fresh
# DataFrame from a dict per call, and all-integer/float dtypes keep the
# Arrow serializer off the expensive datetime path.
_TOTALS_TMPL = pd.DataFrame({
    "user_id": pd.array([0], dtype="int64"),
    "n_events": pd.array([0], dtype="int64"),
    "total_value": pd.array([0.0], dtype="float64"),
    "last_us": pd.array([0], dtype="int64"),
})
_KEYED_TTL_TMPL = pd.DataFrame({
    "state_key": pd.array(["x"], dtype=object),
    "n_events": pd.array([0], dtype="int64"),
    "total_cents": pd.array([0], dtype="int64"),
    "last_us": pd.array([0], dtype="int64"),
})
_SESSION_TMPL = pd.DataFrame({
    "state_key": pd.array(["x"], dtype=object),
    "start_ms": pd.array([0], dtype="int64"),
    "end_ms": pd.array([0], dtype="int64"),
    "n_events": pd.array([0], dtype="int64"),
    "total_cents": pd.array([0], dtype="int64"),
})


def _update(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
    n, total = state.get if state.exists else (0, 0.0)
    last_us = None
    for pdf in pdfs:
        n += len(pdf)
        total += float(pdf["value"].values.sum())
        mx = int(pdf["ts_us"].values.max())
        last_us = mx if last_us is None else max(last_us, mx)
    state.update((n, total))
    out = _TOTALS_TMPL.copy()
    out.iat[0, 0] = key[0]
    out.iat[0, 1] = n
    out.iat[0, 2] = total
    out.iat[0, 3] = last_us
    yield out


def running_user_totals(stream: DataFrame) -> DataFrame:
    """Per-user running totals with persistent state, kept forever —
    right when the key space is bounded (a user population). For
    unbounded keys (session ids, request ids) `keyed_ttl_totals` evicts
    idle keys.

    Spark 4 upgrade path: `transformWithStateInPandas` exposes the same
    semantics as a first-class stateful processor (per-state-variable TTLConfig,
    timers, multiple state variables) — this operator's contract (update,
    and `keyed_ttl_totals`' event-time TTL) maps 1:1 onto it when we bump
    the minimum Spark version.
    """
    out = (stream
           .select("user_id", F.unix_micros("ts").alias("ts_us"), "value")
           .groupBy("user_id")
           .applyInPandasWithState(
               _update, _TOTALS_RAW_SCHEMA, STATE_SCHEMA,
               "update", GroupStateTimeout.NoTimeout))
    return out.select("user_id", "n_events", "total_value",
                      F.timestamp_micros("last_us").alias("last_ts"))


_KEYED_TTL_RAW_SCHEMA = ("state_key string, n_events long, "
                         "total_cents long, last_us long")
KEYED_TTL_STATE = "n long, cents long"


def _fold_cents(pdfs: Iterable[pd.DataFrame], n: int, cents: int):
    """Add a key's batch to its running (n, cents) and return those with
    the batch's first and last event time in epoch ns (the dt64 `ts`
    values, read without boxing). Integer cents (int64 numpy sums) keep
    totals free of float summation-order divergence vs a batch oracle."""
    lo = hi = None
    for pdf in pdfs:
        n += len(pdf)
        cents += int(pdf["cents"].values.sum())
        ns = pdf["ts"].values
        a, b = int(ns.min()), int(ns.max())
        lo = a if lo is None else min(lo, a)
        hi = b if hi is None else max(hi, b)
    return n, cents, lo, hi


def _make_keyed_ttl_update(ttl_ms: int):
    """Update fn with event-time TTL: one emitted row per key per batch
    it has data in, and state REMOVED once the key idles `ttl_ms` of
    event time past the watermark — on an unbounded key space,
    NoTimeout state grows monotonically and this is the dial that
    bounds it. The timeout timestamp re-arms on every batch that brings
    the key data; Spark invokes the fn once more with `hasTimedOut=True`
    (and no data) after the watermark passes it."""

    def _fn(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        if state.hasTimedOut:
            state.remove()
            return
            yield  # pragma: no cover — keeps this a generator
        n, cents = state.get if state.exists else (0, 0)
        n, cents, _, last_ns = _fold_cents(pdfs, n, cents)
        state.update((n, cents))
        last_us = last_ns // 1_000
        # must be strictly ahead of the current watermark; late batches pin
        # to watermark + ttl instead of their own (older) event time
        state.setTimeoutTimestamp(
            max(last_us // 1_000, state.getCurrentWatermarkMs()) + ttl_ms)
        out = _KEYED_TTL_TMPL.copy()
        out.iat[0, 0] = key[0]
        out.iat[0, 1] = n
        out.iat[0, 2] = cents
        out.iat[0, 3] = last_us
        yield out

    return _fn


def keyed_ttl_totals(stream: DataFrame, ttl_ms: int) -> DataFrame:
    """Per-key (string `state_key` column) running totals in integer
    cents with event-time TTL eviction: state is evicted once the key has
    been idle `ttl_ms` of EVENT time past the watermark, so the state
    store tracks the LIVE key set (composite or unbounded keys), not
    history. A key that reappears after eviction restarts from zero."""
    out = (stream.withWatermark("ts", _WATERMARK_DELAY)
           .select("state_key", "ts", "cents")
           .groupBy("state_key")
           .applyInPandasWithState(
               _make_keyed_ttl_update(ttl_ms), _KEYED_TTL_RAW_SCHEMA,
               KEYED_TTL_STATE, "update",
               GroupStateTimeout.EventTimeTimeout))
    return out.select("state_key", "n_events", "total_cents",
                      F.timestamp_micros("last_us").alias("last_ts"))


_SESSION_RAW_SCHEMA = ("state_key string, start_ms long, end_ms long, "
                       "n_events long, total_cents long")
SESSION_STATE = "start long, end long, n long, cents long"


def _make_session_close_update(gap_ms: int):
    """Emit-on-timeout sessionization: rows are ABSORBED into per-key
    session state silently; the ONLY output happens in the timeout
    handler, when the watermark passes session_end + gap — the closed
    session is emitted and the state removed. A key reappearing later
    starts a fresh session. This is the inverse output discipline of
    the TTL-totals operator (which emits on data and evicts silently);
    open sessions at end-of-stream are never emitted — a real pipeline
    picks them up on the next run from the checkpoint."""

    def _fn(key, pdfs: Iterable[pd.DataFrame], state: GroupState):
        if state.hasTimedOut:
            start, end, n, cents = state.get
            state.remove()
            out = _SESSION_TMPL.copy()
            out.iat[0, 0] = key[0]
            out.iat[0, 1] = start
            out.iat[0, 2] = end
            out.iat[0, 3] = n
            out.iat[0, 4] = cents
            yield out
            return
        start, end, n, cents = (state.get if state.exists
                                else (None, None, 0, 0))
        n, cents, lo, hi = _fold_cents(pdfs, n, cents)
        lo //= 1_000_000  # epoch ns -> ms
        hi //= 1_000_000
        start = lo if start is None else min(start, lo)
        end = hi if end is None else max(end, hi)
        state.update((start, end, n, cents))
        state.setTimeoutTimestamp(
            max(end, state.getCurrentWatermarkMs()) + gap_ms)
        return
        yield  # pragma: no cover — keeps this a generator

    return _fn


def session_close_stream(stream: DataFrame, gap_ms: int) -> DataFrame:
    """Gap-based sessions that EMIT on close (timeout handler output):
    the state store holds exactly the open sessions, the sink receives
    exactly the closed ones — the streaming shape of gaps-and-islands
    sessionization (q22/q45's batch twin)."""
    out = (stream.withWatermark("ts", _WATERMARK_DELAY)
           .select("state_key", "ts", "cents")
           .groupBy("state_key")
           .applyInPandasWithState(
               _make_session_close_update(gap_ms), _SESSION_RAW_SCHEMA,
               SESSION_STATE, "update",
               GroupStateTimeout.EventTimeTimeout))
    return out.select("state_key",
                      F.timestamp_millis("start_ms").alias("session_start"),
                      F.timestamp_millis("end_ms").alias("session_end"),
                      "n_events", "total_cents")
