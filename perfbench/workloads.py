"""The three workloads. Each runs as a closed loop with one client (the
main thread): a pass runs the workload's operations one after another,
and passes repeat until the run's time is up.

- batch_queries: non-streaming registry queries through the `noop` sink.
- stream_microbatch: s-family registry queries, each replaying the events
  day-files through an `availableNow` trigger.
- etl_nightly: the engine's nightly DAG (`jobs.build_tasks` run by
  `orchestration.run_dag`): a full load, an incremental merge of a changed
  window, and an exact replay of that merge.

Pass 1 runs in a fresh session with a fresh artifact dir (cold); later
passes are warm. Outputs are checked outside the timed regions.
"""

from __future__ import annotations

import copy
import os
import random
import shutil
import time

import corpus
import etl_fixtures
from layers import TASKS

# Fixed operation lists. Each mechanism the batch list names is carried by
# one query: q96 (CPU-heavy per-row battery), d71 (fuzzy dedup), d40
# (mapInPandas), q91 (Python UDTF), e06 (index training, kept on disk), q69
# (eager work inside the builder); q01/q06 are plain scans and aggregates.
# The lists are short so that a run holds several warm passes (README.md).
BATCH_QUERIES = (
    "q01_pricing_summary", "q06_discount_revenue", "q69_dag_audit_trail",
    "q91_python_udtf", "q96_xml_battery", "d40_video_near_dup",
    "d71_fuzzy_dedup_depth2", "e06_trained_ivf_search",
)
# windows (s07, one batch), watermarked dedup replaying the 30 day-files
# (s16, one micro-batch per day) and CDC merge (s06); s01 is the untimed
# warm-up.
STREAM_QUERIES = ("s07_stream_sliding", "s16_stream_dedup_expiry", "s06_cdc_merge")
STREAM_WARMUP = "s01_stream_tumbling"
CORPUS_SF = 0.002          # per-query and per-batch constants dominate here
ETL_DOCS = 3000
SALES_TABLES = ("VENTAS", "CARGA_VENTAS_DETALLE", "VENTAS_METODOS_PAGO")
DAG_RUNS = (("full", "full", False), ("incr", "window", True), ("replay", "window", True))


class OpFailed(Exception):
    """An operation's output failed its check."""


class Workload:
    """Common pass loop; subclasses define the operations and checks."""

    name = ""

    def __init__(self, run) -> None:
        self.run = run
        self.passes: list[list[dict]] = []   # per pass: one record per operation
        self.walls: list[float] = []          # per pass: timed wall
        self.progress: list[list[dict]] = []  # per pass: streaming progress records

    def prepare(self) -> None: ...

    def warm_up(self, spark) -> None: ...

    def run_pass(self, spark, k: int) -> tuple[list[dict], float]:
        """Run pass k; returns its operation records and its timed wall
        (output checks and listener drains excluded)."""
        raise NotImplementedError

    def close(self) -> None: ...

    def fresh(self) -> Workload:
        """The same prepared inputs with no pass records."""
        new = copy.copy(self)
        new.passes, new.walls, new.progress = [], [], []
        return new

    def op_samples_ms(self) -> list[float]:
        """Latency samples of the warm passes (one per operation)."""
        return [op["wall_s"] * 1000 for p in self.passes[1:] for op in p]


class QueryWorkload(Workload):
    """A fixed list of registry queries in a seed-permuted order."""

    queries: tuple[str, ...] = ()
    _oracle = None

    def prepare(self) -> None:
        self.data = os.path.join(self.run.work, "corpus")
        self.rows = corpus.generate(self.data, self.run.seed, CORPUS_SF)
        self.order = list(self.queries)
        random.Random(self.run.seed).shuffle(self.order)

    def warm_up(self, spark) -> None:
        from etl_docker_spark.catalog import load_table

        load_table(spark, self.data, "lineitem").limit(1).count()

    def run_pass(self, spark, k: int) -> tuple[list[dict], float]:
        from etl_docker_spark.plans import QUERIES

        tracer = self.run.tracer
        ops = []
        for name in self.order:
            before = artifact_dirs(self.run.artifacts) if k == 1 else 0
            batches = len(self.run.listener.progress)
            spec = QUERIES[name]
            rec = {"op": name, "family": name[0], "ok": True}
            t0 = time.perf_counter()
            try:
                with tracer.span(name, "plans", job=name):
                    with tracer.span("build", "plans", job="build"):
                        df = spec.builder(spark, self.data)
                    with tracer.span("action", "plans", job="action"):
                        df.write.format("noop").mode("overwrite").save()
                rec["wall_s"] = time.perf_counter() - t0
                self.run.drain_listener()
                rec["micro_batches"] = len(self.run.listener.progress) - batches
                if k == 1:
                    rec["trained"] = artifact_dirs(self.run.artifacts) - before
                    self.check(name, df, spec.oracle)
            except Exception as exc:  # noqa: BLE001 — counted, reported, run goes on
                rec.setdefault("wall_s", time.perf_counter() - t0)
                rec["ok"] = False
                rec["error"] = f"{type(exc).__name__}: {str(exc)[:300]}"
                self.run.log(f"FAIL {name}: {rec['error']}")
            ops.append(rec)
        return ops, sum(r["wall_s"] for r in ops)

    def check(self, name: str, df, oracle: str) -> None:
        """Order-insensitive fingerprint against the DuckDB oracle, as
        tools/check_oracle.py canonicalizes it (every listed query has one)."""
        from check_oracle import canon

        cols = sorted(df.columns)
        got = canon([tuple(r[c] for c in cols) for r in df.collect()])
        cur = self.oracle_db().execute(oracle)
        dcols = [d[0] for d in cur.description]
        order = sorted(range(len(dcols)), key=lambda i: dcols[i])
        want = canon([tuple(row[i] for i in order) for row in cur.fetchall()])
        if cols != [dcols[i] for i in order]:
            raise OpFailed(f"columns {cols} != oracle {sorted(dcols)}")
        if got != want:
            raise OpFailed(f"{len(got)} rows differ from the oracle's {len(want)}")

    def oracle_db(self):
        if self._oracle is None:
            import duckdb

            from etl_docker_spark.catalog import TABLES

            self._oracle = duckdb.connect()
            self._oracle.execute("SET threads TO 2")
            for t in TABLES:
                self._oracle.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM '{self.data}/{t}.parquet'")
        return self._oracle

    def close(self) -> None:
        if self._oracle is not None:
            self._oracle.close()


class BatchQueries(QueryWorkload):
    name = "batch_queries"
    queries = BATCH_QUERIES


class StreamMicrobatch(QueryWorkload):
    name = "stream_microbatch"
    queries = STREAM_QUERIES

    def warm_up(self, spark) -> None:
        from etl_docker_spark.plans import QUERIES

        super().warm_up(spark)
        QUERIES[STREAM_WARMUP].builder(spark, self.data).write.format("noop") \
            .mode("overwrite").save()
        self.run.drain_listener()
        self.run.listener.take()

    def op_samples_ms(self) -> list[float]:
        """Per-micro-batch `triggerExecution` of the warm passes."""
        return [float(p["durationMs"]["triggerExecution"])
                for recs in self.progress[1:] for p in recs
                if "triggerExecution" in (p.get("durationMs") or {})]


class EtlNightly(Workload):
    """One pass = a full load into a fresh warehouse, an incremental merge
    of the changed window, and an exact replay of that merge. Operations
    are DAG tasks."""

    name = "etl_nightly"

    def prepare(self) -> None:
        self.fixtures = os.path.join(self.run.work, "etl")
        self.truth = etl_fixtures.generate(self.fixtures, self.run.seed, ETL_DOCS)

    def warm_up(self, spark) -> None:
        from etl_docker_spark import jobs

        jobs._read(spark, os.path.join(self.fixtures, "full"), "families").count()

    def run_pass(self, spark, k: int) -> tuple[list[dict], float]:
        from etl_docker_spark.orchestration import JobContext

        wh = os.path.join(self.run.work, f"warehouse_{k}")
        shutil.rmtree(wh, ignore_errors=True)
        ctx = JobContext(spark, wh, f"{wh}/_etl_log", f"{wh}/_quarantine")
        ops: list[dict] = []
        wall, prints = 0.0, None
        for label, fixtures, incremental in DAG_RUNS:
            recs, dt = self.dag(spark, ctx, label, fixtures, incremental, k)
            ops += recs
            wall += dt
            if k == 1:
                prints = self.checked(recs, self.check, spark, wh, label, prints)
        if k == 1:
            self.checked(ops, self.check_audit, spark, ctx.log_path)
        return ops, wall

    def dag(self, spark, ctx, label: str, fixtures: str, incremental: bool,
            k: int) -> tuple[list[dict], float]:
        """One `run_dag` over `jobs.build_tasks`; one record per task."""
        from etl_docker_spark import jobs
        from etl_docker_spark.orchestration import run_dag

        tasks = jobs.build_tasks(spark, os.path.join(self.fixtures, fixtures),
                                 incremental=incremental)
        recs = {t.name: {"op": t.name, "family": label, "ok": True, "wall_s": 0.0,
                         "attempts": 0} for t in tasks}
        for task in tasks:
            task.fn = self._timed_task(task.fn, recs[task.name])
        tracer = self.run.tracer
        t0 = time.perf_counter()
        with tracer.span(label, "orchestration", job=label):
            with tracer.span("run_dag", "orchestration"):
                status = run_dag(ctx, tasks)
        wall = time.perf_counter() - t0
        for name, rec in recs.items():
            rec["ok"] = status.get(name) == "ok"
        self.run.dag_runs.append({"pass": k, "run": label, "wall_s": wall,
                                  "status": status,
                                  "attempts": sum(r["attempts"] for r in recs.values())})
        if not all(r["ok"] for r in recs.values()):
            self.run.log(f"FAIL dag {label}: {status}")
        return list(recs.values()), wall

    def _timed_task(self, fn, rec: dict):
        tracer = self.run.tracer

        def timed(ctx):
            rec["attempts"] += 1
            t0 = time.perf_counter()
            try:
                with tracer.span(rec["op"], "pipelines", job=f"task:{rec['op']}"):
                    return fn(ctx)
            finally:
                rec["wall_s"] += time.perf_counter() - t0

        return timed

    def checked(self, recs: list[dict], check, *args):
        """Run an output check; a failed one fails the last operation."""
        try:
            return check(*args)
        except Exception as exc:  # noqa: BLE001 — a failed check is a counted failure
            self.run.log(f"FAIL check {check.__name__}: {type(exc).__name__}: {exc}")
            if recs:
                recs[-1]["ok"] = False
            return None

    def check(self, spark, wh: str, label: str, prints: dict | None) -> dict:
        """Row counts and signed totals against the generator's truth; the
        replay must leave every sales table's fingerprint unchanged."""
        from pyspark.sql import functions as F

        now = {t: _fingerprint(spark, f"{wh}/{t}") for t in SALES_TABLES}
        if label == "replay":
            if now != prints:
                raise OpFailed(f"replay changed tables: {prints} -> {now}")
            return now
        truth = self.truth["full" if label == "full" else "merged"]
        for t in SALES_TABLES:
            if now[t][0] != truth[t]:
                raise OpFailed(f"{t}: {now[t][0]} rows, expected {truth[t]}")
        det = spark.read.parquet(f"{wh}/CARGA_VENTAS_DETALLE").agg(
            F.sum("CANTIDAD_VENTA"), F.sum("COSTO_NETO")).first()
        paid = spark.read.parquet(f"{wh}/VENTAS_METODOS_PAGO").agg(
            F.sum("METODO_PAGO_MONTO")).first()[0]
        for got, key in ((det[0], "detail_qty"), (det[1], "detail_cost"),
                         (paid, "payment_amt")):
            if abs(got - truth[key]) > 1e-6 * max(1.0, abs(truth[key])):
                raise OpFailed(f"{key}: {got} != {truth[key]}")
        for table, rows in self.truth["dims"].items():
            n = spark.read.parquet(f"{wh}/{table}").count()
            if n != rows:
                raise OpFailed(f"{table}: {n} rows, expected {rows}")
        return now

    def check_audit(self, spark, log_path: str) -> None:
        """One ok audit row per task per DAG run."""
        rows = spark.read.parquet(log_path).filter("status_ok") \
            .groupBy("load_table").count().collect()
        got = {r["load_table"]: r["count"] for r in rows}
        want = dict.fromkeys(TASKS, len(DAG_RUNS))
        if got != want:
            raise OpFailed(f"audit rows {got}, expected {want}")


def artifact_dirs(root: str) -> int:
    """Artifact dirs the index cache has written (<root>/<corpus fp>/<key>)."""
    if not os.path.isdir(root):
        return 0
    return sum(len(os.listdir(os.path.join(root, fp))) for fp in os.listdir(root))


def _fingerprint(spark, path: str) -> tuple:
    """Order-insensitive table fingerprint: row count plus two hash folds."""
    from pyspark.sql import functions as F

    df = spark.read.parquet(path)
    h = F.xxhash64(*df.columns)
    row = df.agg(F.count("*"), F.bit_xor(h), F.sum(F.pmod(h, F.lit(1_000_000_007)))).first()
    return tuple(row)


WORKLOADS = {w.name: w for w in (BatchQueries, StreamMicrobatch, EtlNightly)}

