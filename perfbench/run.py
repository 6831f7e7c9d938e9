"""Benchmark entry point.

    python3 perfbench/run.py --workload batch_queries --seed 1 --seconds 20 --trace 0

Runs one workload (workloads.py) from the root of a source checkout on
local[nproc] and prints one JSON line last: {"correct", "attempted",
"failed", "metrics"}. With --trace 0 the metrics are the end-to-end ones
(E2E_UNITS). With --trace 1 the session starts with the event log on; the
run measures half its time with every layer boundary wrapped, then the
other half untraced in a fresh session (for trace.overhead_ratio), and
reports the per-layer metrics (layers.PER_LAYER). Everything the run
writes goes under bench_runs/perfbench/ in the checkout; the result file
stays there, the rest is deleted.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()   # set-up time counts from here

import argparse  # noqa: E402
import json  # noqa: E402
import os  # noqa: E402
import shutil  # noqa: E402
import statistics  # noqa: E402
import subprocess  # noqa: E402
import sys  # noqa: E402

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
E2E_UNITS = {"setup_s": "s", "cold_s": "s", "warm_s": "s"}


class Run:
    """One benchmark run: its work dir, current session and instruments."""

    def __init__(self, seed: int, work: str) -> None:
        import probes

        self.seed, self.work = seed, work
        self.spark = None
        self.tracer = probes.NullTracer()
        self.listener = None
        self.artifacts = ""
        self.event_dir = ""
        self.session_start_s = 0.0
        self.sessions = 0
        self.dag_runs: list[dict] = []
        self.messages: list[str] = []

    def log(self, msg: str) -> None:
        self.messages.append(msg)
        print(f"[perfbench] {msg}", file=sys.stderr, flush=True)

    def drain_listener(self) -> None:
        if not self.listener.drain():
            self.log("streaming listener did not see every query terminate")

    def start_session(self, traced: bool):
        """A fresh session with a fresh, empty artifact dir; traced
        sessions write Spark's event log."""
        import probes
        from etl_docker_spark.session import get_spark

        self.sessions += 1
        tag = f"s{self.sessions}"
        self.artifacts = os.path.join(self.work, "artifacts", tag)
        os.makedirs(self.artifacts)
        os.environ["SPARK_GRAFT_ARTIFACT_DIR"] = self.artifacts
        conf = {"spark.ui.showConsoleProgress": "false",
                "spark.sql.warehouse.dir": os.path.join(self.work, "sql-warehouse"),
                "spark.driver.extraJavaOptions":
                    f"-Djava.io.tmpdir={os.environ['TMPDIR']}"}
        if traced:
            self.event_dir = os.path.join(self.work, "eventlog", tag)
            os.makedirs(self.event_dir)
            conf.update({"spark.eventLog.enabled": "true",
                         "spark.eventLog.dir": f"file://{self.event_dir}",
                         "spark.eventLog.compress": "false"})
        t0 = time.perf_counter()
        self.spark = get_spark("perfbench", extra_conf=conf)
        self.session_start_s = time.perf_counter() - t0
        self.listener = probes.ProgressListener()
        self.spark.streams.addListener(self.listener)
        return self.spark

    def stop_session(self) -> None:
        if self.spark is not None:
            self.spark.stop()
            self.spark = None


def configure_env(work: str) -> None:
    """Same set-up for every run: all cores, a heap sized from this host's
    memory, and every scratch path inside the run's work dir."""
    import probes

    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    gib = probes.mem_total_kb() / 2 ** 20
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = f"{max(1, min(4, int(gib / 6)))}g"
    for sub in ("tmp", "local"):
        os.makedirs(os.path.join(work, sub), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")


def stop_jvm() -> None:
    """Shut the py4j gateway down and wait for the JVM to exit."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()   # the gateway server exits when its stdin closes
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def run_passes(run: Run, wl, seconds: float) -> None:
    """Closed loop: pass 1 (cold), then warm passes until `seconds` have
    gone by since pass 1 started; at least one warm pass."""
    t0 = time.perf_counter()
    k = 0
    while k < 2 or time.perf_counter() - t0 < seconds:
        k += 1
        with run.tracer.span(f"pass{k}", "run", job=f"p{k}"):
            ops, wall = wl.run_pass(run.spark, k)
        run.drain_listener()
        wl.passes.append(ops)
        wl.walls.append(wall)
        wl.progress.append(run.listener.take())
        run.log(f"{wl.name} pass {k}: {wall:.3f} s, {len(ops)} ops, "
                f"{sum(not op['ok'] for op in ops)} failed")


def percentile(xs: list[float], q: int) -> float:
    if len(xs) < 2:
        return xs[0] if xs else 0.0
    return statistics.quantiles(xs, n=100, method="inclusive")[q - 1]


def end_to_end(wl, setup_s: float) -> dict:
    return {"setup_s": setup_s,
            "cold_s": wl.walls[0],
            "warm_s": statistics.median(wl.walls[1:])}


def op_latency(wl) -> dict:
    """Per-operation latency of the warm passes, with its sample count."""
    samples = wl.op_samples_ms()
    return {"samples": len(samples), "p50_ms": percentile(samples, 50),
            "p90_ms": percentile(samples, 90)}


def traced_phase(run: Run, wl, seconds: float, sampler) -> tuple[dict, dict]:
    """The traced half of a --trace 1 run, on the current (traced) session;
    returns the per-layer metrics and the per-operation report."""
    import eventlog
    import layers
    import probes

    spark = run.spark
    tracer = run.tracer = probes.Tracer(spark)
    tracer.wrap("etl_docker_spark.plans._util", "load_table", "catalog")
    tracer.wrap("etl_docker_spark.jobs", "_write", "sinks",
                job_of=lambda ctx, name, df: f"write:{name}")
    tracer.wrap("etl_docker_spark.orchestration", "audit_log_entry", "sinks")
    tracer.wrap("etl_docker_spark.operators.merge", "merge_upsert_path", "merge",
                job_of=lambda spark, path, *a: f"merge:{os.path.basename(path)}")
    gc0 = probes.jvm_gc_seconds(spark)
    try:
        run_passes(run, wl, seconds)
    finally:
        tracer.unwrap_all()
        run.tracer = probes.NullTracer()
    gc_s = probes.jvm_gc_seconds(spark) - gc0
    run.stop_session()   # finishes the event log
    ops = eventlog.parse(eventlog.read_lines(event_file(run.event_dir)))
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    changed = getattr(wl, "truth", {}).get("changed_rows", 0)
    per_pass = [layers.pass_layers(k, ops, tracer.spans, wl.progress[k - 1],
                                   wl.passes[k - 1], run.dag_runs, cores, changed)
                for k in range(2, len(wl.passes) + 1)]
    metrics = layers.average(per_pass)
    cold = {op_key(r): r for r in wl.passes[0]}
    warm = {key: statistics.median(r["wall_s"] for p in wl.passes[1:] for r in p
                                   if op_key(r) == key)
            for key in {op_key(r) for r in wl.passes[1]}}
    metrics.update({
        "session.start_s": run.session_start_s, "session.jvm_gc_s": gc_s,
        "llm.artifacts_trained": sum(r.get("trained", 0) for r in cold.values()),
        "llm.train_s": sum(r["wall_s"] - warm[op] for op, r in cold.items()
                           if r.get("trained")),
        "pydaemon.workers_spawned": cold_workers(tracer.spans, sampler.python_pids),
    })
    return metrics, layer_report(wl, cold, warm, ops, tracer.spans)


def cold_workers(spans: list[dict], first_seen: dict[int, float]) -> int:
    """Python workers first seen while pass 1 ran. Warm passes reuse the
    workers pass 1 started, so worker start-up is a cold-pass cost."""
    cold = next(s for s in spans if s["parent"] is None and s["name"] == "pass1")
    return sum(cold["t0"] <= t <= cold["t1"] for t in first_seen.values())


def event_file(event_dir: str) -> str:
    """The event-log file of the finished application."""
    for dirpath, _, files in os.walk(event_dir):
        for f in sorted(files):
            if f.startswith(("events_", "local-")) and not f.endswith(".crc"):
                return os.path.join(dirpath, f)
    raise FileNotFoundError(f"no event log under {event_dir}")


def op_key(rec: dict) -> str:
    """A query's name, or "<DAG run>/<task>" for a DAG task."""
    return rec["op"] if rec["op"].startswith(rec["family"]) else f"{rec['family']}/{rec['op']}"


def layer_report(wl, cold: dict, warm: dict, ops: dict, spans: list[dict]) -> dict:
    """Per-family warm totals (q/d/e/g/s, or the DAG run) and the 15 largest
    warm walls, each with its dominant layer: the builder call, executor
    task time, or Python-worker time, per warm execution."""
    import eventlog

    n_warm = len(wl.passes) - 1
    families: dict[str, float] = {}
    for key, wall in warm.items():
        fam = key.split("/")[0] if "/" in key else key[0]
        families[fam] = families.get(fam, 0.0) + wall
    build_s: dict[str, float] = {}
    for s in spans:   # build spans of warm passes, keyed by their operation
        parent = spans[s["parent"]] if s["parent"] is not None else None
        if s["name"] == "build" and parent and spans[parent["parent"]]["name"] != "pass1":
            build_s[parent["name"]] = build_s.get(parent["name"], 0.0) + s["t1"] - s["t0"]

    def path_of(key: str) -> list[str]:   # event-log path components after p<k>
        run, _, task = key.rpartition("/")
        return [run, f"task:{task}"] if run else [key]

    top = []
    for key, wall in sorted(warm.items(), key=lambda kv: -kv[1])[:15]:
        want = path_of(key)
        agg = eventlog.sum_ops(ops, lambda p, want=want: not p.startswith("p1/")
                               and p.split("/")[1:1 + len(want)] == want)
        shares = {"plans (builder call)": build_s.get(key, 0.0) / n_warm,
                  "executor tasks": agg["run_ms"] / 1000 / n_warm,
                  "pydaemon (Python workers)": agg["python_run_ms"] / 1000 / n_warm}
        top.append({"op": key, "warm_s": wall,
                    "cold_s": cold[key]["wall_s"] if key in cold else None,
                    "dominant_layer": max(shares, key=shares.get), "layers_s": shares})
    return {"family_warm_s": families, "top_walls": top}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    missing = [p for p in ("etl_docker_spark/session.py", "tools/check_oracle.py")
               if not os.path.exists(os.path.join(ROOT, p))]
    if missing:
        print(f"perfbench: not a source checkout, missing {missing}", file=sys.stderr)
        return 2
    sys.path[:0] = [ROOT, os.path.join(ROOT, "tools")]
    import layers
    import probes
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; "
              f"known: {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2
    out_dir = os.path.join(ROOT, "bench_runs", "perfbench")
    work = os.path.join(out_dir, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    shutil.rmtree(work, ignore_errors=True)
    configure_env(work)
    noise0 = probes.host_noise()
    run = Run(args.seed, work)
    wl = workloads.WORKLOADS[args.workload](run)
    seconds = args.seconds / 2 if args.trace else args.seconds
    try:
        with probes.ProcSampler() as sampler:
            t0 = time.perf_counter()
            wl.prepare()   # input generation is not set-up
            prepare_s = time.perf_counter() - t0
            # set-up: process start (imports, JVM launch, get_spark) to the
            # end of the warm-up, less input generation; pass 1 follows at once
            run.start_session(traced=bool(args.trace))
            wl.warm_up(run.spark)
            setup_s = time.perf_counter() - T_START - prepare_s
            facts = probes.host_facts(ROOT, run.spark)
            if args.trace:
                # traced passes first, in the same position an untraced run
                # measures; then the same passes untraced, for the overhead
                metrics, report = traced_phase(run, wl, seconds, sampler)
                untraced = wl.fresh()
                run.start_session(traced=False)
                run_passes(run, untraced, seconds)
                metrics["trace.overhead_ratio"] = (statistics.median(wl.walls[1:])
                                                   / statistics.median(untraced.walls[1:]))
                runs = {"traced": wl, "untraced": untraced}
                units = layers.PER_LAYER
            else:
                run_passes(run, wl, seconds)
                metrics = end_to_end(wl, setup_s)
                runs, units, report = {"untraced": wl}, E2E_UNITS, None
            run.stop_session()
        ops = [op for w in runs.values() for p in w.passes for op in p]
        failed = sum(not op["ok"] for op in ops)
        result = {"correct": failed == 0, "attempted": len(ops), "failed": failed,
                  "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()}}
        record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
                  "trace": args.trace, "host": facts,
                  "noise": probes.noise_delta(noise0, probes.host_noise()),
                  "prepare_s": prepare_s, "setup_s": setup_s,
                  "peak_rss_mb": sampler.peak_rss_kb / 1024,
                  "peak_pss_mb": sampler.peak_pss_kb / 1024,
                  "fail_ratio": failed / len(ops), "op_latency": op_latency(wl),
                  "passes": {k: {"walls_s": w.walls, "ops": w.passes}
                             for k, w in runs.items()},
                  "dag_runs": run.dag_runs, "layer_report": report,
                  "messages": run.messages, "result": result}
        stamp = time.strftime("%Y%m%dT%H%M%S")
        path = os.path.join(out_dir, f"{args.workload}-seed{args.seed}-"
                                     f"trace{args.trace}-{stamp}-{os.getpid()}.json")
        with open(path, "w") as fh:
            json.dump(record, fh, indent=1, default=str)
        run.log(f"result file: {os.path.relpath(path, ROOT)}")
    finally:
        run.stop_session()
        wl.close()
        stop_jvm()
        shutil.rmtree(work, ignore_errors=True)
    print(json.dumps(result, separators=(",", ":")))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
