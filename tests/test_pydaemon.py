"""The preloading Python-worker daemon (optimization round 12).

etl_docker_spark.pydaemon is launched by Spark as `python -m
etl_docker_spark.pydaemon pyspark.worker`; its module-level code must
therefore (a) import cleanly outside any Spark context, (b) leave
pyspark/py4j importable after stripping archive sys.path entries, and
(c) be wired into every session the factory builds.
"""

from __future__ import annotations

import os
import subprocess
import sys


def test_daemon_module_imports_and_keeps_pyspark_resolvable():
    # fresh interpreter with the worker-style PYTHONPATH (archives first,
    # as PythonWorkerFactory builds it) — module import must strip the
    # archives yet keep pyspark/py4j/our package importable
    import py4j
    import pyspark
    pys_zip_dir = os.path.join(os.path.dirname(pyspark.__file__), "jars")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    jar = next((os.path.join(pys_zip_dir, f) for f in os.listdir(pys_zip_dir)
                if f.startswith("spark-core")), None)
    assert jar is not None
    env = dict(os.environ)
    env["PYTHONPATH"] = f"{jar}:{repo}"
    code = (
        "import sys\n"
        "import etl_docker_spark.pydaemon\n"
        "assert not any(p.endswith(('.zip', '.jar')) and"
        " __import__('os').path.isfile(p) for p in sys.path), sys.path\n"
        "import pyspark, py4j, pandas, pyarrow, numpy\n"
        "import etl_docker_spark.streaming.stateful\n"
        "print('DAEMON_IMPORT_OK')\n"
    )
    out = subprocess.run([sys.executable, "-c", code], env=env,
                         capture_output=True, text=True, timeout=120)
    assert out.returncode == 0, out.stderr
    assert "DAEMON_IMPORT_OK" in out.stdout
    assert py4j is not None


def test_session_wires_daemon_and_pythonpath(spark):
    assert spark.conf.get("spark.python.daemon.module") == \
        "etl_docker_spark.pydaemon"
    pp = spark.conf.get("spark.executorEnv.PYTHONPATH")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    assert pp.split(":")[0] == repo
    # the session keeps Spark's checkpoint checksums; only the gate-stream
    # scope (plans._util.stream_state_partitions) turns them off
    assert spark.conf.get(
        "spark.sql.streaming.checkpoint.fileChecksum.enabled") == "true"


def test_stateful_worker_roundtrip(spark):
    # a pandas-boundary job exercised end-to-end through the preloading
    # daemon: mapInPandas result must match the JVM-side computation
    import pandas as pd

    df = spark.range(1000).toDF("v")

    def double(it):
        for pdf in it:
            yield pd.DataFrame({"d": pdf["v"] * 2})

    got = sorted(r.d for r in df.mapInPandas(double, "d long").collect())
    assert got == [2 * i for i in range(1000)]
