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


def _spark_archives() -> list[str]:
    """The archives Spark puts on a worker's PYTHONPATH: pyspark.zip, the
    py4j source zip and the spark-core JAR."""
    import pyspark
    home = os.path.dirname(pyspark.__file__)
    lib, jars = os.path.join(home, "python", "lib"), os.path.join(home, "jars")
    found = [os.path.join(lib, "pyspark.zip")]
    found += [os.path.join(lib, f) for f in os.listdir(lib)
              if f.startswith("py4j-") and f.endswith(".zip")]
    found += [os.path.join(jars, f) for f in os.listdir(jars)
              if f.startswith("spark-core")]
    assert len(found) == 3 and all(map(os.path.isfile, found)), found
    return found


def _import_daemon(pythonpath: list[str], code: str) -> None:
    """Import the daemon module in a fresh interpreter whose PYTHONPATH is
    `pythonpath` (archives first, as PythonWorkerFactory builds it), then
    run `code`, which prints DAEMON_IMPORT_OK."""
    env = dict(os.environ)
    env["PYTHONPATH"] = ":".join(pythonpath)
    out = subprocess.run(
        [sys.executable, "-c", "import etl_docker_spark.pydaemon\n" + code],
        env=env, capture_output=True, text=True, timeout=120)
    assert out.returncode == 0, out.stderr
    assert "DAEMON_IMPORT_OK" in out.stdout


def test_daemon_module_imports_and_keeps_pyspark_resolvable():
    # module import must strip the archives yet keep pyspark/py4j/our
    # package importable
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import sys\n"
        "assert not any(p.endswith(('.zip', '.jar')) and"
        " __import__('os').path.isfile(p) for p in sys.path), sys.path\n"
        "import pyspark, py4j, pandas, pyarrow, numpy\n"
        "import etl_docker_spark.streaming.stateful\n"
        "print('DAEMON_IMPORT_OK')\n"
    )
    _import_daemon(_spark_archives() + [repo], code)


def test_daemon_keeps_a_user_archive_importable(tmp_path):
    """Only Spark's own archives are stripped: a user's deps.zip (say,
    from --py-files) may hold modules found nowhere else."""
    import zipfile

    deps = str(tmp_path / "deps.zip")
    with zipfile.ZipFile(deps, "w") as z:
        z.writestr("user_dep_mod.py", "VALUE = 42\n")
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    archives = _spark_archives()
    code = (
        "import sys\n"
        f"assert {deps!r} in sys.path, sys.path\n"
        f"assert not set({archives!r}) & set(sys.path), sys.path\n"
        "import user_dep_mod\n"
        "assert user_dep_mod.VALUE == 42\n"
        "print('DAEMON_IMPORT_OK')\n"
    )
    _import_daemon(archives + [deps, repo], code)


def test_daemon_keeps_archives_of_another_pyspark_release(tmp_path):
    """pyspark.zip is stripped only when it is the installed release: a
    copy whose pyspark/version.py names another version keeps every
    Spark archive on sys.path, so the workers import from the archives."""
    import zipfile

    archives = _spark_archives()
    fake = str(tmp_path / "pyspark.zip")
    with zipfile.ZipFile(archives[0]) as src, \
            zipfile.ZipFile(fake, "w") as dst:
        for item in src.infolist():
            data = src.read(item)
            if item.filename == "pyspark/version.py":
                data = b'__version__: str = "0.0.1"\n'
            dst.writestr(item, data)
    archives[0] = fake
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    code = (
        "import sys\n"
        f"assert set({archives!r}) <= set(sys.path), sys.path\n"
        "import pyspark\n"
        f"assert pyspark.__file__.startswith({fake!r}), pyspark.__file__\n"
        "print('DAEMON_IMPORT_OK')\n"
    )
    _import_daemon(archives + [repo], code)


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
