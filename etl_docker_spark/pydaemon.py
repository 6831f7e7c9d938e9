"""Python worker daemon with the heavyweight libraries preloaded.

Spark forks one Python worker per task from this daemon process. The
stateful-streaming runners (applyInPandasWithState) RELEASE workers
instead of returning them to the reuse pool — measured on this engine:
86+ distinct worker PIDs across one s14 run (11 micro-batches x 32
state partitions), each fresh fork paying ~170-280 ms of `init` time in
the PythonRunner task log, which profiling attributes to importing
pandas / pyarrow / numpy inside the new worker before the first byte of
task data is processed.

Importing those libraries HERE — in the daemon, before `manager()`
forks anything — makes every forked worker inherit the warm modules
through copy-on-write (guide §4.5: heavyweight init once per executor,
not per task). Scheduling, the serialization protocol and results are
untouched; this is the same worker code path, minus the repeated
imports. The win applies to every Python-boundary task (pandas UDFs,
mapInPandas/mapInArrow, stateful updates) on any deployment: local
bench and multi-node cluster alike fork workers from one daemon per
executor.

Wired up by session.py via spark.python.daemon.module; workers resolve
this module because session.py also exports the package root on
spark.executorEnv.PYTHONPATH.
"""

import os
import re
import sys


# The archives Spark puts on the worker PYTHONPATH.
_SPARK_ARCHIVE = re.compile(r"pyspark\.zip|py4j-.*\.zip|spark-core.*\.jar")
_VERSION = re.compile(r"""__version__[^=\n]*=\s*['"]([^'"]+)['"]""")


def _version_of(source: str) -> str | None:
    """The `__version__` string a pyspark/version.py source assigns."""
    m = _VERSION.search(source)
    return m.group(1) if m else None


def _archives_match_installed(spec, archives: list[str]) -> bool:
    """True when the installed pyspark (`spec`) has a version and every
    pyspark.zip among `archives` carries that same version in its
    pyspark/version.py. An unreadable archive counts as a mismatch."""
    import zipfile
    try:
        with open(os.path.join(os.path.dirname(spec.origin),
                               "version.py")) as fh:
            installed = _version_of(fh.read())
        for p in archives:
            if os.path.basename(p) == "pyspark.zip":
                with zipfile.ZipFile(p) as z:
                    src = z.read("pyspark/version.py").decode()
                if _version_of(src) != installed:
                    return False
    except (OSError, KeyError, UnicodeDecodeError, zipfile.BadZipFile):
        return False
    return installed is not None


def _strip_zip_sys_paths() -> None:
    """Drop Spark's own archives (`_SPARK_ARCHIVE`) from sys.path when
    the same modules resolve from an installed distribution.

    Why: pyspark's worker calls `importlib.invalidate_caches()` once per
    task (worker_util.setup_spark_files), and CPython's zipimporter
    re-reads the ENTIRE zip central directory on every invalidation.
    Profiled on s14 (352 stateful tasks): ~580 CPU-seconds of
    zipimport._read_directory + ~300 CPU-seconds of buffered reads —
    the majority of all worker CPU — spent re-parsing pyspark.zip's
    directory, per task, forever. Directory-based finders invalidate in
    O(1); the installed pyspark/py4j are the same release the driver
    itself runs, which is checked: when the installed pyspark's version
    differs from the one in pyspark.zip, every archive stays. Any other
    archive (a user's `--py-files` deps.zip) may hold modules found
    nowhere else, so it stays."""
    import importlib.util
    removed: list[tuple[int, str]] = []
    for i in range(len(sys.path) - 1, -1, -1):
        p = sys.path[i]
        # only archives that really exist get a zipimporter (a missing
        # path caches None, which invalidates for free)
        if (_SPARK_ARCHIVE.fullmatch(os.path.basename(p))
                and os.path.isfile(p)):
            removed.append((i, p))
            del sys.path[i]
            sys.path_importer_cache.pop(p, None)
    if not removed:
        return
    spec = importlib.util.find_spec("pyspark")
    if (spec is None or importlib.util.find_spec("py4j") is None
            or not _archives_match_installed(spec, [p for _, p in removed])):
        # no installed pyspark/py4j distribution, or one of another
        # release — archives are load-bearing on this deployment,
        # restore them all untouched
        for i, p in sorted(removed):
            sys.path.insert(i, p)


_strip_zip_sys_paths()

# Heavy third-party stacks first: numpy -> pandas -> pyarrow is the
# dependency order; each is ~100-400 ms cold.
import numpy  # noqa: F401,E402
import pandas  # noqa: F401,E402
import pyarrow  # noqa: F401,E402

# The Arrow serializer stack the pandas-UDF / stateful runners import on
# first use, and the GroupState shim the stateful update fns touch.
import pyspark.sql.pandas.serializers  # noqa: F401,E402
import pyspark.sql.streaming.state  # noqa: F401,E402

# Our own stateful operators: module import builds the dtype-pinned
# 1-row output templates once, inherited by every forked worker.
import etl_docker_spark.streaming.stateful  # noqa: F401,E402

from pyspark.daemon import manager  # noqa: E402

if __name__ == "__main__":
    manager()
