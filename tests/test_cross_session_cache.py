"""True cross-session artifact persistence (VERDICT r2 item 3): build a
trained index artifact in one OS process / SparkSession, STOP it, then
serve bit-identically from a fresh process without retraining.

The in-suite tests (test_index_cache.py) simulate session death by
clearing the memo; this one actually exercises two JVMs, proving the
parquet disk tier — not leaked in-process state — carries the artifact.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# Runs e05's trained-IVF assignment query (memoized via index_cache) in a
# fresh interpreter + SparkSession and reports rows + whether training ran.
_DRIVER = """
import hashlib, json, os, sys
sys.path.insert(0, {repo!r})
from etl_docker_spark.session import get_spark
from etl_docker_spark.llm import index_cache as ic

trained = {{"n": 0}}
_orig = ic.memo_frame
def counting_memo(spark, key, build, sf_dir=None):
    def counting_build():
        trained["n"] += 1
        return build()
    return _orig(spark, key, counting_build, sf_dir=sf_dir)
ic.memo_frame = counting_memo  # plan builders import it function-locally
import etl_docker_spark.plans.e as e

spark = get_spark("xsession")
df = e.e06_trained_ivf_search(spark, {sf!r})
rows = sorted(map(tuple, ((r[c] for c in sorted(df.columns))
                          for r in df.collect())))
print("RESULT:" + json.dumps({{"n_trained": trained["n"],
                               "n_rows": len(rows),
                               "digest": hashlib.md5(str(rows).encode()).hexdigest()}}))
spark.stop()
"""


def _run_once(artifact_dir: str, sf_dir: str) -> dict:
    env = dict(os.environ,
               SPARK_GRAFT_ARTIFACT_DIR=artifact_dir,
               SPARK_GRAFT_CPUS="4")
    script = _DRIVER.format(repo=REPO, sf=sf_dir)
    out = subprocess.run([sys.executable, "-c", script], env=env,
                         capture_output=True, text=True, timeout=600)
    assert out.returncode == 0, out.stderr[-3000:]
    line = [ln for ln in out.stdout.splitlines() if ln.startswith("RESULT:")]
    assert line, out.stdout[-2000:]
    return json.loads(line[-1][len("RESULT:"):])


def test_second_session_serves_from_disk_bit_identically(tmp_path):
    sf_dir = "/root/testdata/sf0.001"
    cache = str(tmp_path / "artifacts")

    first = _run_once(cache, sf_dir)
    assert first["n_trained"] > 0          # cold: training ran
    assert first["n_rows"] > 0

    second = _run_once(cache, sf_dir)
    assert second["n_trained"] == 0        # warm: served from parquet
    assert second["n_rows"] == first["n_rows"]
    assert second["digest"] == first["digest"]
