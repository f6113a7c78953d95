"""Driver-contract simulation: the grading driver imports
``__spark_entry__`` in its own process with a VANILLA SparkSession (none
of our session confs) and hash-compares every oracled query against
DuckDB. The rest of the suite runs under the configured session, which
can mask session-dependent drift (timezone handling, legacy-parquet
flags) — round 1's only red row was exactly such a gap. This test runs
the same compare in a fresh subprocess with a vanilla session.
"""

from __future__ import annotations

import subprocess
import sys
from pathlib import Path

#: The checkout this test file lives in; the subprocess imports THIS
#: tree's code, whichever directory it is checked out to.
_REPO = Path(__file__).resolve().parents[1]

_SCRIPT = r"""
import importlib.util, os, sys
repo = sys.argv[1]
sys.path.insert(0, repo)
spec = importlib.util.spec_from_file_location(
    "__spark_entry__", os.path.join(repo, "__spark_entry__.py"))
mod = importlib.util.module_from_spec(spec)
spec.loader.exec_module(mod)
from pyspark.sql import SparkSession
from realtime_voting_data_engineering_spark import queries as Q
from tests.oracle_harness import compare_query

spark = SparkSession.builder.master("local[8]").getOrCreate()  # vanilla
spark.sparkContext.setLogLevel("ERROR")
SF = "/root/testdata/sf0.01"  # the driver's grading SF — hash agreement at
# sf0.001 does not imply it at sf0.01 (more rows -> more rounding edges)
fails = []
for name, spec_ in Q.REGISTRY.items():
    try:
        compare_query(spark, name, spec_.fn, spec_.oracle, SF)
    except Exception as e:  # noqa: BLE001
        fails.append(f"{name}: {e}")
for f in fails:
    print("FAIL", f)
print("DRIVER_SIM_RESULT", len(fails))
"""


def test_all_oracles_match_under_vanilla_session():
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT, str(_REPO)],
        capture_output=True,
        text=True,
        cwd="/tmp",  # not the repo root — catches path-dependent imports
        timeout=1800,
    )
    out = proc.stdout
    assert "DRIVER_SIM_RESULT 0" in out, (
        f"vanilla-session oracle compare failed:\n{out[-4000:]}\n"
        f"stderr tail:\n{proc.stderr[-2000:]}"
    )
