"""Driver-contract regression guard: run from a FOREIGN cwd.

The round driver imports ``__spark_entry__`` from its own process with its
own cwd — not the repo root. Two failure modes only appear under that
contract: (a) relative-path assumptions in the engine, and (b) workers
failing to import ``xgboost_ray_spark`` for cloudpickled mapInPandas
functions (``registry.ensure_workers_can_import`` exists precisely for
this). The in-process pytest suite runs with the checkout root as cwd and can
miss both, so this test re-runs the contract in a subprocess with cwd=/tmp.
"""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# argv[1] is the checkout root.
_SCRIPT = r"""
import sys
sys.path.insert(0, sys.argv[1])
import __spark_entry__ as contract
from pyspark.sql import SparkSession

spark = (
    SparkSession.builder.master("local[4]")
    .config("spark.sql.session.timeZone", "UTC")
    .config("spark.sql.shuffle.partitions", "4")
    .config("spark.sql.legacy.parquet.nanosAsLong", "true")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
assert len(contract.entry(spark).collect()) > 0

# A Python-UDF-bearing query: fails with ModuleNotFoundError on the worker
# side unless the package zip was shipped via addPyFile.
qs = contract.queries()
assert qs["s29_pandas_udf"](spark, "/root/testdata/sf0.001").count() > 0

# The file-layout family (r8 rotation) is the most cwd-sensitive surface
# in the catalog: these entries WRITE derived layouts (compacted files,
# z-ordered copies, partitioned dirs) under catalog.scratch_path and read
# them back. A relative-path slip anywhere in that machinery only shows
# up from a foreign cwd, so pin the three heaviest here permanently.
for name in (
    "s01e_compaction",
    "s01h_zorder_layout",
    "s01i_dynamic_partition_pruning",
):
    assert qs[name](spark, "/root/testdata/sf0.001").count() > 0, name
print("FOREIGN_CWD_OK")
"""


def test_contract_runs_from_foreign_cwd():
    proc = subprocess.run(
        [sys.executable, "-c", _SCRIPT, REPO],
        cwd="/tmp",
        capture_output=True,
        text=True,
        timeout=300,
        env=None,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "FOREIGN_CWD_OK" in proc.stdout
