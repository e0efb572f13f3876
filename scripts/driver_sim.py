"""Simulate the driver's correctness sweep with a BARE SparkSession.

An external driver builds its own SparkSession without the repo's confs;
this twin reproduces that contract: no get_spark and no RUNTIME_CONF, only
the master, shuffle partitions and driver heap, sized like get_spark's.
It runs every queries() entry, compares each against oracle_sql() via
DuckDB, and prints per-entry status and time plus a summary line.

Usage: python scripts/driver_sim.py [sf_dir] [only_prefix]
"""

from __future__ import annotations

import os
import sys
import time
import traceback

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import SparkSession  # noqa: E402

import __spark_entry__ as entrymod  # noqa: E402
from tests.oracle_utils import compare  # noqa: E402
from xgboost_ray_spark.session import _DEFAULTS, effective_cpus  # noqa: E402


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2] if len(sys.argv) > 2 else ""

    cpus = effective_cpus()
    spark = (
        SparkSession.builder.master(f"local[{cpus}]")
        .config("spark.sql.shuffle.partitions", str(cpus))
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", _DEFAULTS["spark.driver.memory"])
        .appName("driver_sim")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()

    n_pass = n_rows_only = n_fail = 0
    total = 0.0
    for name, fn in queries.items():
        if only and not name.startswith(only):
            continue
        t0 = time.time()
        try:
            df = fn(spark, sf_dir)
            if name in oracles:
                compare(df, oracles[name], sf_dir)
                status = "pass"
                n_pass += 1
            else:
                nrows = df.count()
                status = f"rows_only({nrows})"
                n_rows_only += 1
            err = None
        except Exception:
            status = "FAIL"
            err = traceback.format_exc(limit=4)
            n_fail += 1
        dt = time.time() - t0
        total += dt
        print(f"{name:32s} {status:16s} {dt:6.2f}s", flush=True)
        if err:
            print(err, flush=True)

    print(
        f"\n== {n_pass} pass, {n_rows_only} rows-only, {n_fail} FAIL, "
        f"{n_pass + n_rows_only + n_fail} total, {total:.1f}s query wall =="
    )
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
