"""Simulate the driver's correctness sweep with a BARE SparkSession.

The round-1 driver built its own SparkSession (no repo confs) and erred on
every events read; this twin reproduces that contract: no get_spark, no
conf beyond master/shuffle — then runs every queries() entry at sf0.01,
compares against oracle_sql() via DuckDB, and prints per-entry status+time.

Usage: python scripts/driver_sim.py [sf_dir] [only_prefix]
"""

from __future__ import annotations

import json
import sys
import time
import traceback

sys.path.insert(0, "/root/repo")

from pyspark.sql import SparkSession

import __spark_entry__ as entrymod
from tests.oracle_utils import compare


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = sys.argv[2] if len(sys.argv) > 2 else ""

    # Bare session: mimics the harness. Only master + shuffle partitions.
    spark = (
        SparkSession.builder.master("local[32]")
        .config("spark.sql.shuffle.partitions", "32")
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", "48g")
        .appName("driver_sim")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    queries = entrymod.queries()
    oracles = entrymod.oracle_sql()

    results: dict[str, dict] = {}
    n_pass = n_rows_only = n_fail = 0
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
        results[name] = {"status": status, "sec": round(dt, 2), "err": err}
        print(f"{name:32s} {status:16s} {dt:6.2f}s", flush=True)
        if err:
            print(err, flush=True)

    total = sum(r["sec"] for r in results.values())
    print(
        f"\n== {n_pass} pass, {n_rows_only} rows-only, {n_fail} FAIL, "
        f"{len(results)} total, {total:.1f}s query wall =="
    )
    with open("/tmp/driver_sim.json", "w") as f:
        json.dump(results, f, indent=1)
    sys.exit(1 if n_fail else 0)


if __name__ == "__main__":
    main()
