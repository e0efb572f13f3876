#!/usr/bin/env python
"""Measure a BASELINE.md standalone comparator for one registered query.

Runs ``bench.measure`` on this one query in a fresh process with the bench
session config (``session.get_spark``: local[$SPARK_GRAFT_CPUS], AQE on,
shuffle partitions = cores). This is the STANDALONE context of BASELINE.md's
measurement protocol: no other headline queries share the session, so
scratch-dir spills, shuffle files and executor-memory pressure from
unrelated plans cannot inflate the number. The timing and the noise rule
are bench.py's.

Usage: python scripts/pin_standalone.py <query_name> [sf_dir]
Prints one JSON line: {"query": ..., "sf_dir": ..., "queries": {...},
"samples": {...}, "noise": {...}}.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    if len(sys.argv) < 2:
        raise SystemExit(__doc__)
    name = sys.argv[1]
    sf_dir = sys.argv[2] if len(sys.argv) > 2 else "/root/testdata/sf0.1"

    from bench import measure
    from xgboost_ray_spark.registry import all_queries

    specs = all_queries()
    if name not in specs:  # fail fast, BEFORE the Spark session spin-up
        raise SystemExit(
            f"unknown query {name!r}; valid names:\n  "
            + "\n  ".join(sorted(specs))
        )

    from xgboost_ray_spark.session import get_spark

    spark = get_spark(app_name=f"pin_{name}")
    result = measure(spark, specs, [name], sf_dir)
    print(json.dumps({"query": name, "sf_dir": sf_dir, **result}))


if __name__ == "__main__":
    main()
