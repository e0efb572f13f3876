#!/usr/bin/env python
"""Measure a BASELINE.md standalone comparator for one registered query.

Protocol (written down so pins and bench numbers stop being compared
across contexts — see BASELINE.md "Measurement protocol"):

  * fresh process, ONE query per invocation;
  * the bench session config (``session.get_spark``, local[$SPARK_GRAFT_CPUS],
    AQE on, shuffle partitions = cores);
  * JVM warmup outside timing (bench.py's WARMUP_QUERY count);
  * three timed executions via ``bench.timed_build`` — the SAME timing
    core bench.py uses (full-plan: every build re-runs its spills, noop
    write materialization), so the standalone and in-session contexts
    cannot drift apart methodologically — min reported. This is the
    STANDALONE context: no other headline queries share the session, so
    scratch-dir spills, shuffle files, and executor-memory pressure from
    unrelated plans cannot inflate the number.

Usage: python scripts/pin_standalone.py <query_name> [sf_dir]
Prints one JSON line: {"query": ..., "sf_dir": ..., "samples": [...],
"min": ..., "loadavg": [...]}.
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

    from bench import WARMUP_QUERY, timed_build
    from xgboost_ray_spark.registry import all_queries

    specs = all_queries()
    if name not in specs:  # fail fast, BEFORE the Spark session spin-up
        raise SystemExit(
            f"unknown query {name!r}; valid names:\n  "
            + "\n  ".join(sorted(specs))
        )

    from xgboost_ray_spark.session import get_spark

    spark = get_spark(app_name=f"pin_{name}")
    specs[WARMUP_QUERY].build(spark, sf_dir).count()  # JVM warmup

    samples = [round(timed_build(spark, specs, name, sf_dir), 3) for _ in range(3)]
    print(
        json.dumps(
            {
                "query": name,
                "sf_dir": sf_dir,
                "samples": samples,
                "min": min(samples),
                # 1-min load BEFORE this process's own work is indistinct,
                # so report the triple at exit: a loadavg far above this
                # session's core budget, or samples that RISE across
                # passes, mark the session contended — discard and re-run
                # (BASELINE.md measurement protocol).
                "loadavg": [round(x, 2) for x in os.getloadavg()],
            }
        )
    )


if __name__ == "__main__":
    main()
