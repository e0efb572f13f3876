#!/usr/bin/env python
"""Next-decade scaling probe for the heavy iterative set.

Times the six expensive iterative/ML queries at two scale directories with
``bench.measure`` (one session per scale, bench.py's timing and noise rule)
and prints one JSON line per scale plus the per-query scaling factor across
the jump. Pair it with scripts/gen_scale_probe.py, which tiles sf0.1 into a
10x corpus whose per-operator workload scales exactly linearly (see
SCALE.md).

Usage: python scripts/scale_probe.py [base_sf_dir] [big_sf_dir] [ops]

``ops`` (optional, comma-separated registry names) replaces the default
six, e.g. with the heavy shuffle-bound relational entries.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

PROBE = [
    "s30_gbt_train_predict",
    "s24g_pagerank",
    "s26g_dup_clusters",
    "s26l_prefix_filter_join",
    "s27j_kmeans",
    "s25d_stateful_sessions",
]
if len(sys.argv) > 3:
    PROBE = [n for n in sys.argv[3].split(",") if n]
    # Validate before any Spark work: a typo'd name would otherwise surface
    # as a KeyError after the base scale has run for minutes.
    from xgboost_ray_spark.registry import all_queries as _aq

    _unknown = [n for n in PROBE if n not in _aq()]
    if _unknown:
        sys.exit(
            f"unknown registry names in ops override: {_unknown} "
            "(see xgboost_ray_spark.registry.all_queries())"
        )


def run_scale(sf_dir: str) -> dict[str, float]:
    from bench import measure
    from xgboost_ray_spark.registry import all_queries
    from xgboost_ray_spark.session import get_spark

    spark = get_spark(app_name=f"scale_probe_{os.path.basename(sf_dir)}")
    result = measure(spark, all_queries(), PROBE, sf_dir)
    print(json.dumps({"sf_dir": sf_dir, **result}))
    spark.stop()
    return result["queries"]


def main() -> None:
    base = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.1"
    big = sys.argv[2] if len(sys.argv) > 2 else "/tmp/scale_probe/sf1.0"
    small = run_scale(base)
    large = run_scale(big)
    print(json.dumps({
        "scaling_factor": {
            n: round(large[n] / small[n], 2) for n in PROBE if small[n] > 0
        }
    }))


if __name__ == "__main__":
    main()
