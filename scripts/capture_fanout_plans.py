#!/usr/bin/env python
"""Capture before/after plans for the entries whose shuffle count dropped
when fan_out switched from unconditional round-robin repartition to
conditional hash-partitioning on doc_id (r15).

"before" is reproduced by monkeypatching fan_out back to the r14 spelling
(unconditional keyless repartition) in the same session — the rest of the
engine is identical, so the diff isolates the fan_out change exactly.

Usage: python scripts/capture_fanout_plans.py [query ...]
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

DEFAULT = [
    "s26b_minhash_lsh",
    "s26c_simhash",
    "s26e_hamming_pairs",
    "s28e_tfidf_top_terms",
    "s28g_repetition_score",
]


def main() -> None:
    names = sys.argv[1:] or DEFAULT
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

    from xgboost_ray_spark.operators import dedup, text
    from xgboost_ray_spark.registry import all_queries
    from xgboost_ray_spark.session import get_spark

    spark = get_spark(app_name="capture_fanout_plans")
    specs = all_queries()
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        "r15",
    )
    os.makedirs(out_dir, exist_ok=True)

    real_fan_out = dedup.fan_out

    def r14_fan_out(df):
        return df.repartition(df.sparkSession.sparkContext.defaultParallelism)

    # text.py binds fan_out by value at import time, so patch both modules.
    for label, fn in (("before", r14_fan_out), ("after", real_fan_out)):
        dedup.fan_out = fn
        text.fan_out = fn
        for name in names:
            df = specs[name].build(spark, sf_dir)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
            path = os.path.join(out_dir, f"{name}_{label}.txt")
            with open(path, "w") as f:
                f.write(plan)
            print(f"wrote {path} ({plan.count('Exchange')} Exchange lines)")
    dedup.fan_out = real_fan_out
    text.fan_out = real_fan_out


if __name__ == "__main__":
    main()
