#!/usr/bin/env python
"""Capture .explain("formatted") for headline queries to plans/<round>/.

Usage: python scripts/capture_plans.py before|after [query ...]
Round dir from $SPARK_GRAFT_PLANS_ROUND (default r16).

Writes plans/<round>/<query>_<label>.txt for each headline query (default) or
the named subset. Iterative operators (s26g, s24g, s27j) and ML training
(s30) execute their loops at build time and return a localCheckpoint /
small result frame, so their formatted plan shows the final stage only.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import HEADLINE  # noqa: E402


def main() -> None:
    label = sys.argv[1]
    names = sys.argv[2:] or HEADLINE

    from xgboost_ray_spark.catalog import DEFAULT_SF_DIR
    from xgboost_ray_spark.plans.explain import formatted_plan
    from xgboost_ray_spark.registry import all_queries
    from xgboost_ray_spark.session import get_spark

    spark = get_spark(app_name=f"capture_plans_{label}")
    specs = all_queries()
    out_dir = os.path.join(
        os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
        "plans",
        os.environ.get("SPARK_GRAFT_PLANS_ROUND", "r16"),
    )
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        spark.sparkContext.setJobDescription(f"capture:{name}")
        df = specs[name].build(spark, DEFAULT_SF_DIR)
        plan = formatted_plan(df)
        path = os.path.join(out_dir, f"{name}_{label}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} bytes)")
    spark.sparkContext.setJobDescription(None)


if __name__ == "__main__":
    main()
