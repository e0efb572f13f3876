"""Static audit: only ``plans/explain.py`` renders Spark plan text.

Plan text is for people and tests reading a plan, never for the engine's
own run path: rendering a micro-batch plan cost each streaming build
11-65 ms at sf0.01 and read nothing the result needs. So within the
package, the JVM plan handles ``queryExecution``, ``explainInternal``
and ``explainString`` may be named only in ``plans/explain.py``; a test
that needs a plan other than through those helpers takes it itself. A
new site fails here with the burden of proof on its author.
"""

from __future__ import annotations

from tests.audit_utils import PKG, name_references

_PLAN_TEXT = {"queryExecution", "explainInternal", "explainString"}


def test_only_explain_module_renders_plan_text():
    hits = [
        h for h in name_references(_PLAN_TEXT, PKG)
        if h[0] != "plans/explain.py"
    ]
    assert not hits, (
        "plan text is rendered only by xgboost_ray_spark/plans/explain.py; "
        f"found: {hits}"
    )
