"""Physical-plan inspection helpers.

The engine's performance contract is checked, not assumed: tests assert
that filters/projections reach the parquet scan, small dims broadcast, and
hot paths stay inside WholeStageCodegen. These helpers parse
``explain("formatted")`` output for those properties.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    """The text ``df.explain("formatted")`` prints, returned instead of
    printed: no process-wide stdout swap, which would also catch output
    from other threads."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


def has_pushed_filters(df: DataFrame) -> bool:
    """True when the parquet scan carries at least one pushed filter."""
    plan = formatted_plan(df)
    for line in plan.splitlines():
        if "PushedFilters:" in line and "PushedFilters: []" not in line:
            return True
    return False


def _split_top_level(inner: str) -> list[str]:
    """Split a struct body on commas at nesting depth 0 only — a bare
    split would turn struct<meta:struct<a:int,b:int>,x:double> into a
    phantom top-level column 'b'."""
    parts: list[str] = []
    depth = 0
    cur: list[str] = []
    for ch in inner:
        if ch == "<":
            depth += 1
        elif ch == ">":
            depth -= 1
        if ch == "," and depth == 0:
            parts.append("".join(cur))
            cur = []
        else:
            cur.append(ch)
    if cur:
        parts.append("".join(cur))
    return parts


def scan_read_schema(df: DataFrame) -> list[str]:
    """Column names the scan actually reads (pruning check)."""
    plan = formatted_plan(df)
    cols: list[str] = []
    for line in plan.splitlines():
        if "ReadSchema:" in line:
            schema = line.split("ReadSchema:", 1)[1].strip()
            inner = schema[schema.find("<") + 1 : schema.rfind(">")]
            for fieldspec in _split_top_level(inner):
                if ":" in fieldspec:
                    cols.append(fieldspec.split(":", 1)[0].strip())
    return cols


def has_broadcast_join(df: DataFrame) -> bool:
    plan = formatted_plan(df)  # one compile; explain is not free
    return "BroadcastHashJoin" in plan or "BroadcastNestedLoopJoin" in plan


def simple_plan(df: DataFrame) -> str:
    """The text ``df.explain()`` prints (see :func:`formatted_plan`)."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )


def executed_plan(df: DataFrame) -> str:
    """Final physical plan string. Under AQE the pre-execution explain is
    ``isFinalPlan=false`` with no codegen markers, so this materializes the
    frame first (test-scale inputs only)."""
    df.collect()
    return df._jdf.queryExecution().executedPlan().toString()


def codegen_stage_count(df: DataFrame) -> int:
    """Distinct WholeStageCodegen spans in the executed plan (the formatted
    pre-execution mode stopped printing codegen markers in Spark 4)."""
    plan = executed_plan(df)
    if "== Final Plan ==" in plan:  # ignore the duplicated initial plan
        plan = plan.split("== Initial Plan ==")[0]
    stages = set()
    idx = 0
    while True:
        idx = plan.find("*(", idx)
        if idx < 0:
            break
        end = plan.find(")", idx)
        stage = plan[idx + 2 : end]
        if stage.isdigit():
            stages.add(int(stage))
        idx = end
    return len(stages)


def has_partition_filters(df: DataFrame) -> bool:
    """True when the scan prunes whole partitions at planning time
    (``PartitionFilters`` non-empty — directory-level skipping, no footer
    reads for excluded partitions)."""
    plan = formatted_plan(df)
    for line in plan.splitlines():
        if "PartitionFilters:" in line and "PartitionFilters: []" not in line:
            return True
    return False


def has_dynamic_pruning(df: DataFrame) -> bool:
    """True when a scan's PartitionFilters carry a ``dynamicpruning``
    subquery — partitions chosen at RUNTIME by a join's build side, the
    star-schema pruning path (static literals show up via
    :func:`has_partition_filters` instead)."""
    return "dynamicpruning" in formatted_plan(df).lower()
