"""Physical-plan inspection helpers.

The reference has no optimizer to inspect (SURVEY.md §4); on Spark the
plan IS the performance story, so these helpers make plan properties
assertable in tests (pushdown reached the scan, the dim join broadcast,
codegen spans exist) instead of eyeballed.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def has_pushed_filters(df: DataFrame) -> bool:
    """True when at least one scan reports non-empty PushedFilters."""
    plan = formatted_plan(df)
    return any(
        "PushedFilters: [" in line and "PushedFilters: []" not in line
        for line in plan.splitlines()
    )


def has_broadcast_join(df: DataFrame) -> bool:
    """True only for BroadcastHASHJoin. Deliberately NOT
    BroadcastNestedLoopJoin: BNLJ is the quadratic-per-partition plan an
    equi-join regresses to when its condition stops being an equality —
    counting it as "broadcast works" would let exactly that regression
    pass the plan tests this helper exists for. Queries with a
    LEGITIMATE BNLJ (a crossJoin against a 1-row aggregate) assert
    :func:`has_broadcast_nlj` separately."""
    plan = formatted_plan(df)  # once — each call re-runs physical planning
    return "BroadcastHashJoin" in plan


def has_broadcast_nlj(df: DataFrame) -> bool:
    """True when the plan contains a BroadcastNestedLoopJoin — for
    asserting a 1-row-aggregate crossJoin planned as expected, or (negated)
    that an equi-join did NOT regress to the quadratic form."""
    return "BroadcastNestedLoopJoin" in formatted_plan(df)


def codegen_stage_count(df: DataFrame) -> int:
    """Number of distinct whole-stage-codegen stages (formatted explain
    annotates member operators with ``[codegen id : N]``).

    Ids are keyed per SECTION: subquery plans are compiled by their own
    QueryExecution, so their numbering restarts at 1 under the
    "===== Subqueries =====" banner — a flat set keyed on the number
    alone would collapse main-plan stage 1 with every subquery's stage 1
    and undercount."""
    plan = formatted_plan(df)
    section = 0
    ids = set()
    for line in plan.splitlines():
        # each "Subquery:N" (and the initial main plan) is its own
        # QueryExecution with independent codegen numbering
        if line.lstrip().startswith("Subquery:"):
            section += 1
        if "codegen id :" in line:
            ids.add((section, line.split("codegen id :")[1].strip().rstrip("]")))
    return len(ids)
