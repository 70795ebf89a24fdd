"""Physical-plan introspection: the scale-property audit as an API.

Wraps Spark's formatted explain output into a typed audit of the
properties that decide whether a plan survives 100 TB — filter
pushdown, column pruning, broadcast vs shuffle joins, cartesian
products, whole-stage codegen coverage, exchange count. The plan-test
suite (tests/test_plans.py) and the PLANS.md generator both read these
properties; exposing them as an API lets users assert them in their own
pipelines:

    from parallel_monte_carlo_simulations_spark.plans import audit, assert_scale_safe
    a = audit(df)
    assert a.pushed_filters and not a.has_cartesian
    assert_scale_safe(df)          # raises with the offending plan text
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    """The "formatted" explain string (same text .explain prints)."""
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "formatted"
    )


@dataclass(frozen=True)
class PlanAudit:
    """Scale-relevant facts extracted from one physical plan."""

    pushed_filters: bool
    read_schemas: tuple[str, ...]
    n_exchanges: int
    n_broadcast_exchanges: int
    n_broadcast_hash_joins: int
    n_sort_merge_joins: int
    n_shuffled_hash_joins: int
    has_cartesian: bool
    has_nested_loop: bool
    has_take_ordered: bool
    n_codegen_spans: int
    n_python_evals: int
    plan: str = field(repr=False, default="")

    @property
    def join_count(self) -> int:
        return (
            self.n_broadcast_hash_joins
            + self.n_sort_merge_joins
            + self.n_shuffled_hash_joins
        )


def _codegen_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "codegen"
    )


def audit(df: DataFrame) -> PlanAudit:
    plan = formatted_plan(df)
    read_schemas = tuple(
        m.group(1).strip()
        for m in re.finditer(r"ReadSchema: (.+)", plan)
    )
    # Whole-stage codegen spans: under AQE the markers only exist once
    # the plan is finalized by an action. After `df.count()` (or any
    # action on THIS df), the simple explain carries the "*(n)" stage
    # markers of the final plan; before that, fall back to the codegen
    # explain mode (non-zero only without AQE). Callers wanting a codegen
    # count should execute the frame first.
    simple = df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), "simple"
    )
    n_spans = len(set(re.findall(r"\*\((\d+)\)", simple)))
    if n_spans == 0:
        m = re.search(
            r"Found (\d+) WholeStageCodegen subtrees", _codegen_plan(df)
        )
        n_spans = int(m.group(1)) if m else 0
    return PlanAudit(
        pushed_filters=bool(
            re.search(r"PushedFilters: \[.+\]", plan)
        ),
        read_schemas=read_schemas,
        # \bExchange\b does not match inside BroadcastExchange (no word
        # boundary after "Broadcast"), so this counts shuffles only
        n_exchanges=len(re.findall(r"\bExchange\b", plan)),
        n_broadcast_exchanges=len(re.findall(r"BroadcastExchange", plan)),
        n_broadcast_hash_joins=len(re.findall(r"BroadcastHashJoin", plan)),
        n_sort_merge_joins=len(re.findall(r"SortMergeJoin", plan)),
        n_shuffled_hash_joins=len(re.findall(r"ShuffledHashJoin", plan)),
        has_cartesian="CartesianProduct" in plan,
        has_nested_loop="BroadcastNestedLoopJoin" in plan,
        has_take_ordered="TakeOrderedAndProject" in plan,
        n_codegen_spans=n_spans,
        n_python_evals=len(
            re.findall(r"BatchEvalPython|ArrowEvalPython|MapInPandas|MapInArrow", plan)
        ),
        plan=plan,
    )


class ScaleSafetyError(AssertionError):
    pass


def assert_scale_safe(
    df: DataFrame,
    *,
    allow_nested_loop: bool = False,
    max_exchanges: int | None = None,
) -> PlanAudit:
    """Raise if the plan contains the patterns that do not survive a
    100x scale-up: a cartesian product, an (optionally tolerated)
    nested-loop join, or more shuffle exchanges than budgeted."""
    a = audit(df)
    problems = []
    if a.has_cartesian:
        problems.append("CartesianProduct")
    if a.has_nested_loop and not allow_nested_loop:
        problems.append("BroadcastNestedLoopJoin")
    if max_exchanges is not None and a.n_exchanges > max_exchanges:
        problems.append(
            f"{a.n_exchanges} shuffle exchanges (budget {max_exchanges})"
        )
    if problems:
        raise ScaleSafetyError(
            "; ".join(problems) + "\n\n" + a.plan[:4000]
        )
    return a
