"""Physical-plan inspection helpers — the engine's ".explain and iterate"
loop (SURVEY.md §4). Used by tests to ASSERT the plans we want, e.g.
filters pushed to the parquet scan or the join AQE actually ran.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def final_plan(df: DataFrame) -> str:
    """The AQE-finalized section of the formatted plan.

    After an action, AdaptiveSparkPlan prints "== Final Plan ==" (the
    joins actually executed, incl. runtime broadcast conversions)
    followed by "== Initial Plan ==" (the pre-AQE static plan).
    Assertions about runtime join strategy must look only at the final
    section — the initial one still shows SortMergeJoin for sides whose
    size AQE discovered at runtime. Falls back to the whole string when
    the plan has not executed (no final section yet)."""
    plan = formatted_plan(df)
    cut = plan.find("== Initial Plan ==")
    return plan[:cut] if cut >= 0 else plan


def has_pushed_filter(df: DataFrame, fragment: str) -> bool:
    """True if the parquet scan carries a pushed filter mentioning `fragment`."""
    plan = formatted_plan(df)
    return any(
        "PushedFilters" in line and fragment in line
        for line in plan.splitlines()
    )
