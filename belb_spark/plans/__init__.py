"""Physical-plan text of a DataFrame.

:func:`plan_string` is what ``scripts/explain_queries.py`` prints for the
headline queries, and what the plan regression tests (tests/test_plans.py) turn into
predicates: broadcast joins stay broadcast, filters reach the scan, UDF
stages stay Arrow-batched.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def plan_string(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), mode
    )
