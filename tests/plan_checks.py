"""Physical-plan predicates for the plan regression tests.

They turn ``.explain`` output (:func:`belb_spark.plans.plan_string`) into
testable facts: broadcast joins stay broadcast, filters reach the scan,
UDF stages stay Arrow-batched.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from belb_spark.plans import plan_string


def uses_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in plan_string(df) or "BroadcastNestedLoopJoin" in plan_string(df)


def shuffle_count(df: DataFrame) -> int:
    # 'simple' mode: formatted mode prints exchange arguments in a separate
    # details section, so 'Exchange hashpartitioning' never matches there
    s = plan_string(df, "simple")
    return s.count("Exchange hashpartitioning") + s.count("Exchange rangepartitioning")


def has_pushed_filters(df: DataFrame) -> bool:
    s = plan_string(df)
    return "PushedFilters: [" in s and "PushedFilters: []" not in s


def arrow_eval_count(df: DataFrame) -> int:
    # 'simple' mode prints each physical node once ('formatted' lists nodes
    # again in the details section, double-counting)
    return plan_string(df, "simple").count("ArrowEvalPython")


def final_plan_section(df: DataFrame) -> str:
    """The '== Final Plan ==' section of an EXECUTED adaptive plan (falls
    back to the whole string pre-execution / with AQE off). Runtime facts —
    which exchanges were reused, how many Python stages actually ran — live
    here, not in the initial plan: AQE performs exchange reuse at stage
    materialization time, so the static explain shows two copies of a
    subtree that executes once (ADVICE r3 on pairs.candidate_pairs)."""
    s = plan_string(df, "simple")
    if "== Final Plan ==" in s:
        s = s.split("== Final Plan ==")[1]
        if "== Initial Plan ==" in s:
            s = s.split("== Initial Plan ==")[0]
    return s
