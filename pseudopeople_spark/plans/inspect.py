"""Physical-plan inspection helpers — the plan IS the product at
100 TB, so plan shape is asserted in tests, not just eyeballed:

  * filters must reach the parquet scan (PushedFilters),
  * dimension joins must be broadcast (no shuffle of the fact side),
  * Python must enter the plan at most once per noising stage
    (one ArrowEvalPython node — the batched token kernel).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def assert_pushed_filters(df: DataFrame, *fragments: str) -> None:
    """Assert the scan carries pushed filters mentioning each fragment."""
    plan = physical_plan(df)
    assert "PushedFilters" in plan, f"no pushed filters in plan:\n{plan[:2000]}"
    pushed = [line for line in plan.splitlines() if "PushedFilters" in line]
    blob = "\n".join(pushed)
    for frag in fragments:
        assert frag in blob, f"filter on {frag!r} not pushed; PushedFilters: {blob[:800]}"


def assert_broadcast_join(df: DataFrame, at_least: int = 1) -> None:
    plan = physical_plan(df)
    n = plan.count("BroadcastHashJoin")
    assert n >= at_least, f"expected >= {at_least} BroadcastHashJoin, found {n}:\n{plan[:2000]}"


def count_python_eval_nodes(df: DataFrame) -> int:
    """Number of Python/Arrow evaluation operators in the physical plan
    (each one is a full Arrow ser/de round-trip of the stream)."""
    plan = physical_plan(df)
    return plan.count("ArrowEvalPython") + plan.count("BatchEvalPython")
