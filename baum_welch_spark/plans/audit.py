"""Physical-plan audit helpers: the scale-posture checks (filter pushdown,
column pruning, broadcast joins, whole-stage codegen) as assertable
properties, so tests lock in the plans we designed for — not just the
results (SURVEY §4).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def _shuffle_count(plan: str) -> int:
    """Count true shuffle Exchange nodes only: a bare substring count of
    "Exchange" also matches BroadcastExchange (not a shuffle) and
    ReusedExchange (the OPPOSITE of a shuffle — an avoided one)."""
    return len(re.findall(r"(?:^|[^A-Za-z])Exchange[ (]", plan))


def explain_str(df: DataFrame, mode: str = "formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # same backend as df.explain()
        df._jdf.queryExecution(), mode
    )


def plan_report(df: DataFrame) -> dict[str, object]:
    """Summarize scale-relevant plan features.

    Operator counts come from the simple-mode tree (formatted mode prints
    every node twice: once in the tree, once in the detail section); the
    codegen check uses the codegen explain, which works pre-execution even
    under AQE (the simple/formatted trees only show WholeStageCodegen spans
    after the adaptive plan is finalized).
    """
    tree = explain_str(df, "simple")
    formatted = explain_str(df, "formatted")
    codegen = explain_str(df, "codegen")
    return {
        # any scan with a non-empty pushed-filter list counts: a second scan
        # whose residual filter is unpushable must not mask real pushdown
        "has_pushed_filters": re.search(r"PushedFilters: \[(?!\])", formatted) is not None,
        "broadcast_joins": tree.count("BroadcastHashJoin") + tree.count("BroadcastNestedLoopJoin"),
        "nested_loop_joins": tree.count("BroadcastNestedLoopJoin") + tree.count("CartesianProduct"),
        "sortmerge_joins": tree.count("SortMergeJoin"),
        "shuffles": _shuffle_count(tree),
        "wholestage_codegen": "Found 0 WholeStageCodegen" not in codegen,
        "python_stages": sum(
            tree.count(node) for node in ("ArrowEvalPython", "MapInPandas", "MapInArrow")
        ),
        "scans": tree.count("Scan parquet"),
    }


def executed_plan_report(df: DataFrame) -> dict[str, object]:
    """plan_report plus a real WholeStageCodegen check: executes the plan
    (AQE only finalizes — and fuses codegen stages — at runtime) and parses
    the executed physical plan."""
    # collect() (not a write) so THIS DataFrame's QueryExecution is the one
    # AQE finalizes — a write spawns its own QE and leaves df's unfinalized
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    rep = plan_report(df)
    # codegen stages appear as "*(N) Operator" in the executed-plan string
    rep["wholestage_codegen"] = "WholeStageCodegen" in executed or "*(" in executed
    rep["executed_shuffles"] = _shuffle_count(executed)
    return rep


def assert_plan(df: DataFrame, *, max_shuffles: int | None = None,
                require_broadcast: bool = False, require_pushdown: bool = False) -> dict[str, object]:
    rep = plan_report(df)
    if max_shuffles is not None and int(rep["shuffles"]) > max_shuffles:
        raise AssertionError(f"plan has {rep['shuffles']} shuffles > {max_shuffles}:\n{explain_str(df)}")
    if require_broadcast and int(rep["broadcast_joins"]) == 0:
        raise AssertionError(f"expected a broadcast join:\n{explain_str(df)}")
    if require_pushdown and not rep["has_pushed_filters"]:
        raise AssertionError(f"expected pushed filters:\n{explain_str(df)}")
    return rep
