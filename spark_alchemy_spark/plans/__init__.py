"""Physical-plan introspection: the optimizer-awareness layer.

The reference adds no Catalyst rules (SURVEY.md §4) — its leverage is
*choosing* plan-friendly expressions and data designs.  This engine
keeps that stance and makes it testable: helpers that read a
DataFrame's executed/physical plan and assert the properties every
operator is designed around (filter pushdown into the scan, column
pruning, broadcast vs shuffle joins, whole-stage codegen coverage,
exchange reuse).  Used by tests/ and tools/explain_audit.py; on a
cluster they double as guardrails in CI for plan regressions.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame

__all__ = [
    "formatted_plan",
    "pushed_filters",
    "partition_filters",
    "read_schema_columns",
    "join_strategies",
    "num_exchanges",
    "num_reused_exchanges",
    "codegen_stage_count",
    "python_eval_ops",
    "assert_broadcast_join",
    "assert_filter_pushed",
    "assert_columns_pruned",
]


def formatted_plan(df: DataFrame) -> str:
    """The formatted physical plan (what ``df.explain('formatted')``
    prints), as a string."""
    return df._jdf.queryExecution().explainString(
        df._sc._jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    )


def pushed_filters(df: DataFrame) -> list[str]:
    """Filter predicates that reached the parquet/orc scan."""
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", formatted_plan(df)):
        body = m.group(1).strip()
        if body:
            out.extend(p.strip() for p in body.split(","))
    return out


def read_schema_columns(df: DataFrame) -> list[set[str]]:
    """Column sets actually read by each file scan (pruning check)."""
    cols: list[set[str]] = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", formatted_plan(df)):
        body = m.group(1)
        cols.append({f.split(":")[0].strip() for f in body.split(",") if f.strip()})
    return cols


def partition_filters(df: DataFrame) -> list[str]:
    """Partition-pruning predicates applied at each file scan (these
    eliminate whole directories before any file is opened — at 100 TB
    the difference between scanning one partition and all of them)."""
    out: list[str] = []
    for m in re.finditer(r"PartitionFilters: \[([^\]]*)\]", formatted_plan(df)):
        body = m.group(1).strip()
        if body:
            out.extend(p.strip() for p in body.split(","))
    return out


def join_strategies(df: DataFrame) -> list[str]:
    """Physical join operators in plan order (e.g. BroadcastHashJoin,
    SortMergeJoin, ShuffledHashJoin, BroadcastNestedLoopJoin)."""
    plan = formatted_plan(df)
    return re.findall(
        r"(BroadcastHashJoin|SortMergeJoin|ShuffledHashJoin|"
        r"BroadcastNestedLoopJoin|CartesianProduct)",
        plan,
    )


def num_exchanges(df: DataFrame) -> int:
    """Shuffle exchanges in the plan (each is a full network round).
    Counts both renderings: the formatted node line ``(n) Exchange``
    (arguments follow on a separate line) and the simple-format inline
    ``Exchange hashpartitioning(...)``.  Broadcast exchanges are not
    counted — they are not shuffles."""
    plan = formatted_plan(df)
    return len(re.findall(r"\(\d+\) Exchange\b", plan)) + len(
        re.findall(r"\bExchange (?:hash|range)partitioning", plan)
    )


def num_reused_exchanges(df: DataFrame) -> int:
    return formatted_plan(df).count("ReusedExchange")


def codegen_stage_count(df: DataFrame) -> int:
    """Number of whole-stage-codegen spans (wider is better — fewer
    interpreted boundaries)."""
    plan = formatted_plan(df)
    ids = set(re.findall(r"codegen id : (\d+)", plan))
    ids.update(re.findall(r"WholeStageCodegen \((\d+)\)", plan))
    return len(ids)


def python_eval_ops(df: DataFrame) -> list[str]:
    """Python-side operators in the plan (evaluation, map, grouped-map,
    aggregate and window) — each is an Arrow boundary; they should exist
    only where the operator genuinely needs Python."""
    return re.findall(
        r"(ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow"
        r"|FlatMapGroupsInPandas|FlatMapGroupsInArrow"
        r"|ArrowAggregatePython|AggregateInPandas|ArrowWindowPython|WindowInPandas)",
        formatted_plan(df),
    )


def assert_broadcast_join(df: DataFrame) -> None:
    joins = join_strategies(df)
    assert any("Broadcast" in j for j in joins), f"no broadcast join in {joins}"


def assert_filter_pushed(df: DataFrame, fragment: str) -> None:
    pf = pushed_filters(df)
    assert any(fragment in p for p in pf), f"{fragment!r} not pushed; got {pf}"


def assert_columns_pruned(df: DataFrame, required: set[str], banned: set[str]) -> None:
    scans = read_schema_columns(df)
    read = set().union(*scans) if scans else set()
    missing = required - read
    leaked = banned & read
    assert not missing, f"scan missing columns {missing}; read {read}"
    assert not leaked, f"scan reads unpruned columns {leaked}"
