"""Plan-inspection helpers: assert the physical plan is the one the 100 TB
design needs (pushdown reached the scan, the dim side broadcast, the agg is
partial/final) instead of hoping Catalyst did the right thing.

Used by tests/test_plans.py — every performance-critical claim in the
operator docstrings has a matching executable assertion here.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # noqa: SLF001
        df._jdf.queryExecution(), "formatted"
    )


def simple_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def _section_ids(plan: str, header: str) -> set[str]:
    """Operator ids on the tree lines under every ``header`` line (e.g.
    ``== Initial Plan ==``) of a ``formatted`` explain."""
    ids: set[str] = set()
    level = None
    for line in plan.splitlines():
        depth = len(line) - len(line.lstrip(" :"))
        if header in line:
            level = depth
        elif level is not None and line.strip() and depth > level:
            ids.update(re.findall(r"\((\d+)\)", line))
        else:
            level = None
    return ids


def _node_count(df: DataFrame, node: str) -> int:
    """Count physical-plan nodes by their detail-section headers.

    ``formatted`` explain prints every node twice (tree line + ``(n) Node``
    detail block); counting raw substrings double-counts. The detail header
    is the unambiguous occurrence. Once an adaptive plan has run, the
    explain holds both its final and its initial plan; nodes only the
    initial plan has are not counted.
    """
    plan = formatted_plan(df)
    stale = _section_ids(plan, "== Initial Plan ==") - _section_ids(
        plan, "== Final Plan =="
    )
    headers = re.findall(rf"^\((\d+)\) {node}\b", plan, re.MULTILINE)
    return sum(1 for i in headers if i not in stale)


def has_pushed_filters(df: DataFrame) -> bool:
    """True if the parquet scan carries pushed predicates."""
    plan = formatted_plan(df)
    return "PushedFilters: [" in plan and "PushedFilters: []" not in plan


def read_schema_columns(df: DataFrame) -> list[str]:
    """Columns the parquet scan actually reads (column pruning witness)."""
    plan = formatted_plan(df)
    cols: list[str] = []
    for line in plan.splitlines():
        if "ReadSchema" in line:
            inner = line.split("struct<", 1)[-1].rsplit(">", 1)[0]
            cols.extend(part.split(":")[0].strip() for part in inner.split(","))
    return cols


def uses_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df)


def has_partial_aggregation(df: DataFrame) -> bool:
    """Two-phase hash aggregation (map-side combine before the shuffle)."""
    return (
        _node_count(df, "HashAggregate") >= 2
        or _node_count(df, "ObjectHashAggregate") >= 2
        or _node_count(df, "SortAggregate") >= 2
    )


def whole_stage_codegen_spans(df: DataFrame) -> int:
    """Distinct ``*(n)`` codegen spans in the executed plan. Under AQE the
    final plan (with codegen markers) only exists after execution, so run a
    cheap action first — intended for small test inputs only."""
    df.collect()  # finalizes this DataFrame's own QueryExecution
    return len(set(re.findall(r"\*\((\d+)\)", simple_plan(df))))


def shuffle_count(df: DataFrame) -> int:
    return _node_count(df, "Exchange")


def unaggregated_single_partition_exchanges(df: DataFrame) -> int:
    """Count ``Exchange SinglePartition`` nodes whose subtree contains NO
    aggregation — i.e. raw input funneled through one task (the global-
    window scale killer). A single-partition exchange fed by an aggregate
    is summary-scale (e.g. prefix offsets over range counts in the
    two-pass rank plan) and is not counted. Finalizes the plan first so
    AQE's executed tree is inspected."""
    df.collect()
    lines = simple_plan(df).splitlines()

    def indent(line: str) -> int:
        return len(line) - len(line.lstrip(" :+-"))

    bad = 0
    for i, line in enumerate(lines):
        if "Exchange SinglePartition" not in line:
            continue
        base = indent(line)
        subtree = []
        for nxt in lines[i + 1 :]:
            if nxt.strip() and indent(nxt) <= base:
                break
            subtree.append(nxt)
        if not any("Aggregate" in s for s in subtree):
            bad += 1
    return bad
