"""Plan-inspection helpers: assert that the physical plan is the one you
designed for — filters pushed to the scan, small sides broadcast, no
accidental cartesian products. Used by tests and the perf harness."""

from __future__ import annotations

from typing import List

from pyspark.sql import DataFrame


def executed_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def scan_lines(df: DataFrame) -> List[str]:
    return [l for l in executed_plan(df).split("\n") if "FileScan" in l]


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in executed_plan(df)


def has_broadcast_hint(df: DataFrame) -> bool:
    """True if the ANALYZED plan carries a static broadcast hint. A hint
    forces the strategy at any scale (a fact-side hint OOMs at 100 TB);
    absence means AQE is free to pick broadcast at small SF and sort-merge
    at scale."""
    plan = df._jdf.queryExecution().analyzed().toString()
    return "ResolvedHint" in plan or "UnresolvedHint" in plan

def has_cartesian(df: DataFrame) -> bool:
    plan = executed_plan(df)
    return "CartesianProduct" in plan or "BroadcastNestedLoopJoin" in plan


def pushed_filters(df: DataFrame) -> List[str]:
    out = []
    for line in scan_lines(df):
        if "DataFilters: [" in line:
            frag = line.split("DataFilters: [", 1)[1].split("]", 1)[0]
            if frag.strip():
                out.append(frag.strip())
    return out


def scan_columns(df: DataFrame) -> List[List[str]]:
    """Column lists actually read by each parquet scan (pruning check)."""
    cols = []
    for line in scan_lines(df):
        frag = line.split("FileScan parquet ", 1)[-1]
        if "[" in frag:
            inner = frag.split("[", 1)[1].split("]", 1)[0]
            cols.append([c.split("#")[0] for c in inner.split(",") if c])
    return cols
