"""Plan inspection utilities.

"The plan you'd want, not the first one that passed": these helpers make
physical-plan properties (pushdown, pruning, broadcast, codegen, shuffle
count) assertable in tests and inspectable in notebooks. All read-only
views over queryExecution — no plan mutation.
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def physical_plan(df: DataFrame) -> str:
    """Executed (post-AQE-planning) physical plan as text."""
    return df._jdf.queryExecution().executedPlan().toString()


def explain_formatted(df: DataFrame) -> str:
    """The full `explain("formatted")` text, captured as a string."""
    qe = df._jdf.queryExecution()
    jvm = df.sparkSession._jvm
    mode = jvm.org.apache.spark.sql.execution.ExplainMode.fromString("formatted")
    return qe.explainString(mode)


def read_schema_columns(df: DataFrame) -> list[str]:
    """Columns actually read from the scan (column pruning evidence)."""
    plan = physical_plan(df)
    cols: list[str] = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", plan):
        cols += [f.split(":")[0].strip() for f in m.group(1).split(",") if f.strip()]
    return sorted(set(cols))


def shuffle_count(df: DataFrame) -> int:
    """Number of shuffle exchanges in the physical plan — the metric that
    matters most at 100 TB. Counts EVERY shuffle flavor (hash, range,
    single-partition, round-robin) and excludes BroadcastExchange, which
    is a replication, not a shuffle. (AQE may coalesce partitions inside
    a shuffle but never removes the exchange itself.)"""
    plan = physical_plan(df)
    return sum(
        plan.count(f"Exchange {kind}")
        for kind in (
            "hashpartitioning",
            "rangepartitioning",
            "SinglePartition",
            "RoundRobinPartitioning",
        )
    )


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in physical_plan(df)


def has_whole_stage_codegen(df: DataFrame) -> bool:
    """Compact plan strings mark codegen stages with `*(n)` prefixes
    (the formatted mode spells out WholeStageCodegen)."""
    plan = physical_plan(df)
    return "WholeStageCodegen" in plan or re.search(r"\*\(\d+\)", plan) is not None


def has_broadcast(df: DataFrame) -> bool:
    """Any broadcast (hash OR nested-loop): the small side replicates
    instead of shuffling the big side."""
    return "BroadcastExchange" in physical_plan(df)


def exchange_partitioning(df: DataFrame) -> str:
    """Concatenated partitioning expressions of every shuffle exchange in
    the plan — lets tests assert WHAT a shuffle carries/keys on (e.g.
    'embedding' must not appear in any exchange of a corpus-stationary
    algorithm), not just how many exchanges exist."""
    plan = physical_plan(df)
    return " | ".join(
        m.group(0)
        for m in re.finditer(
            r"Exchange (?:hash|range)partitioning\([^)]*\)", plan
        )
    )


def unpartitioned_window_count(df: DataFrame) -> int:
    """Number of WindowExec nodes with NO partition spec — the
    single-reducer anti-pattern ("No Partition Defined for Window
    operation" at runtime: ALL rows move to one task). A physical
    Window node prints as `Window [exprs], [partCols], [orderCols]`
    when partitioned and `Window [exprs], [orderCols]` when not, so a
    node with fewer than three top-level bracket groups is global.
    WindowGroupLimit nodes (rank-pushdown helpers) are excluded — they
    carry their own bracket shape and never sort globally on their own."""
    plan = physical_plan(df)
    n = 0
    for line in plan.splitlines():
        stripped = line.strip()
        if "WindowGroupLimit" in stripped:
            continue
        m = re.search(r"\bWindow\s+\[", stripped)
        if not m:
            continue
        seg = stripped[m.end() - 1 :]
        depth, groups = 0, 0
        for ch in seg:
            if ch == "[":
                if depth == 0:
                    groups += 1
                depth += 1
            elif ch == "]":
                depth -= 1
        if groups < 3:
            n += 1
    return n
