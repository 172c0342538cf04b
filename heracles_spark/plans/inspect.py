"""Physical-plan introspection over the formatted explain output."""

from __future__ import annotations

import re

from pyspark.sql import DataFrame


def executed_plan_string(df: DataFrame, mode: str = "formatted") -> str:
    jvm = df.sparkSession._jvm
    return df._jdf.queryExecution().explainString(
        jvm.org.apache.spark.sql.execution.ExplainMode.fromString(mode))


def pushed_filters(df: DataFrame) -> list[str]:
    """Filters that reached the parquet scan (≙ the reference's pushdown
    classifier output, ScanPredClassifier.scala:27-143)."""
    text = executed_plan_string(df)
    out: list[str] = []
    for m in re.finditer(r"PushedFilters: \[([^\]]*)\]", text):
        body = m.group(1).strip()
        # split on commas at paren depth 0 only (filter exprs contain commas)
        buf, depth = [], 0
        for ch in body:
            if ch == "(":
                depth += 1
            elif ch == ")":
                depth -= 1
            if ch == "," and depth == 0:
                out.append("".join(buf).strip())
                buf = []
            else:
                buf.append(ch)
        if buf:
            out.append("".join(buf).strip())
    return out


def read_schema_columns(df: DataFrame) -> list[list[str]]:
    """Column sets actually read from each scan (column-pruning check)."""
    text = executed_plan_string(df)
    out = []
    for m in re.finditer(r"ReadSchema: struct<([^>]*)>", text):
        out.append([c.split(":")[0] for c in m.group(1).split(",") if c])
    return out


def has_node(df: DataFrame, node: str) -> bool:
    return node in executed_plan_string(df, "simple")


def count_exchanges(df: DataFrame) -> int:
    """Number of shuffle exchanges (excludes broadcast exchanges)."""
    return len(re.findall(r"Exchange (?:hash|range)partitioning",
                          executed_plan_string(df, "simple")))


def plan_node_names(plan) -> list[str]:
    """Class names of every node in a JVM plan tree (logical or
    physical), walked structurally rather than parsed from explain text.
    AQE wrappers are entered: ``AdaptiveSparkPlanExec`` through its
    current (after execution: final) plan, query stages through the
    plan they wrap, reused exchanges through the exchange they reuse."""
    out, stack = [], [plan]
    while stack:
        node = stack.pop()
        name = node.getClass().getSimpleName()
        out.append(name)
        if name == "AdaptiveSparkPlanExec":
            stack.append(node.executedPlan())
        elif name.endswith("QueryStageExec"):
            stack.append(node.plan())
        elif name == "ReusedExchangeExec":
            stack.append(node.child())
        seq = node.children()
        stack.extend(seq.apply(i) for i in range(seq.size()))
    return out
