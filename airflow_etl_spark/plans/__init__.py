"""Plan-inspection helpers — the engine's .explain feedback loop.

Used by tests/bench to assert optimizer behavior (pushdown happened, the
join went broadcast, codegen spans are wide) rather than guessing.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted"
    )


def physical_plan(df: DataFrame) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


_TREE_PREFIX = " :+-"


def _nodes(plan: str) -> list[tuple[int, str]]:
    """(depth, node-text) per line of a physical-plan tree string; depth is
    the length of the tree-drawing prefix (spaces, ':', '+', '-')."""
    out = []
    for line in plan.splitlines():
        i = 0
        while i < len(line) and line[i] in _TREE_PREFIX:
            i += 1
        if i < len(line):
            out.append((i, line[i:]))
    return out


def single_partition_window_feeds(df: DataFrame) -> list[str]:
    """Every ``Exchange SinglePartition`` whose nearest ancestors include a
    Window — the single-reducer global-window anti-pattern (VERDICT r8 #2):
    an unpartitioned ``row_number()/ntile()/sum() OVER (ORDER BY …)``
    funnels the whole relation through ONE task. Global aggregates also
    exchange to a single partition (partial → final) but are combine-bounded
    and never flagged — only a Window within three ancestor hops trips the
    lint. Returns the offending Window node texts (empty = clean)."""
    lines = _nodes(physical_plan(df))
    hits = []
    for idx, (d, text) in enumerate(lines):
        if not text.startswith("Exchange SinglePartition"):
            continue
        ancestors: list[str] = []
        cur = d
        for j in range(idx - 1, -1, -1):
            dj, tj = lines[j]
            if dj < cur:
                ancestors.append(tj)
                cur = dj
            if len(ancestors) >= 3:
                break
        windows = [a for a in ancestors if "Window" in a]
        if windows:
            hits.append(windows[0])
    return hits

