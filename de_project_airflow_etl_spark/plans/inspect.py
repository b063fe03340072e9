"""Plan assertions used by tests (and by humans via .explain).

These read the formatted physical plan string — the same text
``df.explain("formatted")`` prints — and check the scale-critical
properties: filters reached the parquet scan, projections pruned the
read schema, small sides broadcast, no cartesian products sneak in.
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def formatted_plan(df: DataFrame) -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(  # type: ignore[attr-defined]
        df._jdf.queryExecution(), "formatted")


def has_pushed_filter(df: DataFrame, fragment: str) -> bool:
    """True if `fragment` appears in a scan's PushedFilters list."""
    plan = formatted_plan(df)
    return any("PushedFilters" in line and fragment in line
               for line in plan.splitlines())


def scan_read_schema(df: DataFrame) -> list[str]:
    """ReadSchema lines of every file scan in the plan."""
    return [line.strip() for line in formatted_plan(df).splitlines()
            if "ReadSchema" in line]


def has_broadcast_join(df: DataFrame) -> bool:
    return "BroadcastHashJoin" in formatted_plan(df) or \
           "BroadcastNestedLoopJoin" in formatted_plan(df)


def has_partition_filter(df: DataFrame, fragment: str) -> bool:
    plan = formatted_plan(df)
    return any("PartitionFilters" in line and fragment in line
               for line in plan.splitlines())


def _walk_jplan(jnode):
    yield jnode
    children = jnode.children()
    for i in range(children.size()):
        yield from _walk_jplan(children.apply(i))


def node_names(df: DataFrame) -> list[str]:
    """Class names of every node in the pre-AQE physical plan."""
    jplan = df._jdf.queryExecution().sparkPlan()
    return [n.getClass().getSimpleName() for n in _walk_jplan(jplan)]


def window_nodes(df: DataFrame) -> list:
    """Every WindowExec node of the pre-AQE physical plan."""
    jplan = df._jdf.queryExecution().sparkPlan()
    return [n for n in _walk_jplan(jplan)
            if n.getClass().getSimpleName().startswith("WindowExec")]


def windows_sit_above_aggregates(df: DataFrame) -> None:
    """Assert the plan has a window and that every window's input
    subtree contains an Aggregate, i.e. no window runs over raw rows."""
    windows = window_nodes(df)
    assert windows, "expected a WindowExec"
    for wnode in windows:
        sub = list(_walk_jplan(wnode.children().apply(0)))
        assert any("Aggregate" in ch.getClass().getSimpleName()
                   for ch in sub), "window consumes un-aggregated rows"


def bnlj_builds_are_scalar(df: DataFrame) -> list[str]:
    """Structural check on every BroadcastNestedLoopJoin in the
    physical plan: its broadcast side must be a SCALAR subtree — one
    containing a global (no-grouping) aggregate — i.e. the 1-row
    cutoff/threshold broadcast pattern. A data x data nested-loop
    join (candidate generation degenerated to all-pairs) has a
    broadcast side with no global aggregate and is reported.

    Returns the offending node descriptions (empty == pass). Walks
    the pre-AQE plan (queryExecution().sparkPlan()) because the
    adaptive wrapper hides its children from the TreeNode API.
    """
    offenders: list[str] = []
    jplan = df._jdf.queryExecution().sparkPlan()

    def is_scalar_side(side) -> bool:
        """True iff the side's ROOT REGION is a global (no-grouping)
        aggregate — i.e. the subtree produces one row. Peeling only
        unary wrappers (Project/Filter/Exchange/...) is what makes
        this sound: a data x data join ABOVE scalar subtrees peels
        into the 2-child join node and is rejected, even though
        global aggregates exist deeper in both branches."""
        node = side
        while True:
            cls = node.getClass().getSimpleName()
            if "Aggregate" in cls:
                try:
                    return node.groupingExpressions().isEmpty()
                except Exception:  # py4j: node without the accessor
                    return False
            # A limit-k root region produces at most k rows, so it is
            # just as broadcast-safe as a one-row global aggregate.
            # Explicit node names only: a bare "Limit" substring would
            # also match WindowGroupLimitExec, whose output is k rows
            # PER GROUP (data-sized), and wrongly bless a data build.
            # (LocalLimit is deliberately absent: k rows PER
            # PARTITION is data-sized; the peel reaches the
            # GlobalLimit above it first in any real limit plan.)
            if cls in ("TakeOrderedAndProjectExec", "GlobalLimitExec",
                       "CollectLimitExec"):
                return True
            children = node.children()
            if children.size() != 1:
                return False
            node = children.apply(0)

    # NOTE: sparkPlan() precedes EnsureRequirements, so the
    # BroadcastExchange wrapper is not in the tree yet — the BNLJ
    # node itself implies one side broadcasts. "Some side is a
    # scalar (global-aggregate) subtree" is the invariant.
    for node in _walk_jplan(jplan):
        if "BroadcastNestedLoopJoin" not in node.nodeName():
            continue
        children = node.children()
        sides = [children.apply(i) for i in range(children.size())]
        if not any(is_scalar_side(s) for s in sides):
            offenders.append(node.simpleStringWithNodeId())
    return offenders
