"""Query execution plan introspection.

Mirrors the reference's ``QueryPlan`` artifact (rbergm/PostBOUND
``postbound/_qep.py:791``: ``PlanEstimates`` cardinality+cost,
``PlanMeasures`` actuals, ``qerror():1575``, ``is_linear/is_bushy:1290``,
``canonical():1793``) over Spark's ``queryExecution``:

- **estimates** come from Catalyst's optimized logical plan statistics
  (``plan.stats`` — sizeInBytes always, rowCount when CBO/stats are on),
  the same place the reference's ``NativeCardinalityEstimator`` reads its
  backend's estimates (``opt/native.py:413``);
- **actuals** come from the executed plan's SQL metrics after an action
  (``numOutputRows``), giving per-node q-error exactly like the
  reference's EXPLAIN ANALYZE round-trip (``postgres.py:3954``).

Implementation note: both plans of an execution arrive in ONE call into
the compiled JVM helper (``jvm/PlanStatsInjector.java``, loaded by
:func:`~postbound_spark.optimizer.planstats.load_helper`), as a
:class:`PlanDigest` of post-order node lists: per logical node the name,
Catalyst's ``rowCount`` and ``sizeInBytes`` as exact decimal strings and
the row width; per physical node (AQE wrappers unwrapped) the name,
``numOutputRows`` and the base table a scan reads, resolved from the
relation itself. Every reader below consumes that digest, so reading an
executed plan costs one py4j round trip, not one per node and field.
"""

from __future__ import annotations

import json
import logging
import math
from dataclasses import dataclass, field
from functools import cached_property

from pyspark.sql import DataFrame

logger = logging.getLogger(__name__)


@dataclass
class PlanNode:
    name: str
    children: list["PlanNode"] = field(default_factory=list)
    estimated_rows: float = math.nan  # NaN = unknown (ref Cardinality NaN state)
    actual_rows: float = math.nan
    size_bytes: float = math.nan
    row_width: int = 0  # logical nodes: Catalyst's bytes per output row
    table: str | None = None  # physical scans: the base table read

    # -- reference plan utilities (_qep.py:1276-1793) ----------------------

    def depth(self) -> int:
        return 1 + max((c.depth() for c in self.children), default=0)

    def node_count(self) -> int:
        return 1 + sum(c.node_count() for c in self.children)

    def find_all(self, name_substring: str) -> list["PlanNode"]:
        out = [self] if name_substring.lower() in self.name.lower() else []
        for c in self.children:
            out.extend(c.find_all(name_substring))
        return out

    def join_nodes(self) -> list["PlanNode"]:
        return [
            n
            for key in ("join", "cartesianproduct")
            for n in self.find_all(key)
        ]

    def is_linear(self) -> bool:
        """Linear iff no join has two join-bearing children (ref
        ``_qep.py:1290``)."""
        joins = self.join_nodes()
        for j in joins:
            join_children = [c for c in j.children if c.join_nodes()]
            if len(join_children) > 1:
                return False
        return True

    def is_bushy(self) -> bool:
        return not self.is_linear()

    def qerror(self) -> float:
        """q-error = max(est, act) / min(est, act) (ref ``_qep.py:1575``);
        NaN when either side is unknown."""
        if math.isnan(self.estimated_rows) or math.isnan(self.actual_rows):
            return math.nan
        lo = max(min(self.estimated_rows, self.actual_rows), 1.0)
        hi = max(self.estimated_rows, self.actual_rows, 1.0)
        return hi / lo

    def canonical(self) -> str:
        """Order-insensitive structural form for plan comparison (ref
        ``canonical()`` ``_qep.py:1793``)."""
        if not self.children:
            return self.name
        inner = ",".join(sorted(c.canonical() for c in self.children))
        return f"{self.name}({inner})"

    def pretty(self, indent: int = 0) -> str:
        est = "" if math.isnan(self.estimated_rows) else f" est={self.estimated_rows:.0f}"
        act = "" if math.isnan(self.actual_rows) else f" act={self.actual_rows:.0f}"
        lines = [" " * indent + self.name + est + act]
        for c in self.children:
            lines.append(c.pretty(indent + 2))
        return "\n".join(lines)


class PlanDigest:
    """Both plans of one DataFrame's ``QueryExecution``, read from the JVM
    in one call on first use (so run the action first: the physical
    plan's ``numOutputRows`` actuals are read with it). Every reader of
    this module accepts a digest in place of the DataFrame, which lets a
    caller that asks several questions about one execution pay for one
    read. ``physical=False`` reads the logical plan alone, which never
    forces physical planning of a query that has not run."""

    def __init__(self, df: DataFrame, physical: bool = True):
        self.df = df
        self._with_physical = physical

    @cached_property
    def _trees(self) -> tuple[PlanNode, PlanNode | None]:
        from postbound_spark.optimizer.planstats import load_helper

        helper = load_helper(self.df.sparkSession)
        qe = self.df._jdf.queryExecution()
        raw = json.loads(helper.digest(qe, self._with_physical))
        physical = raw["physical"]
        return (
            _tree(raw["logical"], _logical_node),
            None if physical is None else _tree(physical, _physical_node),
        )

    @property
    def logical(self) -> PlanNode:
        """The optimized logical plan with Catalyst's estimates."""
        return self._trees[0]

    @property
    def physical(self) -> PlanNode:
        """The executed physical plan with its ``numOutputRows`` actuals."""
        if not self._with_physical:
            raise ValueError("this digest was read without the physical plan")
        return self._trees[1]


def plan_digest(plan: DataFrame | PlanDigest) -> PlanDigest:
    """The :class:`PlanDigest` of ``plan`` (a digest passes through)."""
    return plan if isinstance(plan, PlanDigest) else PlanDigest(plan)


def _tree(nodes: list, build) -> PlanNode:
    """Rebuild a post-order ``[name, arity, ...]`` node list as a tree."""
    stack: list[PlanNode] = []
    for name, arity, *fields in nodes:
        children = stack[len(stack) - arity:]
        del stack[len(stack) - arity:]
        stack.append(build(name, children, *fields))
    (root,) = stack
    return root


def _logical_node(name, children, rows, size, width) -> PlanNode:
    if size is None:
        logger.warning(
            "plan introspection: stats() unreadable on node %s; recording "
            "NaN estimates", name,
        )
    return PlanNode(
        name=name,
        children=children,
        estimated_rows=math.nan if rows is None else float(int(rows)),
        size_bytes=math.nan if size is None else float(int(size)),
        row_width=width,
    )


def _physical_node(name, children, rows, table) -> PlanNode:
    if rows == "unreadable":
        logger.warning(
            "plan introspection: metrics unreadable on node %s; recording "
            "NaN actuals", name,
        )
        rows = None
    return PlanNode(
        name=name,
        children=children,
        actual_rows=math.nan if rows is None else float(rows),
        table=table,
    )


def optimized_plan(plan: DataFrame | PlanDigest) -> PlanNode:
    """Catalyst's optimized logical plan with rowCount/sizeInBytes
    estimates attached (a DataFrame is not planned physically)."""
    if isinstance(plan, PlanDigest):
        return plan.logical
    return PlanDigest(plan, physical=False).logical


def executed_plan(plan: DataFrame | PlanDigest) -> PlanNode:
    """Physical plan (AQE containers unwrapped); after an action has run,
    ``numOutputRows`` metrics populate ``actual_rows`` (the EXPLAIN
    ANALYZE analog). Call ``df.collect()`` (or any action) first for
    actuals."""
    return plan_digest(plan).physical


def join_order_signature(df: DataFrame) -> str:
    """Canonical string of the join structure of the optimized plan — used
    by tests to assert a forced join order survived Catalyst."""
    root = optimized_plan(df)

    def walk(node: PlanNode) -> str:
        if "join" in node.name.lower():
            return "(" + "⋈".join(walk(c) for c in node.children if _has_scan(c)) + ")"
        if "relation" in node.name.lower() or "scan" in node.name.lower():
            return "T"
        parts = [walk(c) for c in node.children if _has_scan(c)]
        return parts[0] if len(parts) == 1 else "".join(parts)

    def _has_scan(node: PlanNode) -> bool:
        return bool(node.find_all("relation") or node.find_all("scan"))

    return walk(root)


# ---------------------------------------------------------------------------
# plan -> optimizer-artifact converters (ref _hints.py:1766 jointree_from_plan,
# :1838 operators_from_plan). The reverse direction of hint enforcement:
# read the join order / physical operators Catalyst actually chose back into
# the artifacts the optimizer stages produce, closing the
# propose -> enforce -> observe loop.
# ---------------------------------------------------------------------------

_JOIN_NODE_TO_OPERATOR = {
    "BroadcastHashJoin": "BROADCAST_HASH",
    "ShuffledHashJoin": "SHUFFLE_HASH",
    "SortMergeJoin": "SORT_MERGE",
    "BroadcastNestedLoopJoin": "BROADCAST_NL",
    "CartesianProduct": "BROADCAST_NL",
}


def _scan_table(node: PlanNode) -> str | None:
    """Table name of a physical scan leaf (the base table the digest
    resolved, else the node name); None for any other node."""
    if "Scan" in node.name or "Relation" in node.name:
        return node.table or node.name
    return None


def jointree_from_plan(plan: DataFrame | PlanDigest) -> "JoinTree":
    """ref _hints.py:1766 — the join order Catalyst chose, as a JoinTree
    (left/outer child = Spark's left side = probe/stream side)."""
    from postbound_spark.optimizer.jointree import JoinTree

    def build(node: PlanNode) -> JoinTree | None:
        table = _scan_table(node)
        if table is not None:
            return JoinTree.leaf(table)
        subtrees = [t for t in (build(c) for c in node.children) if t is not None]
        if any(j in node.name for j in _JOIN_NODE_TO_OPERATOR) and len(subtrees) == 2:
            return JoinTree.join(subtrees[0], subtrees[1])
        if not subtrees:
            return None
        if len(subtrees) == 1:
            return subtrees[0]
        # non-join multi-child node (union etc.): fold left for structure
        out = subtrees[0]
        for s in subtrees[1:]:
            out = JoinTree.join(out, s)
        return out

    tree = build(executed_plan(plan))
    if tree is None:
        raise ValueError("plan contains no recognizable scans")
    return tree


def operators_from_plan(plan: DataFrame | PlanDigest) -> dict[frozenset, "JoinOperator"]:
    """ref _hints.py:1838 — {joined-table-set: physical join operator}
    read off the executed plan; feed into PhysicalOperatorAssignment to
    replay this exact plan via hints."""
    from postbound_spark.optimizer.hints import JoinOperator

    out: dict[frozenset, JoinOperator] = {}

    def tables_below(node: PlanNode) -> frozenset:
        table = _scan_table(node)
        if table is not None:
            return frozenset({table})
        return frozenset().union(*(tables_below(c) for c in node.children))

    def walk(node: PlanNode) -> None:
        # pre-order, so a nested join with the same table set as its
        # ancestor (a side without scans) overwrites the ancestor's entry
        if _scan_table(node) is not None:
            return
        for prefix, op_name in _JOIN_NODE_TO_OPERATOR.items():
            if prefix in node.name:
                key = tables_below(node)
                if key:
                    out[key] = JoinOperator[op_name]
                break
        for c in node.children:
            walk(c)

    walk(executed_plan(plan))
    return out


def observed_join_steps(plan: DataFrame | PlanDigest) -> list[tuple["JoinOperator", float]]:
    """Post-order (physical join operator, actual output rows) per join of
    the EXECUTED plan — the training signal the TONIC loop files into its
    QEP-S trie (operator used + cardinality-as-cost).

    Pair these POSITIONALLY with a forced JoinTree's ``joins()``: the
    compiler materializes a JoinTree's joins post-order and physical
    planning maps each logical join to exactly one physical join without
    reordering across them (the same invariant ``join_qerrors`` relies
    on), so position is a join identity that stays unambiguous even for
    self-joins — where name-based matching (``operators_from_plan``)
    collapses the duplicate base-table scans into one key. Run an action
    on ``df`` first, or every actual is NaN."""
    from postbound_spark.optimizer.hints import JoinOperator

    steps: list[tuple[JoinOperator, float]] = []

    def walk(node: PlanNode) -> None:
        for child in node.children:
            walk(child)
        for prefix, op_name in _JOIN_NODE_TO_OPERATOR.items():
            if prefix in node.name:
                steps.append((JoinOperator[op_name], node.actual_rows))
                break

    walk(executed_plan(plan))
    return steps
