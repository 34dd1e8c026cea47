"""Physical-operator assignment and its enforcement on Spark.

The reference enforces optimizer decisions by emitting DBMS hints
(pg_hint_plan ``Leading(...)``/``HashJoin(a b)`` — rbergm/PostBOUND
``postbound/postgres.py:2210-2341``; per-table scans, GUC toggles). Spark's
equivalents (SURVEY.md §4.3):

- join **order**: build ``df.join`` calls in the JoinTree's shape with
  CBO join-reordering off — enforced *by construction*;
- join **algorithm**: per-join hints ``broadcast`` / ``merge`` /
  ``shuffle_hash`` (Catalyst honors an explicit hint over its own cost
  pick, modulo AQE safety rules); BROADCAST_NL also rides the
  ``broadcast`` hint — on the non-equi joins BNLJ is observed on, a
  broadcast-hinted side becomes the BNLJ build side;
- **build side**: which child the hint is attached to;
- whole-query toggles: ``spark.sql.join.preferSortMergeJoin``,
  ``autoBroadcastJoinThreshold``, AQE flags — the analog of the
  reference's global settings (``postbound/_hints.py:25``);
- scan types (SeqScan/IndexScan/...): vocabulary kept for plan fidelity,
  documented no-op (Spark has one scan path + pushdown; ``_core.py:400``).
"""

from __future__ import annotations

import enum
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from postbound_spark.optimizer.joingraph import JoinEdge
from postbound_spark.optimizer.jointree import JoinTree


class JoinOperator(enum.Enum):
    """Physical join vocabulary (ref: ``_core.py:422`` — NLJ, HashJoin,
    SortMergeJoin, INLJ) mapped onto Spark's join strategies."""

    BROADCAST_HASH = "broadcast"
    SHUFFLE_HASH = "shuffle_hash"
    SORT_MERGE = "merge"
    BROADCAST_NL = "broadcast_nl"

    @property
    def spark_hint(self) -> str:
        # the broadcast hint is Spark's route to BroadcastNestedLoopJoin:
        # on the non-equi/cross joins Catalyst actually picks BNLJ for, a
        # broadcast-hinted side becomes the BNLJ build side (on an equi
        # join it upgrades to broadcast-hash — strictly better, same
        # build-side memory profile). The previous shuffle_replicate_nl
        # hint produced a CartesianProduct-family join instead, breaking
        # the propose→enforce→observe round trip for observed BNLJ plans.
        if self is JoinOperator.BROADCAST_NL:
            return "broadcast"
        return self.value


class ScanOperator(enum.Enum):
    """Scan vocabulary kept for plan fidelity (ref: ``_core.py:400``).
    Spark has a single parquet scan path; Index* map to pushdown-pruned
    scans and are enforcement no-ops (documented, SURVEY.md §2.2)."""

    SEQUENTIAL = "seq_scan"
    INDEX = "index_scan"
    INDEX_ONLY = "index_only_scan"
    BITMAP = "bitmap_scan"


@dataclass(frozen=True)
class DirectionalJoinAssignment:
    """Per-join operator choice WITH forced build/probe roles (ref
    ``DirectionalJoinOperatorAssignment``, ``_hints.py:1119``).

    Spark vocabulary: ``build`` is the side the executor materializes —
    the hash table of a (broadcast/shuffled) hash join, the broadcast
    relation of a BNLJ — and ``probe`` is the streamed side. Enforcement
    is hint-side placement: Spark builds on whichever child carries the
    ``broadcast``/``shuffle_hash`` hint (BuildLeft/BuildRight in the
    physical plan), so forcing roles costs nothing beyond the hint the
    non-directional assignment already emits.

    :meth:`from_inner_outer` accepts the reference's inner/outer wording
    and applies its per-operator convention (``_hints.py:1119``
    docstring): hash joins aggregate the OUTER relation into the hash
    table and probe it with the inner; nested-loop joins re-scan the
    INNER per outer row (the side Spark must broadcast); for sort-merge
    the direction is irrelevant on both systems."""

    operator: JoinOperator
    build: frozenset[str]
    probe: frozenset[str]

    def __post_init__(self):
        if not self.build or not self.probe:
            raise ValueError("both build and probe relations must be given")

    @classmethod
    def from_inner_outer(cls, operator: JoinOperator, inner, outer):
        inner, outer = frozenset(inner), frozenset(outer)
        if operator in (JoinOperator.BROADCAST_HASH, JoinOperator.SHUFFLE_HASH):
            return cls(operator, build=outer, probe=inner)
        return cls(operator, build=inner, probe=outer)

    def tables(self) -> frozenset[str]:
        return self.build | self.probe


@dataclass
class PhysicalOperatorAssignment:
    """Per-join operator choices + global toggles (ref:
    ``postbound/_hints.py`` ``PhysicalOperatorAssignment``)."""

    join_operators: dict[frozenset[str], JoinOperator] = field(default_factory=dict)
    scan_operators: dict[str, ScanOperator] = field(default_factory=dict)
    global_settings: dict[str, str] = field(default_factory=dict)
    #: build-side subtrees to persist() before joining (the Spark analog of
    #: the reference's Materialize operator, ``_core.py:444`` — enforced by
    #: compile_join_tree)
    materialize: set = field(default_factory=set)
    #: per-join FORCED build/probe roles (ref directional assignments,
    #: ``_hints.py:1119``), keyed like ``join_operators`` by the union of
    #: joined base tables; wins over ``join_operators`` on the same join
    directional_joins: dict[frozenset[str], DirectionalJoinAssignment] = field(
        default_factory=dict
    )
    #: per-join parallel workers (ref ``JoinOperatorAssignment.
    #: parallel_workers``, ``_hints.py:1050``): enforced by hash-
    #: repartitioning BOTH join inputs on their join keys into N
    #: partitions, so the shuffle join runs with N tasks — Spark's
    #: genuine per-operator degree-of-parallelism control (the global
    #: shuffle-partition conf can only set one number for the whole
    #: query). Semantics measured on Spark 4.1: N above the session's
    #: ``spark.sql.shuffle.partitions`` is honored exactly; N at or
    #: below it is CLAMPED up to the session default by
    #: EnsureRequirements (downward sizing belongs to AQE coalescing).
    #: Meaningless for broadcast joins (no exchange); applied only when
    #: the join has equi-keys.
    parallel_workers: dict[frozenset[str], int] = field(default_factory=dict)

    def set_join_operator(self, tables: frozenset[str], op: JoinOperator) -> None:
        self.join_operators[frozenset(tables)] = op

    def set_directional_join(self, direction: DirectionalJoinAssignment) -> None:
        self.directional_joins[direction.tables()] = direction

    def set_materialize(self, tables: frozenset[str]) -> None:
        self.materialize.add(frozenset(tables))

    def set_parallel_workers(self, tables: frozenset[str], n: int) -> None:
        if n < 1:
            raise ValueError("parallel_workers must be >= 1")
        self.parallel_workers[frozenset(tables)] = n

    def operator_for(self, joined: frozenset[str]) -> JoinOperator | None:
        return self.join_operators.get(frozenset(joined))

    def directional_for(
        self, joined: frozenset[str]
    ) -> DirectionalJoinAssignment | None:
        return self.directional_joins.get(frozenset(joined))

    def apply_globals(self, spark: SparkSession) -> None:
        for key, value in self.global_settings.items():
            spark.conf.set(key, value)


#: assumed bytes/row when converting an injected cardinality to a size —
#: deliberately pessimistic (joined intermediates are wide)
INJECTED_ROW_BYTES = 64


def compile_join_tree(
    tables: dict[str, DataFrame],
    tree: JoinTree,
    edges: list[JoinEdge],
    assignment: PhysicalOperatorAssignment | None = None,
    parameters=None,
    broadcast_threshold_bytes: int = 10 << 20,
) -> DataFrame:
    """Materialize a JoinTree as a DataFrame join pipeline.

    Joins are emitted post-order, so Catalyst receives exactly the forced
    shape; per-join operators become hints on the *inner* (build) side.
    Cross products appear automatically when no edge connects the sides
    (the reference models them as explicit CrossProduct nodes).

    ``parameters`` (a ``PlanParameterization``, ref ``_hints.py:632``)
    carries per-intermediate cardinality injections for the tree built
    here: when the build side's table set has an injected row count, that
    number — not Catalyst's estimate — decides broadcast vs sort-merge,
    pinned via the join hint. This is the pg_lab ``Card`` capability (ref
    ``postgres.py:2343``) expressed through enforcement-by-construction,
    keyed by alias sets; an explicit operator in ``assignment`` still wins
    over the derived one. For SQL that Catalyst plans itself, the channel
    is :class:`~postbound_spark.optimizer.planstats.PlanTimeCardinalityInjector`,
    which seeds the intermediates' ``Statistics`` at plan time.
    """
    import math

    assignment = assignment or PhysicalOperatorAssignment()

    def injected_operator(build_tables: set[str]) -> JoinOperator | None:
        if parameters is None:
            return None
        card = parameters.cardinality_of(frozenset(build_tables))
        if math.isnan(card):
            return None
        if card * INJECTED_ROW_BYTES <= broadcast_threshold_bytes:
            return JoinOperator.BROADCAST_HASH
        return JoinOperator.SORT_MERGE

    def build(node: JoinTree) -> tuple[DataFrame, set[str]]:
        if node.is_leaf:
            return tables[node.table].alias(node.table), {node.table}
        left_df, left_tables = build(node.outer)
        right_df, right_tables = build(node.inner)
        cond = None
        left_keys: list[str] = []
        right_keys: list[str] = []
        for e in edges:
            ts = e.tables()
            if len(ts & left_tables) == 1 and len(ts & right_tables) == 1:
                lt, lc, rt, rc = e.left_table, e.left_col, e.right_table, e.right_col
                if lt in right_tables:  # orient predicate left->right
                    lt, lc, rt, rc = rt, rc, lt, lc
                clause = F.col(f"{lt}.{lc}") == F.col(f"{rt}.{rc}")
                cond = clause if cond is None else (cond & clause)
                left_keys.append(f"{lt}.{lc}")
                right_keys.append(f"{rt}.{rc}")
        if frozenset(right_tables) in assignment.materialize:
            # Materialize → persist (ref _core.py:444 mapping, SURVEY §2.7):
            # the NL costing assumes the inner is computed once, so enforce it
            right_df = right_df.persist()
        joined_key = frozenset(left_tables | right_tables)
        workers = assignment.parallel_workers.get(joined_key)
        forced_op = assignment.operator_for(joined_key)
        direction = assignment.directional_for(joined_key)
        # Resolve the EFFECTIVE operator once (explicit assignment, then
        # directional assignment, then the cardinality-injected
        # derivation) — the workers block must see the injected operator
        # too, or an injected broadcast still repartition()s both inputs
        # into two useless shuffles in front of a broadcast join
        # (advisor-found, round 8).
        fallback_op = (
            forced_op if forced_op is not None
            else injected_operator(right_tables)
        )
        _BCAST = (JoinOperator.BROADCAST_HASH, JoinOperator.BROADCAST_NL)
        broadcast_forced = fallback_op in _BCAST or (
            direction is not None and direction.operator in _BCAST
        )
        if workers and cond is not None and left_keys and not broadcast_forced:
            # per-join degree of parallelism (ref parallel_workers,
            # _hints.py:1050): hash-repartition BOTH inputs on the join
            # keys into exactly N partitions — the shuffle join then runs
            # with N tasks. Skipped for broadcast joins, forced or
            # injected (no exchange to size).
            left_df = left_df.repartition(
                workers, *[F.col(k) for k in left_keys]
            )
            right_df = right_df.repartition(
                workers, *[F.col(k) for k in right_keys]
            )
        if direction is not None and direction.build == frozenset(left_tables):
            # forced build side is the LEFT subtree: hint-side placement
            # flips Spark to BuildLeft (ref DirectionalJoinOperatorAssignment
            # enforcement, _hints.py:1119)
            left_df = left_df.hint(direction.operator.spark_hint)
        elif direction is not None and direction.build == frozenset(right_tables):
            right_df = right_df.hint(direction.operator.spark_hint)
        elif fallback_op is not None:
            # (a direction whose build set matches NEITHER subtree cannot
            # correspond to this tree shape — fall back to the
            # non-directional assignment, then the injected derivation,
            # rather than mis-hint a side)
            right_df = right_df.hint(fallback_op.spark_hint)
        if cond is None:
            joined = left_df.crossJoin(right_df)
        else:
            joined = left_df.join(right_df, on=cond, how="inner")
        return joined, left_tables | right_tables

    df, _ = build(tree)
    return df


def apply_join_hints_to_relalg(node, assignment: PhysicalOperatorAssignment):
    """Rebuild a relalg tree with per-join algorithm hints from an
    operator assignment: every inner ThetaJoin whose covered base-relation
    identifier set (aliases when present) has an operator in
    ``assignment`` gets its ``hint`` field set; the compiler attaches the
    hint to the join's build (right) side.

    This is the enforcement bridge from the optimizer artifacts to the
    parse→relalg→compile path — the reference's equivalent step renders
    pg_hint_plan ``HashJoin(a b)`` blocks (``postgres.py:2210-2341``);
    here the hint rides the IR node the forced join order already built.
    Frozen dataclass trees are rebuilt structurally; untouched subtrees
    are shared, and an explicit pre-existing hint is preserved (explicit
    wins over the learned/derived assignment)."""
    from dataclasses import fields, replace as _dc_replace

    from postbound_spark.plans import relalg as ra

    def rebuild(n):
        if not isinstance(n, ra.RelNode):
            return n, frozenset()
        kwargs = {}
        covered: frozenset[str] = frozenset()
        child_covers: dict[str, frozenset[str]] = {}
        for f in fields(n):
            value = getattr(n, f.name)
            if isinstance(value, ra.RelNode):
                new_child, child_covered = rebuild(value)
                covered |= child_covered
                child_covers[f.name] = child_covered
                if new_child is not value:
                    kwargs[f.name] = new_child
        if isinstance(n, ra.Relation):
            ident = n.alias or n.table
            covered = frozenset([ident]) if ident else covered
        if isinstance(n, ra.ThetaJoin) and n.how == "inner" and n.hint is None:
            direction = assignment.directional_for(covered)
            if direction is not None and direction.build in (
                child_covers.get("left"),
                child_covers.get("right"),
            ):
                # forced build/probe roles ride the hint SIDE (ref
                # DirectionalJoinAssignment, _hints.py:1119) — the
                # compiler hints whichever child is named
                kwargs["hint"] = direction.operator.spark_hint
                kwargs["hint_side"] = (
                    "left"
                    if direction.build == child_covers.get("left")
                    else "right"
                )
            else:
                op = assignment.operator_for(covered)
                if op is not None:
                    kwargs["hint"] = op.spark_hint
        return (_dc_replace(n, **kwargs) if kwargs else n), covered

    rebuilt, _ = rebuild(node)
    return rebuilt
