"""UES pessimistic join ordering (upper-bound driven).

Re-implements the *algorithm* of the reference's UES optimizer
(rbergm/PostBOUND ``postbound/opt/ues.py:959`` ``UESJoinOrderOptimizer``;
``UESBoundEstimator`` ``:670-800``; ``MaxFrequencyStats`` ``:300``;
branching policies ``:809-958``; Hertzschuch et al., "Simplicity Done Right
for Join Ordering", CIDR'21 — cited at ``ues.py:24``) against Spark
statistics. Nothing is copied: the published formulae are expressed over our
JoinGraph/Statistics interfaces.

The published bound formulae (exact, including ceil and zero-propagation):

- **PK/FK join**:   ``ceil(freq(fk_col) x |PK table|)``
- **n:m join**:     ``ceil(min(b1/f1, b2/f2) x f1 x f2)`` where ``b`` is the
  side's current upper bound (intermediate bound for consumed tables, base
  estimate otherwise) and ``f`` its join-column max frequency; any zero
  input -> 0.

Pessimistic frequency updates on each n:m join (``MaxFrequencyStats``
``:333-345``): the two partner columns' frequencies multiply by each other;
every third-party join column already in the intermediate multiplies by the
smallest of the newly joined table's partner-column frequencies.

Subquery branching (``UESSubqueryPolicy`` ``:905``, "defensive"): when the
n:m partner table's upper bound has been reduced below its base estimate by
an applicable PK/FK join, that PK/FK join executes *inside a branch* (bushy
subtree) before the n:m join, guaranteeing the reduction is realized. The
``LinearJoinTreePolicy`` (``:887``) keeps every path linear instead.

At cluster scale the pessimistic order's value is shuffle-volume control —
every intermediate is bounded above, so no join blows past its partition
budget.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession

from postbound_spark.optimizer.joingraph import JoinEdge
from postbound_spark.optimizer.jointree import JoinTree
from postbound_spark.optimizer.stages import JoinOrderOptimization, QuerySpec
from postbound_spark.optimizer.stats import table_profiles

__all__ = [
    "UESJoinOrderOptimizer",
    "UESBoundEstimator",
    "MaxFrequencyStatsContainer",
    "LinearJoinTreePolicy",
    "UESSubqueryPolicy",
]


class MaxFrequencyStatsContainer:
    """Base-table estimates + per-column max frequencies + per-table upper
    bounds, with the published pessimistic update rules (ref
    ``MaxFrequencyStats`` opt/ues.py:300; container protocol ``:161``)."""

    def __init__(
        self,
        base_estimates: dict[str, float],
        frequencies: dict[tuple[str, str], float],
    ):
        self.base_estimates = dict(base_estimates)
        self.frequencies = dict(frequencies)
        self.upper_bounds: dict[str, float] = {}

    @classmethod
    def from_spark(
        cls, spec: QuerySpec, tables: dict[str, DataFrame]
    ) -> "MaxFrequencyStatsContainer":
        """Inflate from each filtered table's statistics profile: its row
        count and the max frequency of every join column (ref
        ``_inflate_base_table_estimates`` :242, ``_inflate_attribute_
        frequencies`` :321 — the MCV top-1 count IS the max frequency).
        :func:`~postbound_spark.optimizer.stats.table_profiles` computes
        the profiles of all the spec's tables in one Spark action and the
        session memo serves them to the DP estimators and every later plan
        of the same tables."""
        rows: dict[str, float] = {}
        freq: dict[tuple[str, str], float] = {}
        profiles = table_profiles(
            [(tables[t], spec.join_columns(t)) for t in spec.tables]
        )
        for t, profile in zip(spec.tables, profiles):
            rows[t] = float(profile.row_count)
            for col, f in profile.max_frequencies.items():
                freq[(t, col)] = float(f)
        return cls(rows, freq)

    def bound(self, table: str) -> float:
        """``_fetch_bound`` (ref :784): intermediate upper bound when one
        exists, base estimate otherwise."""
        return self.upper_bounds.get(table, self.base_estimates[table])

    def frequency(self, table: str, col: str) -> float:
        return self.frequencies.get((table, col), 1.0)

    def update_frequencies_after_join(
        self, joined_table: str, edge: JoinEdge, consumed_columns: set[tuple[str, str]]
    ) -> None:
        """Pessimistic post-join update (ref ``trigger_frequency_update``
        :161 + ``MaxFrequencyStats._update_*`` :333-345)."""
        if joined_table == edge.left_table:
            jt, jc, pt, pc = edge.left_table, edge.left_col, edge.right_table, edge.right_col
        else:
            jt, jc, pt, pc = edge.right_table, edge.right_col, edge.left_table, edge.left_col
        f_joined = self.frequency(jt, jc)
        f_partner = self.frequency(pt, pc)
        # partner columns multiply by each other
        self.frequencies[(jt, jc)] = f_joined * f_partner
        self.frequencies[(pt, pc)] = f_partner * f_joined
        # third-party columns multiply by the smallest joined-column freq
        for tbl, col in consumed_columns:
            if (tbl, col) in ((jt, jc), (pt, pc)):
                continue
            self.frequencies[(tbl, col)] = self.frequency(tbl, col) * f_joined


class UESBoundEstimator:
    """The published UES bound formulae (ref ``UESBoundEstimator``
    opt/ues.py:670-800), as pure functions over a stats container."""

    def __init__(self, stats: MaxFrequencyStatsContainer):
        self.stats = stats

    def pk_fk_bound(self, fk_table: str, fk_col: str, pk_table: str) -> float:
        """``ceil(freq(fk_col) x |PK table|)`` (ref ``_estimate_pk_fk_join``
        :724-746)."""
        fk_frequency = self.stats.frequency(fk_table, fk_col)
        pk_cardinality = self.stats.base_estimates[pk_table]
        if fk_frequency == 0 or pk_cardinality == 0:
            return 0.0
        return float(math.ceil(fk_frequency * pk_cardinality))

    def n_m_bound(
        self, t1: str, c1: str, t2: str, c2: str
    ) -> float:
        """``ceil(min(b1/f1, b2/f2) x f1 x f2)`` with zero-propagation
        (ref ``_estimate_n_m_join`` :748-782)."""
        b1, b2 = self.stats.bound(t1), self.stats.bound(t2)
        f1 = self.stats.frequency(t1, c1)
        f2 = self.stats.frequency(t2, c2)
        if 0 in (b1, b2, f1, f2):
            return 0.0
        distinct1, distinct2 = b1 / f1, b2 / f2
        return float(math.ceil(min(distinct1, distinct2) * f1 * f2))

    def estimate_edge(self, edge: JoinEdge) -> float:
        """Min over the edge's base predicates — our edges are single-column,
        so conjunctive predicates arrive as parallel edges and the optimizer
        takes the min across them (ref ``estimate_for`` :698-714)."""
        fk = edge.fk_table()
        if fk is not None:
            fk_col = edge.left_col if fk == edge.left_table else edge.right_col
            return self.pk_fk_bound(fk, fk_col, edge.pk_table())
        return self.n_m_bound(
            edge.left_table, edge.left_col, edge.right_table, edge.right_col
        )


class LinearJoinTreePolicy:
    """Never branch (ref ``LinearJoinTreePolicy`` opt/ues.py:887)."""

    name = "linear"

    def generate_subquery_for(
        self, table: str, stats: MaxFrequencyStatsContainer, n_consumed: int
    ) -> bool:
        return False


class UESSubqueryPolicy:
    """Defensive branching (ref ``UESSubqueryPolicy`` opt/ues.py:905):
    branch exactly when a PK/FK join provably reduces the partner table's
    bound below its base estimate — the branch guarantees the reduction is
    applied before the expensive n:m join."""

    name = "defensive"

    def generate_subquery_for(
        self, table: str, stats: MaxFrequencyStatsContainer, n_consumed: int
    ) -> bool:
        if n_consumed < 2:
            return False
        return stats.bound(table) < stats.base_estimates[table]


class UESJoinOrderOptimizer(JoinOrderOptimization):
    """The UES main loop (ref ``UESJoinOrderOptimizer`` opt/ues.py:959):
    start from the smallest-bound n:m table, repeatedly take the n:m join
    with the lowest bound estimate, apply PK/FK joins greedily (inside a
    branch when the policy says so), with pessimistic frequency updates
    between steps."""

    def __init__(self, spark: SparkSession, subquery_policy=None):
        self.spark = spark
        self.subquery_policy = subquery_policy or UESSubqueryPolicy()

    def optimize_join_order(
        self, spec: QuerySpec, tables: dict[str, DataFrame]
    ) -> JoinTree:
        stats = MaxFrequencyStatsContainer.from_spark(spec, tables)
        return self.optimize_with_stats(spec, stats)

    def optimize_with_stats(
        self, spec: QuerySpec, stats: MaxFrequencyStatsContainer
    ) -> JoinTree:
        """Deterministic core, separated so tests can feed hand-built
        statistics and reproduce published bound values exactly."""
        estimator = UESBoundEstimator(stats)
        graph = spec.join_graph()
        consumed_columns: set[tuple[str, str]] = set()

        def columns_of(edge: JoinEdge) -> list[tuple[str, str]]:
            return [
                (edge.left_table, edge.left_col),
                (edge.right_table, edge.right_col),
            ]

        # pre-reduce every FK table's bound by its best PK/FK filter join —
        # this is what the defensive policy later compares against
        for e in spec.edges:
            fk = e.fk_table()
            if fk is None:
                continue
            fk_col = e.left_col if fk == e.left_table else e.right_col
            b = estimator.pk_fk_bound(fk, fk_col, e.pk_table())
            if b < stats.bound(fk):
                stats.upper_bounds[fk] = b

        n_m_tables = {t for e in spec.edges if not e.is_pk_fk() for t in e.tables()}
        start_pool = n_m_tables or set(spec.tables)
        start = min(start_pool, key=lambda t: (stats.bound(t), t))

        tree = JoinTree.leaf(start, stats.base_estimates[start])
        graph.mark_joined(start)
        current_bound = stats.bound(start)
        stats.upper_bounds[start] = current_bound

        def apply_pk_fk_linear(tree: JoinTree, bound: float) -> tuple[JoinTree, float]:
            """Greedy linear PK/FK application — bounds never increase past
            ``freq x |PK|`` (ref: PK/FK joins are 'free' filters)."""
            while True:
                candidates = graph.available_pk_fk_joins()
                if not candidates:
                    return tree, bound

                def bnd(e: JoinEdge) -> float:
                    fk = e.fk_table()
                    fk_col = e.left_col if fk == e.left_table else e.right_col
                    if fk in graph.joined_tables():
                        # PK side joins in: pure filter, bound unchanged
                        return bound
                    return min(bound * stats.frequency(fk, fk_col), bound * stats.base_estimates[fk])

                edge = min(candidates, key=lambda e: (bnd(e), str(e)))
                free = next(iter(edge.tables() - graph.joined_tables()))
                new_bound = bnd(edge)
                tree = JoinTree.join(
                    tree, JoinTree.leaf(free, stats.base_estimates[free]), new_bound
                )
                graph.mark_joined(free)
                consumed_columns.update(columns_of(edge))
                for t in edge.tables():
                    stats.upper_bounds[t] = new_bound
                bound = new_bound

        tree, current_bound = apply_pk_fk_linear(tree, current_bound)

        while graph.free_tables():
            candidates = graph.available_n_m_joins()
            if not candidates:
                remaining = graph.available_pk_fk_joins()
                if not remaining:
                    free = min(graph.free_tables())
                    # cross product multiplies cardinalities — the bound
                    # must multiply too, or every later annotation stops
                    # being an upper bound (the one guarantee UES makes)
                    current_bound = current_bound * stats.base_estimates[free]
                    tree = JoinTree.join(
                        tree,
                        JoinTree.leaf(free, stats.base_estimates[free]),
                        current_bound,
                    )
                    graph.mark_joined(free)
                    tree, current_bound = apply_pk_fk_linear(tree, current_bound)
                    continue
                tree, current_bound = apply_pk_fk_linear(tree, current_bound)
                continue

            def join_bound(e: JoinEdge) -> float:
                # joined side's bound is the current intermediate bound
                jt = next(iter(e.tables() & graph.joined_tables()))
                stats.upper_bounds[jt] = current_bound
                return estimator.estimate_edge(e)

            edge = min(candidates, key=lambda e: (join_bound(e), str(e)))
            partner = next(iter(edge.tables() - graph.joined_tables()))
            new_bound = join_bound(edge)

            if self.subquery_policy.generate_subquery_for(
                partner, stats, len(graph.joined_tables())
            ):
                # branch: the partner's bound-reducing PK/FK joins execute
                # inside a subtree before the n:m join (bushy tree)
                branch = JoinTree.leaf(partner, stats.base_estimates[partner])
                graph_free = set(graph.free_tables()) - {partner}
                for e2 in spec.edges:
                    if e2.fk_table() != partner:
                        continue
                    pk = e2.pk_table()
                    if pk not in graph_free:
                        continue
                    fk_col = e2.left_col if partner == e2.left_table else e2.right_col
                    if estimator.pk_fk_bound(partner, fk_col, pk) < stats.base_estimates[partner]:
                        branch = JoinTree.join(
                            branch,
                            JoinTree.leaf(pk, stats.base_estimates[pk]),
                            stats.bound(partner),
                        )
                        graph.mark_joined(pk)
                        # keep the free-snapshot current: a second parallel
                        # FK edge to the SAME pk table must not join the
                        # leaf twice (duplicate alias / cross product)
                        graph_free.discard(pk)
                        consumed_columns.update(columns_of(e2))
                tree = JoinTree.join(tree, branch, new_bound)
            else:
                tree = JoinTree.join(
                    tree, JoinTree.leaf(partner, stats.base_estimates[partner]), new_bound
                )

            graph.mark_joined(partner)
            stats.update_frequencies_after_join(partner, edge, consumed_columns)
            consumed_columns.update(columns_of(edge))
            current_bound = new_bound
            for t in graph.joined_tables():
                stats.upper_bounds[t] = current_bound
            tree, current_bound = apply_pk_fk_linear(tree, current_bound)

        return tree

    def upper_bound(self, spec: QuerySpec, tables: dict[str, DataFrame]) -> float:
        """The final pessimistic bound for the whole join (research metric)."""
        tree = self.optimize_join_order(spec, tables)
        last = list(tree.joins())[-1] if not tree.is_leaf else tree
        return last.cardinality if not math.isnan(last.cardinality) else math.inf
