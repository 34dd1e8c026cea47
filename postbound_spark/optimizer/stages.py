"""Optimization-pipeline stage interfaces.

Mirrors the reference's stage architecture (rbergm/PostBOUND
``postbound/_stages.py``: ``JoinOrderOptimization:411``,
``PhysicalOperatorSelection:480``, ``ParameterGeneration:532``,
``CardinalityEstimator:592``, ``CompleteOptimizationAlgorithm:377``) and
its ``MultiStageOptimizationPipeline`` (``postbound/_pipelines.py:982``):
join ordering → operator selection → cardinality/parameter generation →
enforcement. Enforcement here is DataFrame construction (hints + forced
order) instead of hint-text generation — the plan reaches Catalyst exactly
as decided (SURVEY.md §3.2 Spark mapping).

Research algorithms (UES & co.) implement these interfaces as plain Python
classes — the reference's primary extensibility surface carries over
unchanged.
"""

from __future__ import annotations

import abc
import math
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession

from postbound_spark.optimizer.hints import (
    PhysicalOperatorAssignment,
    compile_join_tree,
)
from postbound_spark.optimizer.joingraph import JoinEdge, JoinGraph
from postbound_spark.optimizer.jointree import JoinTree


@dataclass(frozen=True)
class QuerySpec:
    """Minimal join-query description the stages consume: tables + equi-join
    edges (+ optional per-table filter DataFrame transformations applied
    before joining — the reference pushes filters below joins the same
    way, EvaluationPhase machinery relalg.py:2813)."""

    tables: tuple[str, ...]
    edges: tuple[JoinEdge, ...]

    def join_graph(self) -> JoinGraph:
        return JoinGraph(list(self.tables), list(self.edges))

    def join_columns(self, table: str) -> tuple[str, ...]:
        """The sorted columns of ``table`` that some edge joins on."""
        return tuple(sorted(
            {e.left_col for e in self.edges if e.left_table == table}
            | {e.right_col for e in self.edges if e.right_table == table}
        ))


@dataclass
class PlanParameterization:
    """Per-intermediate cardinality injections (ref ``_hints.py:632``).
    Keys are frozensets of table names; consumed by cost models and (where
    Spark allows) fed into CBO via doctored statistics."""

    cardinalities: dict[frozenset[str], float] = field(default_factory=dict)

    def set_cardinality(self, tables: frozenset[str], rows: float) -> None:
        self.cardinalities[frozenset(tables)] = rows

    def cardinality_of(self, tables: frozenset[str]) -> float:
        return self.cardinalities.get(frozenset(tables), math.nan)


class OptimizationPreCheck(abc.ABC):
    """Reject unsupported query shapes before stages run (ref
    ``validation.py:219-711``)."""

    @abc.abstractmethod
    def check(self, spec: QuerySpec) -> tuple[bool, str]: ...


class EquiJoinPreCheck(OptimizationPreCheck):
    """All joins must be equi-joins and the graph connected (ref
    ``EquiJoinPreCheck`` validation.py:464)."""

    def check(self, spec: QuerySpec) -> tuple[bool, str]:
        graph = spec.join_graph()
        if graph.contains_cross_products():
            return False, "join graph is disconnected (cross product required)"
        return True, "ok"


class JoinOrderOptimization(abc.ABC):
    """ref ``_stages.py:411``."""

    @abc.abstractmethod
    def optimize_join_order(self, spec: QuerySpec, tables: dict[str, DataFrame]) -> JoinTree: ...


class PhysicalOperatorSelection(abc.ABC):
    """ref ``_stages.py:480``."""

    @abc.abstractmethod
    def select_physical_operators(
        self, spec: QuerySpec, join_order: JoinTree
    ) -> PhysicalOperatorAssignment: ...


class CardinalityEstimator(abc.ABC):
    """ref ``_stages.py:592``."""

    @abc.abstractmethod
    def estimate_cardinality(
        self, spec: QuerySpec, intermediate: frozenset[str], tables: dict[str, DataFrame]
    ) -> float: ...


class CostModel(abc.ABC):
    """ref ``_stages.py:849`` (plan costing inside PlanEnumerator)."""

    @abc.abstractmethod
    def cost(self, tree: JoinTree, params: PlanParameterization) -> float: ...


class CoutCostModel(CostModel):
    """C_out — the sum of intermediate result cardinalities, the standard
    research baseline cost function (what the textbook DP and most
    cardinality-estimation papers optimize). Injected cardinalities in the
    ``PlanParameterization`` take precedence; everything else falls back
    to the configured estimator — so C_out costing composes directly with
    the injection experiments (ref ``PlanParameterization.cardinalities``
    `_hints.py:632`)."""

    def __init__(
        self,
        spec: QuerySpec,
        tables: dict[str, DataFrame],
        estimator: "CardinalityEstimator",
    ):
        self.spec = spec
        self.tables = tables
        self.estimator = estimator

    def cost(self, tree: JoinTree, params: PlanParameterization) -> float:
        total = 0.0
        for join in tree.joins():
            subset = frozenset(join.tables())
            card = params.cardinality_of(subset)
            if math.isnan(card):
                card = self.estimator.estimate_cardinality(
                    self.spec, subset, self.tables
                )
            if math.isnan(card):
                return math.nan
            total += card
        return total


# -- identity defaults (ref opt/noopt.py:16-41) ----------------------------


class NoJoinOrderOptimization(JoinOrderOptimization):
    def optimize_join_order(self, spec: QuerySpec, tables: dict[str, DataFrame]) -> JoinTree:
        return JoinTree.left_deep(list(spec.tables))


class NoOperatorSelection(PhysicalOperatorSelection):
    def select_physical_operators(
        self, spec: QuerySpec, join_order: JoinTree
    ) -> PhysicalOperatorAssignment:
        return PhysicalOperatorAssignment()


@dataclass
class PlannedQuery:
    """The pipeline's artifact bundle (join order + operators + params) —
    the Spark analog of the reference's hinted SqlQuery."""

    spec: QuerySpec
    join_order: JoinTree
    operators: PhysicalOperatorAssignment
    parameters: PlanParameterization

    def to_dataframe(self, tables: dict[str, DataFrame]) -> DataFrame:
        return compile_join_tree(
            tables,
            self.join_order,
            list(self.spec.edges),
            self.operators,
            parameters=self.parameters,
        )


class MultiStageOptimizationPipeline:
    """ref ``_pipelines.py:982`` — precheck → join order → operators →
    parameters → enforce."""

    def __init__(
        self,
        spark: SparkSession,
        join_ordering: JoinOrderOptimization | None = None,
        operator_selection: PhysicalOperatorSelection | None = None,
        cardinality_estimator: CardinalityEstimator | None = None,
        pre_checks: list[OptimizationPreCheck] | None = None,
    ):
        self.spark = spark
        self.join_ordering = join_ordering or NoJoinOrderOptimization()
        self.operator_selection = operator_selection or NoOperatorSelection()
        self.cardinality_estimator = cardinality_estimator
        self.pre_checks = pre_checks if pre_checks is not None else [EquiJoinPreCheck()]

    def optimize_query(self, spec: QuerySpec, tables: dict[str, DataFrame]) -> PlannedQuery:
        for check in self.pre_checks:
            ok, msg = check.check(spec)
            if not ok:
                raise ValueError(f"unsupported query: {msg}")
        join_order = self.join_ordering.optimize_join_order(spec, tables)
        operators = self.operator_selection.select_physical_operators(spec, join_order)
        params = PlanParameterization()
        if self.cardinality_estimator is not None:
            seen: set[frozenset[str]] = set()
            for join in join_order.joins():
                key = frozenset(join.tables())
                if key not in seen:
                    seen.add(key)
                    params.set_cardinality(
                        key, self.cardinality_estimator.estimate_cardinality(spec, key, tables)
                    )
        return PlannedQuery(spec, join_order, operators, params)


class PlanEnumerator(abc.ABC):
    """Full-plan enumeration stage (ref ``_stages.py:849-903``): given a
    cost model and a cardinality estimator, produce the cheapest
    (join order, operator assignment) pair."""

    @abc.abstractmethod
    def generate_execution_plan(
        self,
        spec: QuerySpec,
        tables: dict[str, DataFrame],
        cost_model: "CostModel",
        cardinality_estimator: CardinalityEstimator,
    ) -> tuple[JoinTree, PhysicalOperatorAssignment]: ...


class TextbookOptimizationPipeline:
    """ref ``TextbookOptimizationPipeline`` ``_pipelines.py:475``: a single
    plan-enumerator stage wired to an explicit cost model + cardinality
    estimator (the DP-textbook architecture), instead of the multi-stage
    decomposition."""

    def __init__(
        self,
        spark: SparkSession,
        plan_enumerator: PlanEnumerator,
        cost_model: "CostModel",
        cardinality_estimator: CardinalityEstimator,
        pre_checks: list[OptimizationPreCheck] | None = None,
    ):
        self.spark = spark
        self.plan_enumerator = plan_enumerator
        self.cost_model = cost_model
        self.cardinality_estimator = cardinality_estimator
        self.pre_checks = pre_checks if pre_checks is not None else [EquiJoinPreCheck()]

    def optimize_query(self, spec: QuerySpec, tables: dict[str, DataFrame]) -> PlannedQuery:
        for check in self.pre_checks:
            ok, msg = check.check(spec)
            if not ok:
                raise ValueError(f"unsupported query: {msg}")
        join_order, operators = self.plan_enumerator.generate_execution_plan(
            spec, tables, self.cost_model, self.cardinality_estimator
        )
        params = PlanParameterization()
        seen: set[frozenset[str]] = set()
        for join in join_order.joins():
            key = frozenset(join.tables())
            if key not in seen:
                seen.add(key)
                params.set_cardinality(
                    key,
                    self.cardinality_estimator.estimate_cardinality(spec, key, tables),
                )
        return PlannedQuery(spec, join_order, operators, params)


class IntegratedOptimizationPipeline:
    """ref ``IntegratedOptimizationPipeline`` ``_pipelines.py:320``: one
    complete algorithm produces the whole PlannedQuery in a single step."""

    def __init__(self, spark: SparkSession, algorithm):
        self.spark = spark
        self.algorithm = algorithm  # callable: (spec, tables) -> PlannedQuery

    def optimize_query(self, spec: QuerySpec, tables: dict[str, DataFrame]) -> PlannedQuery:
        return self.algorithm(spec, tables)


class IncrementalOptimizationPipeline:
    """ref ``IncrementalOptimizationPipeline`` ``_stages.py:906``: start
    from an initial plan and chain plan-improvement steps, each mapping
    PlannedQuery → PlannedQuery."""

    def __init__(
        self,
        spark: SparkSession,
        initial: "MultiStageOptimizationPipeline | None" = None,
    ):
        self.spark = spark
        self.initial = initial or MultiStageOptimizationPipeline(spark)
        self.steps: list = []

    def add_step(self, step) -> "IncrementalOptimizationPipeline":
        """``step``: callable (PlannedQuery, tables) -> PlannedQuery."""
        self.steps.append(step)
        return self

    def optimize_query(self, spec: QuerySpec, tables: dict[str, DataFrame]) -> PlannedQuery:
        planned = self.initial.optimize_query(spec, tables)
        for step in self.steps:
            planned = step(planned, tables)
        return planned
