"""Optimizer instrumentation layer (SURVEY.md §3/§4).

The reference (rbergm/PostBOUND) is a framework for *studying* query
optimization: researchers supply join-ordering / operator-selection /
cardinality stages and the framework enforces their decisions on a real
backend. This package is that framework re-based on Spark: stages emit
JoinTree / PhysicalOperatorAssignment / PlanParameterization artifacts,
and enforcement is DataFrame construction (forced join order + join
hints + conf toggles) instead of hint text.
"""

from postbound_spark.optimizer.cardinalities import (
    CardinalityDistortion,
    PreciseCardinalities,
    PreComputedCardinalities,
)
from postbound_spark.optimizer.enumeration import (
    all_linear_join_orders,
    random_bushy_join_order,
)
from postbound_spark.optimizer.analysis import (
    jointree_similarity,
    plan_diff,
    possible_plans_bound,
)
from postbound_spark.optimizer.dynprog import DynamicProgrammingEnumerator
from postbound_spark.optimizer.hints import (
    DirectionalJoinAssignment,
    JoinOperator,
    PhysicalOperatorAssignment,
    ScanOperator,
    compile_join_tree,
)
from postbound_spark.optimizer.joingraph import JoinEdge, JoinGraph, pk_fk_edges_for
from postbound_spark.optimizer.jointree import JoinTree
from postbound_spark.optimizer.qep import (
    PlanDigest,
    PlanNode,
    executed_plan,
    join_order_signature,
    optimized_plan,
    plan_digest,
)
from postbound_spark.optimizer.stages import (
    CardinalityEstimator,
    CostModel,
    EquiJoinPreCheck,
    JoinOrderOptimization,
    IncrementalOptimizationPipeline,
    IntegratedOptimizationPipeline,
    MultiStageOptimizationPipeline,
    PlanEnumerator,
    TextbookOptimizationPipeline,
    NoJoinOrderOptimization,
    NoOperatorSelection,
    CoutCostModel,
    OptimizationPreCheck,
    PhysicalOperatorSelection,
    PlannedQuery,
    PlanParameterization,
    QuerySpec,
)
from postbound_spark.optimizer.tonic import TonicOperatorSelection
from postbound_spark.optimizer.native import (
    CatalystCardinalityEstimator,
    CatalystCostModel,
    CatalystNativeOptimizer,
)
from postbound_spark.optimizer.learned import (
    CardCorrector,
    LearnedCardinalityEstimator,
    fit_card_corrector,
    training_samples_from_intermediates,
)
from postbound_spark.optimizer.stats import ColumnStats, EmulatedStatistics, NativeStatistics
from postbound_spark.optimizer.pgdp import PostgresStyleDynProg
from postbound_spark.optimizer.ues import UESJoinOrderOptimizer

__all__ = [
    "CardCorrector",
    "CardinalityDistortion",
    "CardinalityEstimator",
    "ColumnStats",
    "CostModel",
    "CoutCostModel",
    "DynamicProgrammingEnumerator",
    "EmulatedStatistics",
    "CatalystCardinalityEstimator",
    "CatalystCostModel",
    "CatalystNativeOptimizer",
    "EquiJoinPreCheck",
    "DirectionalJoinAssignment",
    "JoinEdge",
    "JoinGraph",
    "JoinOperator",
    "JoinOrderOptimization",
    "JoinTree",
    "LearnedCardinalityEstimator",
    "IncrementalOptimizationPipeline",
    "IntegratedOptimizationPipeline",
    "MultiStageOptimizationPipeline",
    "PlanEnumerator",
    "TextbookOptimizationPipeline",
    "NativeStatistics",
    "NoJoinOrderOptimization",
    "NoOperatorSelection",
    "OptimizationPreCheck",
    "PhysicalOperatorAssignment",
    "PhysicalOperatorSelection",
    "PlanDigest",
    "PlanNode",
    "PlannedQuery",
    "PlanParameterization",
    "PostgresStyleDynProg",
    "PreciseCardinalities",
    "PreComputedCardinalities",
    "QuerySpec",
    "ScanOperator",
    "TonicOperatorSelection",
    "UESJoinOrderOptimizer",
    "all_linear_join_orders",
    "compile_join_tree",
    "executed_plan",
    "fit_card_corrector",
    "join_order_signature",
    "jointree_similarity",
    "optimized_plan",
    "pk_fk_edges_for",
    "plan_diff",
    "plan_digest",
    "possible_plans_bound",
    "random_bushy_join_order",
    "training_samples_from_intermediates",
]
