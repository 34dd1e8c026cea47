"""Optimizer instrumentation layer tests (SURVEY.md §3/§4).

The key end-to-end property (the reference's own optimizer test pattern,
tests/test_ues_optimization.py: "optimized queries still return identical
results"): any forced join order / operator assignment must produce the
same result set as Catalyst's default plan.
"""

from __future__ import annotations

import math

import pytest
from pyspark.sql import functions as F

from postbound_spark.catalog import load_tables
from postbound_spark.optimizer import (
    EmulatedStatistics,
    JoinEdge,
    JoinOperator,
    JoinTree,
    MultiStageOptimizationPipeline,
    PhysicalOperatorAssignment,
    PreciseCardinalities,
    QuerySpec,
    UESJoinOrderOptimizer,
    all_linear_join_orders,
    compile_join_tree,
    executed_plan,
    optimized_plan,
    pk_fk_edges_for,
    random_bushy_join_order,
)

TABLES_5 = ["region", "nation", "customer", "orders", "lineitem"]


@pytest.fixture(scope="module")
def spec():
    return QuerySpec(tuple(TABLES_5), tuple(pk_fk_edges_for(TABLES_5)))


@pytest.fixture(scope="module")
def tdfs(spark, sf_small):
    return load_tables(spark, sf_small, TABLES_5)


# -- join tree -------------------------------------------------------------


def test_jointree_shapes():
    t = JoinTree.left_deep(["a", "b", "c", "d"])
    assert t.tables() == ["a", "b", "c", "d"]
    assert t.is_linear() and not t.is_bushy()
    assert t.depth() == 4
    bushy = JoinTree.join(JoinTree.left_deep(["a", "b"]), JoinTree.left_deep(["c", "d"]))
    assert bushy.is_bushy()
    assert len(list(bushy.joins())) == 3


# -- join graph ------------------------------------------------------------


def test_joingraph_classification(spec):
    graph = spec.join_graph()
    assert graph.is_connected()
    edge = graph.edges_between("orders", "lineitem")[0]
    assert edge.is_pk_fk()
    assert edge.fk_table() == "lineitem"
    assert edge.pk_table() == "orders"


def test_joingraph_state_machine(spec):
    graph = spec.join_graph()
    graph.mark_joined("customer")
    avail = {frozenset(e.tables()) for e in graph.available_joins()}
    assert avail == {frozenset({"customer", "nation"}), frozenset({"customer", "orders"})}
    graph.mark_joined("orders")
    assert "lineitem" in {t for e in graph.available_joins() for t in e.tables()}


# -- forced order + operators return identical results ---------------------


def _reference_result(tdfs):
    return (
        tdfs["region"]
        .join(tdfs["nation"], F.col("r_regionkey") == F.col("n_regionkey"))
        .join(tdfs["customer"], F.col("n_nationkey") == F.col("c_nationkey"))
        .join(tdfs["orders"], F.col("c_custkey") == F.col("o_custkey"))
        .join(tdfs["lineitem"], F.col("o_orderkey") == F.col("l_orderkey"))
        .count()
    )


def test_forced_left_deep_matches_default(spec, tdfs):
    expected = _reference_result(tdfs)
    tree = JoinTree.left_deep(["lineitem", "orders", "customer", "nation", "region"])
    df = compile_join_tree(tdfs, tree, list(spec.edges))
    assert df.count() == expected


def test_forced_bushy_matches_default(spec, tdfs):
    expected = _reference_result(tdfs)
    bushy = JoinTree.join(
        JoinTree.left_deep(["region", "nation", "customer"]),
        JoinTree.left_deep(["lineitem", "orders"]),
    )
    df = compile_join_tree(tdfs, bushy, list(spec.edges))
    assert df.count() == expected


@pytest.mark.parametrize("op", list(JoinOperator))
def test_forced_operator_appears_in_plan(spec, tdfs, op):
    assignment = PhysicalOperatorAssignment()
    assignment.set_join_operator(frozenset({"orders", "lineitem"}), op)
    tree = JoinTree.left_deep(["orders", "lineitem"])
    df = compile_join_tree(
        {t: tdfs[t] for t in ("orders", "lineitem")}, tree, list(spec.edges), assignment
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    expected_node = {
        JoinOperator.BROADCAST_HASH: "BroadcastHashJoin",
        JoinOperator.SHUFFLE_HASH: "ShuffledHashJoin",
        JoinOperator.SORT_MERGE: "SortMergeJoin",
        # broadcast-NL enforcement = broadcast hint; on an equi join that
        # upgrades to broadcast-hash (same build side, better probe) — the
        # non-equi shapes BNLJ is actually observed on reproduce BNLJ
        JoinOperator.BROADCAST_NL: "BroadcastHashJoin",
    }[op]
    assert expected_node in plan or (
        op is JoinOperator.BROADCAST_NL and "BroadcastNestedLoopJoin" in plan
    ), f"{op}: {plan[:500]}"
    assert df.count() == tdfs["lineitem"].count()


@pytest.mark.parametrize("op", [JoinOperator.BROADCAST_HASH, JoinOperator.SHUFFLE_HASH])
def test_directional_assignment_flips_build_side(spec, tdfs, op):
    """Round-8 (verdict Missing #2): per-join FORCED build/probe roles (ref
    DirectionalJoinOperatorAssignment _hints.py:1119). The same join tree
    with opposite build sets must produce BuildLeft vs BuildRight in the
    physical plan — direction on command, results invariant."""
    from postbound_spark.optimizer.hints import DirectionalJoinAssignment

    tree = JoinTree.left_deep(["orders", "lineitem"])
    sub = {t: tdfs[t] for t in ("orders", "lineitem")}
    expected_rows = tdfs["lineitem"].count()
    sides = {}
    for build in ("orders", "lineitem"):
        assignment = PhysicalOperatorAssignment()
        probe = "lineitem" if build == "orders" else "orders"
        assignment.set_directional_join(
            DirectionalJoinAssignment(
                op, build=frozenset({build}), probe=frozenset({probe})
            )
        )
        df = compile_join_tree(sub, tree, list(spec.edges), assignment)
        plan = df._jdf.queryExecution().executedPlan().toString()
        node = (
            "BroadcastHashJoin"
            if op is JoinOperator.BROADCAST_HASH
            else "ShuffledHashJoin"
        )
        assert node in plan, f"{build}: {plan[:400]}"
        sides[build] = "BuildLeft" if "BuildLeft" in plan else "BuildRight"
        assert df.count() == expected_rows
    # orders is the LEFT subtree of the left-deep tree: building on it must
    # flip to BuildLeft, building on lineitem stays BuildRight
    assert sides == {"orders": "BuildLeft", "lineitem": "BuildRight"}, sides


def test_directional_assignment_on_relalg_bridge(spec, tdfs):
    """apply_join_hints_to_relalg honors directional assignments: the
    hint lands on whichever CHILD holds the forced build set (hint_side),
    and the compiled plan shows the flipped build (round-8)."""
    from postbound_spark.operators.compiler import compile_plan
    from postbound_spark.optimizer.hints import (
        DirectionalJoinAssignment,
        apply_join_hints_to_relalg,
    )
    from postbound_spark.plans import relalg as ra
    from postbound_spark.plans.algebra import parse_relalg
    from postbound_spark.plans.parser import parse_query

    tree = parse_relalg(
        parse_query(
            "SELECT count(*) AS n FROM orders, lineitem "
            "WHERE orders.o_orderkey = lineitem.l_orderkey"
        )
    )
    assignment = PhysicalOperatorAssignment()
    assignment.set_directional_join(
        DirectionalJoinAssignment(
            JoinOperator.SHUFFLE_HASH,
            build=frozenset({"orders"}),
            probe=frozenset({"lineitem"}),
        )
    )
    hinted = apply_join_hints_to_relalg(tree, assignment)
    joins = [n for n in hinted.walk() if isinstance(n, ra.ThetaJoin)]
    assert joins and joins[0].hint == "shuffle_hash"
    assert joins[0].hint_side == "left"  # orders is the left leaf
    spark = tdfs["orders"].sparkSession
    cat = {"orders": tdfs["orders"], "lineitem": tdfs["lineitem"]}
    df = compile_plan(hinted, spark, cat)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan and "BuildLeft" in plan, plan[:400]


def test_parallel_workers_sizes_the_join_exchange(spec, tdfs):
    """Round-8: per-join parallel_workers (ref _hints.py:1050) enforces
    an N-way hash partitioning on both join inputs. Above the session's
    shuffle-partition default the number is honored exactly
    (REPARTITION_BY_NUM at N); at or below it, Spark's
    EnsureRequirements clamps up to the default (measured on 4.1, pinned
    here so a behavior change surfaces). Results unchanged either way."""
    tree = JoinTree.left_deep(["orders", "lineitem"])
    sub = {t: tdfs[t] for t in ("orders", "lineitem")}
    expected_rows = tdfs["lineitem"].count()
    default = int(
        tdfs["orders"].sparkSession.conf.get("spark.sql.shuffle.partitions")
    )

    def plan_for(n: int) -> str:
        assignment = PhysicalOperatorAssignment()
        assignment.set_join_operator(
            frozenset({"orders", "lineitem"}), JoinOperator.SORT_MERGE
        )
        assignment.set_parallel_workers(frozenset({"orders", "lineitem"}), n)
        df = compile_join_tree(sub, tree, list(spec.edges), assignment)
        assert df.count() == expected_rows
        return df._jdf.queryExecution().executedPlan().toString()

    above = plan_for(default + 5)
    assert f", {default + 5})" in above and "REPARTITION_BY_NUM" in above
    below = plan_for(max(1, default - 1))
    assert f", {default})" in below and "REPARTITION_BY_NUM" in below

    with pytest.raises(ValueError, match=">= 1"):
        PhysicalOperatorAssignment().set_parallel_workers(
            frozenset({"a", "b"}), 0
        )


def test_parallel_workers_skips_repartition_for_injected_broadcast(spec, tdfs):
    """Round-9 (advisor): when the join operator comes from the
    cardinality INJECTION (not an explicit assignment) and resolves to a
    broadcast family, parallel_workers must NOT repartition the inputs —
    there is no shuffle exchange to size, so the two REPARTITION_BY_NUM
    exchanges were pure waste in front of the broadcast join."""
    from postbound_spark.optimizer.stages import PlanParameterization

    tree = JoinTree.left_deep(["orders", "lineitem"])
    sub = {t: tdfs[t] for t in ("orders", "lineitem")}
    params = PlanParameterization()
    # tiny injected build side -> injected_operator says BROADCAST_HASH
    params.set_cardinality(frozenset({"lineitem"}), 10.0)
    assignment = PhysicalOperatorAssignment()
    assignment.set_parallel_workers(frozenset({"orders", "lineitem"}), 40)
    df = compile_join_tree(
        sub, tree, list(spec.edges), assignment, parameters=params
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in plan, plan[:400]
    assert "REPARTITION_BY_NUM" not in plan, plan[:400]
    assert df.count() == tdfs["lineitem"].count()


def test_intermediate_cardinality_changes_physical_plan(tdfs):
    """Per-intermediate injection (ref pg_lab Card hints, postgres.py:2343):
    the SAME join tree planned under two different injected cardinalities
    for the {orders, customer} intermediate must yield two different
    physical plans — broadcast of the intermediate when the injected count
    is tiny, sort-merge when it is huge."""
    from postbound_spark.optimizer.stages import PlanParameterization

    tree = JoinTree.join(
        JoinTree.leaf("lineitem"),
        JoinTree.join(JoinTree.leaf("orders"), JoinTree.leaf("customer")),
    )
    edges = [
        JoinEdge("lineitem", "l_orderkey", "orders", "o_orderkey"),
        JoinEdge("orders", "o_custkey", "customer", "c_custkey"),
    ]

    def plan_with(card: float) -> str:
        params = PlanParameterization()
        params.set_cardinality(frozenset({"orders", "customer"}), card)
        df = compile_join_tree(tdfs, tree, edges, parameters=params)
        return df._jdf.queryExecution().executedPlan().toString()

    tiny = plan_with(10.0)
    huge = plan_with(1e9)
    assert "BroadcastHashJoin" in tiny
    assert "SortMergeJoin" in huge
    assert tiny != huge

    # identical rows either way: injection changes the plan, never results
    params = PlanParameterization()
    params.set_cardinality(frozenset({"orders", "customer"}), 10.0)
    a = compile_join_tree(tdfs, tree, edges, parameters=params).count()
    params.set_cardinality(frozenset({"orders", "customer"}), 1e9)
    b = compile_join_tree(tdfs, tree, edges, parameters=params).count()
    assert a == b


def test_directional_inner_outer_convention():
    """from_inner_outer applies the reference's per-operator wording:
    hash joins build on the OUTER, nested-loop joins materialize the
    INNER (ref _hints.py:1119 docstring)."""
    from postbound_spark.optimizer.hints import DirectionalJoinAssignment

    hash_dir = DirectionalJoinAssignment.from_inner_outer(
        JoinOperator.BROADCAST_HASH, inner={"a"}, outer={"b"}
    )
    assert hash_dir.build == frozenset({"b"})
    nl_dir = DirectionalJoinAssignment.from_inner_outer(
        JoinOperator.BROADCAST_NL, inner={"a"}, outer={"b"}
    )
    assert nl_dir.build == frozenset({"a"})
    with pytest.raises(ValueError, match="build and probe"):
        DirectionalJoinAssignment(
            JoinOperator.SORT_MERGE, build=frozenset(), probe=frozenset({"a"})
        )


# -- statistics ------------------------------------------------------------


def test_emulated_statistics(spark, tdfs):
    stats = EmulatedStatistics(spark)
    nation = tdfs["nation"]
    assert stats.row_count(nation) == 25
    assert stats.distinct_count(nation, "n_regionkey") == 5
    lo, hi = stats.min_max(nation, "n_nationkey")
    assert (lo, hi) == (0, 24)
    assert stats.max_frequency(nation, "n_regionkey") == 5
    mcv = stats.most_common_values(nation, "n_regionkey", k=2)
    assert len(mcv) == 2 and mcv[0][1] == 5
    hist = stats.histogram(nation, "n_nationkey", buckets=4)
    assert hist[0] == 0 and hist[-1] == 24 and len(hist) == 5


# -- cardinalities ---------------------------------------------------------


def test_precise_cardinalities(spec, tdfs):
    est = PreciseCardinalities()
    got = est.estimate_cardinality(spec, frozenset({"orders", "lineitem"}), tdfs)
    expected = (
        tdfs["orders"]
        .join(tdfs["lineitem"], F.col("o_orderkey") == F.col("l_orderkey"))
        .count()
    )
    assert got == float(expected)


# -- enumeration -----------------------------------------------------------


def test_all_linear_orders_small():
    spec3 = QuerySpec(
        ("region", "nation", "customer"), tuple(pk_fk_edges_for(["region", "nation", "customer"]))
    )
    orders = [tuple(t.tables()) for t in all_linear_join_orders(spec3)]
    assert len(orders) == len(set(orders))
    # chain graph region-nation-customer: 4 connected linear orders
    assert set(orders) == {
        ("region", "nation", "customer"),
        ("nation", "region", "customer"),
        ("nation", "customer", "region"),
        ("customer", "nation", "region"),
    }


def test_random_bushy_reproducible(spec):
    t1 = random_bushy_join_order(spec, seed=7)
    t2 = random_bushy_join_order(spec, seed=7)
    assert str(t1) == str(t2)
    assert sorted(t1.tables()) == sorted(TABLES_5)


# -- UES -------------------------------------------------------------------


def test_ues_join_order_valid_and_correct(spark, spec, tdfs):
    ues = UESJoinOrderOptimizer(spark)
    tree = ues.optimize_join_order(spec, tdfs)
    assert sorted(tree.tables()) == sorted(TABLES_5)
    df = compile_join_tree(tdfs, tree, list(spec.edges))
    assert df.count() == _reference_result(tdfs)


# -- pipeline end-to-end ---------------------------------------------------


def test_multistage_pipeline(spark, spec, tdfs):
    pipeline = MultiStageOptimizationPipeline(
        spark, join_ordering=UESJoinOrderOptimizer(spark)
    )
    planned = pipeline.optimize_query(spec, tdfs)
    assert sorted(planned.join_order.tables()) == sorted(TABLES_5)
    assert planned.to_dataframe(tdfs).count() == _reference_result(tdfs)


# -- plan introspection ----------------------------------------------------


def test_plan_introspection(spec, tdfs):
    tree = JoinTree.left_deep(["region", "nation"])
    df = compile_join_tree({t: tdfs[t] for t in ("region", "nation")}, tree, list(spec.edges))
    opt = optimized_plan(df)
    assert opt.join_nodes(), opt.pretty()
    assert opt.depth() >= 2
    df.collect()
    execd = executed_plan(df)
    joins = execd.join_nodes()
    assert joins
    # after execution the join's numOutputRows metric is populated
    assert any(not math.isnan(j.actual_rows) and j.actual_rows == 25 for j in joins), execd.pretty()


# -- DP enumeration + plan-space analysis ----------------------------------


def test_dp_enumerator_optimal_and_correct(spark, spec, tdfs):
    from postbound_spark.optimizer.analysis import (
        jointree_similarity,
        plan_diff,
        possible_plans_bound,
    )
    from postbound_spark.optimizer.dynprog import DynamicProgrammingEnumerator

    est = PreciseCardinalities()
    dp = DynamicProgrammingEnumerator(est)
    tree = dp.optimize_join_order(spec, tdfs)
    assert sorted(tree.tables()) == sorted(TABLES_5)
    # DP with true cardinalities must return identical results
    df = compile_join_tree(tdfs, tree, list(spec.edges))
    assert df.count() == _reference_result(tdfs)
    # left-deep-restricted DP can never beat bushy DP under the same costs
    dp_linear = DynamicProgrammingEnumerator(est, bushy=False)
    linear_tree = dp_linear.optimize_join_order(spec, tdfs)
    assert linear_tree.is_linear()
    assert dp.plan_cost(spec, tdfs) <= dp_linear.plan_cost(spec, tdfs)
    # analysis utilities
    assert possible_plans_bound(spec, "left-deep") == 120
    assert 0.0 <= jointree_similarity(tree, linear_tree) <= 1.0
    assert jointree_similarity(tree, tree) == 1.0
    diff = plan_diff(tree, linear_tree)
    assert frozenset(TABLES_5) in diff["shared"]


# -- TONIC learned operator selection --------------------------------------


def test_tonic_learns_and_recommends(spark, spec, tdfs):
    from postbound_spark.optimizer.tonic import TonicOperatorSelection

    tonic = TonicOperatorSelection()
    order = JoinTree.left_deep(["orders", "lineitem"])
    key = frozenset({"orders", "lineitem"})
    # two executions: sort-merge was cheap, shuffle-hash expensive
    tonic.record_plan(order, {key: JoinOperator.SORT_MERGE}, {key: 1.0})
    tonic.record_plan(order, {key: JoinOperator.SHUFFLE_HASH}, {key: 9.0})
    tonic.record_plan(order, {key: JoinOperator.SORT_MERGE}, {key: 2.0})

    assignment = tonic.select_physical_operators(
        QuerySpec(("orders", "lineitem"), spec.edges), order
    )
    assert assignment.operator_for(key) is JoinOperator.SORT_MERGE

    # recommendation enforces through the standard hint path
    df = compile_join_tree(
        {t: tdfs[t] for t in ("orders", "lineitem")}, order, list(spec.edges), assignment
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "SortMergeJoin" in plan
    assert df.count() == tdfs["lineitem"].count()

    # unseen prefix -> empty assignment (defer to Catalyst)
    other = JoinTree.left_deep(["customer", "orders"])
    empty = tonic.select_physical_operators(
        QuerySpec(("customer", "orders"), spec.edges), other
    )
    assert not empty.join_operators


def test_jointree_from_plan_roundtrip(spec, tdfs):
    """Plan -> artifacts -> (replayable) plan: the observe side of the
    propose->enforce->observe loop (ref _hints.py:1766/:1838)."""
    from postbound_spark.optimizer.qep import jointree_from_plan, operators_from_plan

    tree = JoinTree.left_deep(["region", "nation", "customer"])
    df = compile_join_tree(
        {t: tdfs[t] for t in ("region", "nation", "customer")},
        tree,
        list(spec.edges),
    )
    df.collect()
    observed = jointree_from_plan(df)
    assert set(observed.tables()) == {"region", "nation", "customer"}
    assert len(list(observed.joins())) == 2
    ops = operators_from_plan(df)
    assert ops, "no join operators recognized in the executed plan"
    full = frozenset({"region", "nation", "customer"})
    assert full in ops


def test_textbook_pipeline_selinger(spark, sf_small):
    """TextbookOptimizationPipeline (ref _pipelines.py:475): Selinger DP
    enumerator + cost model + precise cardinalities produce an enforceable
    plan whose result equals the unoptimized join."""
    from pyspark.sql import functions as F

    from postbound_spark.catalog import load_tables
    from postbound_spark.optimizer import pk_fk_edges_for
    from postbound_spark.optimizer.cardinalities import PreciseCardinalities
    from postbound_spark.optimizer.dynprog import (
        DynamicProgrammingEnumerator,
        SelingerPlanEnumerator,
    )
    from postbound_spark.optimizer.stages import (
        QuerySpec,
        TextbookOptimizationPipeline,
    )

    names = ["nation", "customer", "orders"]
    tables = load_tables(spark, sf_small, names)
    spec = QuerySpec(tuple(names), tuple(pk_fk_edges_for(names)))
    estimator = PreciseCardinalities()
    enumerator = SelingerPlanEnumerator(broadcast_threshold_rows=1000)

    class _TreeCost:
        def cost(self, tree, params):
            return float(tree.depth())

    pipeline = TextbookOptimizationPipeline(
        spark, enumerator, _TreeCost(), estimator
    )
    planned = pipeline.optimize_query(spec, tables)
    assert set(planned.join_order.tables()) == set(names)
    assert planned.operators.join_operators  # operators were assigned
    got = planned.to_dataframe(tables).count()
    want = (
        tables["nation"]
        .join(tables["customer"], F.col("n_nationkey") == F.col("c_nationkey"))
        .join(tables["orders"], F.col("c_custkey") == F.col("o_custkey"))
        .count()
    )
    assert got == want


def test_incremental_pipeline_steps(spark, sf_small):
    """IncrementalOptimizationPipeline (ref _stages.py:906): chained
    improvement steps each rewrite the planned query."""
    from postbound_spark.catalog import load_tables
    from postbound_spark.optimizer import pk_fk_edges_for
    from postbound_spark.optimizer.hints import (
        JoinOperator,
        PhysicalOperatorAssignment,
    )
    from postbound_spark.optimizer.stages import (
        IncrementalOptimizationPipeline,
        QuerySpec,
    )

    names = ["nation", "customer"]
    tables = load_tables(spark, sf_small, names)
    spec = QuerySpec(tuple(names), tuple(pk_fk_edges_for(names)))

    def force_broadcast(planned, _tables):
        ops = PhysicalOperatorAssignment()
        for join in planned.join_order.joins():
            ops.set_join_operator(frozenset(join.tables()), JoinOperator.BROADCAST_HASH)
        planned.operators = ops
        return planned

    pipeline = IncrementalOptimizationPipeline(spark).add_step(force_broadcast)
    planned = pipeline.optimize_query(spec, tables)
    assert all(
        op is JoinOperator.BROADCAST_HASH
        for op in planned.operators.join_operators.values()
    )
    assert planned.to_dataframe(tables).count() > 0


def test_catalyst_native_stages(spark, sf_small):
    """Native (Catalyst-delegating) stages (ref opt/native.py): plan-time
    cardinality estimates, plan-cost readback, and the natively-chosen
    join order parsed back as a JoinTree artifact."""
    import math

    from postbound_spark.catalog import load_tables
    from postbound_spark.optimizer import pk_fk_edges_for
    from postbound_spark.optimizer.native import (
        CatalystCardinalityEstimator,
        CatalystCostModel,
        CatalystNativeOptimizer,
    )
    from postbound_spark.optimizer.jointree import JoinTree
    from postbound_spark.optimizer.stages import (
        PlanParameterization,
        QuerySpec,
    )

    names = ["nation", "customer", "orders"]
    tables = load_tables(spark, sf_small, names)
    spec = QuerySpec(tuple(names), tuple(pk_fk_edges_for(names)))

    est = CatalystCardinalityEstimator().estimate_cardinality(
        spec, frozenset({"nation", "customer"}), tables
    )
    assert est > 0 and not math.isnan(est)

    cost_model = CatalystCostModel(spec, tables)
    cost = cost_model.cost(JoinTree.left_deep(names), PlanParameterization())
    assert cost > 0

    chosen = CatalystNativeOptimizer(spark).optimize_join_order(spec, tables)
    assert set(chosen.tables()) == set(names)


def test_star_query_cardinality_matches_real_join(spark, sf_small):
    """The distributed star-cardinality formula (ref _analysis.py:130)
    must equal the actual join's count — checked against a genuine
    two-dimension star with filters on both dimensions."""
    from postbound_spark.catalog import load_table
    from postbound_spark.optimizer.analysis import star_query_cardinality

    orders = load_table(spark, sf_small, "orders")
    lineitem = load_table(spark, sf_small, "lineitem")
    cheap = lineitem.filter(F.col("l_quantity") < 25)
    returned = lineitem.filter(F.col("l_returnflag") == "R")

    returned2 = returned.select(
        *[F.col(c).alias(f"r_{c}") for c in returned.columns]
    )
    expected = (
        orders.join(cheap, orders.o_orderkey == cheap.l_orderkey)
        .join(returned2, orders.o_orderkey == returned2.r_l_orderkey)
        .count()
    )
    got = star_query_cardinality(
        orders,
        "o_orderkey",
        [(cheap, "o_orderkey", "l_orderkey"), (returned, "o_orderkey", "l_orderkey")],
    )
    assert got == expected and got > 0

    import pytest as _pytest

    with _pytest.raises(ValueError):
        star_query_cardinality(
            orders, "o_orderkey", [(cheap, "o_custkey", "l_orderkey")]
        )


# -- UES published formulae + branching (ref opt/ues.py:670-958) ------------


def test_ues_bound_formulae_exact():
    """Reproduce the published bound values on a hand-built example:
    orders(1000 rows, max freq o_custkey=1) x lineitem(4000, freq
    l_orderkey=7) n:m-style, plus customer(150) as a PK side."""
    from postbound_spark.optimizer.ues import (
        MaxFrequencyStatsContainer,
        UESBoundEstimator,
    )

    stats = MaxFrequencyStatsContainer(
        base_estimates={"o": 1000.0, "l": 4000.0, "c": 150.0},
        frequencies={("o", "o_okey"): 4.0, ("l", "l_okey"): 7.0, ("o", "o_ckey"): 5.0},
    )
    est = UESBoundEstimator(stats)
    # n:m: min(1000/4, 4000/7) x 4 x 7 = min(250, 571.43) x 28 = 7000
    assert est.n_m_bound("o", "o_okey", "l", "l_okey") == 7000
    # PK/FK: ceil(freq(fk) x |PK|) = ceil(5 x 150) = 750
    assert est.pk_fk_bound("o", "o_ckey", "c") == 750
    # zero-propagation
    stats.frequencies[("o", "o_okey")] = 0.0
    assert est.n_m_bound("o", "o_okey", "l", "l_okey") == 0.0
    # intermediate bound wins over base estimate (_fetch_bound, ref :784)
    stats.frequencies[("o", "o_okey")] = 4.0
    stats.upper_bounds["o"] = 100.0
    assert est.n_m_bound("o", "o_okey", "l", "l_okey") == math.ceil(
        min(100 / 4, 4000 / 7) * 4 * 7
    )


def test_ues_frequency_update_pessimistic():
    """MaxFrequencyStats update rules (ref :333-345): partner columns
    multiply by each other; third-party columns multiply by the joined
    column's frequency."""
    from postbound_spark.optimizer.joingraph import JoinEdge
    from postbound_spark.optimizer.ues import MaxFrequencyStatsContainer

    stats = MaxFrequencyStatsContainer(
        base_estimates={"a": 10.0, "b": 20.0},
        frequencies={("a", "x"): 3.0, ("b", "x"): 5.0, ("a", "y"): 2.0},
    )
    stats.update_frequencies_after_join(
        "b", JoinEdge("a", "x", "b", "x"), consumed_columns={("a", "y")}
    )
    assert stats.frequency("b", "x") == 15.0
    assert stats.frequency("a", "x") == 15.0
    assert stats.frequency("a", "y") == 2.0 * 5.0  # x joined-column freq


def test_ues_defensive_branching_builds_bushy_tree():
    """UESSubqueryPolicy (ref :905): when a PK/FK join reduces the n:m
    partner's bound below its base estimate, the PK join lands in a branch
    (bushy subtree); the linear policy keeps the path left-deep."""
    from postbound_spark.optimizer.joingraph import JoinEdge
    from postbound_spark.optimizer.stages import QuerySpec
    from postbound_spark.optimizer.ues import (
        LinearJoinTreePolicy,
        MaxFrequencyStatsContainer,
        UESJoinOrderOptimizer,
    )

    # fact3 -nm- fact1, fact3 -nm- fact2, fact2 -pkfk-> dim; dim's PK join
    # reduces fact2's bound (ceil(1 x 2000) = 2000 < 5000), and fact2 is
    # the SECOND n:m partner (branching needs >= 2 consumed tables, ref
    # :935-937), so the defensive policy must branch it with dim
    spec = QuerySpec(
        tables=("fact1", "fact2", "dim", "fact3"),
        edges=(
            JoinEdge("fact1", "k", "fact3", "k"),
            JoinEdge("fact3", "j", "fact2", "j"),
            JoinEdge("fact2", "d", "dim", "id"),
        ),
    )

    def fresh_stats():
        return MaxFrequencyStatsContainer(
            base_estimates={
                "fact1": 1000.0, "fact2": 5000.0, "dim": 2000.0, "fact3": 800.0,
            },
            frequencies={
                ("fact1", "k"): 2.0, ("fact3", "k"): 2.0,
                ("fact3", "j"): 2.0, ("fact2", "j"): 2.0,
                ("fact2", "d"): 1.0, ("dim", "id"): 1.0,
            },
        )

    import postbound_spark.optimizer.joingraph as jg

    # register dim.id as a PK referenced by fact2.d for this test
    jg.PRIMARY_KEYS["dim"] = "id"
    jg.FOREIGN_KEYS[("fact2", "d")] = ("dim", "id")
    try:
        opt = UESJoinOrderOptimizer(spark=None)
        bushy = opt.optimize_with_stats(spec, fresh_stats())
        assert bushy.is_bushy(), bushy

        opt_linear = UESJoinOrderOptimizer(spark=None, subquery_policy=LinearJoinTreePolicy())
        linear = opt_linear.optimize_with_stats(spec, fresh_stats())
        assert not linear.is_bushy(), linear
        assert set(bushy.tables()) == set(linear.tables()) == set(spec.tables)
    finally:
        del jg.PRIMARY_KEYS["dim"]
        del jg.FOREIGN_KEYS[("fact2", "d")]


def test_tonic_trie_persistence_roundtrip(tmp_path, spec):
    """QEP-S persistence (ref opt/tonic.py:196-1019): save -> load across
    'sessions' preserves the learned recommendations, and a replay from the
    loaded trie changes the operator assignment exactly like the live one."""
    from postbound_spark.optimizer.tonic import TonicOperatorSelection

    tonic = TonicOperatorSelection()
    order = JoinTree.left_deep(["orders", "lineitem"])
    key = frozenset({"orders", "lineitem"})
    tonic.record_plan(order, {key: JoinOperator.SORT_MERGE}, {key: 1.0})
    tonic.record_plan(order, {key: JoinOperator.SHUFFLE_HASH}, {key: 9.0})

    path = str(tmp_path / "qeps.json")
    tonic.save(path)
    revived = TonicOperatorSelection.load(path)

    q = QuerySpec(("orders", "lineitem"), spec.edges)
    live = tonic.select_physical_operators(q, order)
    replay = revived.select_physical_operators(q, order)
    assert replay.operator_for(key) is live.operator_for(key) is JoinOperator.SORT_MERGE

    # training continues on the revived trie: keep observing cheap
    # shuffle-hash runs and the gamma-discounted cost (cost + 0.8*prev,
    # ref update_costs opt/tonic.py:716) decays the old expensive
    # observation below sort-merge's 1.0 — the recommendation flips.
    # 25 rounds leave shuffle-hash at ~9*0.8^25 + 0.01/(1-0.8) ≈ 0.08.
    for _ in range(25):
        revived.record_plan(order, {key: JoinOperator.SHUFFLE_HASH}, {key: 0.01})
    flipped = revived.select_physical_operators(q, order)
    assert flipped.operator_for(key) is JoinOperator.SHUFFLE_HASH

    # version guard
    import json
    with open(path) as fh:
        payload = json.load(fh)
    payload["version"] = 999
    with open(path, "w") as fh:
        json.dump(payload, fh)
    with pytest.raises(ValueError, match="version"):
        TonicOperatorSelection.load(path)


# -- Postgres-style pathlist DP (ref opt/dynprog.py:536-1468) ---------------


def _fixed_estimator(cards):
    class Fixed:
        def estimate_cardinality(self, spec, subset, tables):
            return cards[frozenset(subset)]

    return Fixed()


def test_pgdp_add_path_pruning():
    """add_path (ref :1181): dominated paths are rejected/evicted; a more
    expensive but usefully-sorted path survives."""
    from postbound_spark.optimizer.pgdp import Path, _add_path

    t = JoinTree.leaf("a", 10)
    paths = []
    _add_path(paths, Path(t, cost=10.0))
    _add_path(paths, Path(t, cost=20.0))  # dominated: pricier, no ordering
    assert len(paths) == 1
    _add_path(paths, Path(t, cost=15.0, sort_order=(("a", "k"),)))  # sorted: keep
    assert len(paths) == 2
    _add_path(paths, Path(t, cost=5.0, sort_order=(("a", "k"),)))  # dominates both
    assert len(paths) == 1 and paths[0].cost == 5.0


def test_pgdp_interesting_order_prefers_merge_join():
    """With a required output ordering on the join key, the sorted
    merge-join path must win even though hashing is cheaper locally —
    the PG interesting-order payoff."""
    from postbound_spark.optimizer.pgdp import PostgresStyleDynProg

    spec = QuerySpec(
        ("a", "b"),
        (JoinEdge("a", "k", "b", "k"),),
    )
    cards = {
        frozenset({"a"}): 1000.0,
        frozenset({"b"}): 1000.0,
        frozenset({"a", "b"}): 1000.0,
    }
    # broadcast infeasible (threshold below both sides) to sharpen the choice
    dp_sorted = PostgresStyleDynProg(
        _fixed_estimator(cards),
        broadcast_threshold_rows=10,
        required_ordering=(("a", "k"),),
    )
    tree, assignment = dp_sorted.generate_execution_plan(spec, tables={})
    assert assignment.operator_for(frozenset({"a", "b"})) is JoinOperator.SORT_MERGE

    dp_unsorted = PostgresStyleDynProg(
        _fixed_estimator(cards), broadcast_threshold_rows=10
    )
    _, a2 = dp_unsorted.generate_execution_plan(spec, tables={})
    assert a2.operator_for(frozenset({"a", "b"})) is JoinOperator.SHUFFLE_HASH


def test_pgdp_materialized_nl_for_tiny_inner():
    """A tiny inner yields a materialized nested-loop path (ref
    _create_materialize_path :1445) and records the persist marker."""
    from postbound_spark.optimizer.pgdp import PostgresStyleDynProg

    spec = QuerySpec(("big", "tiny"), (JoinEdge("big", "k", "tiny", "k"),))
    cards = {
        frozenset({"big"}): 1_000_000.0,
        frozenset({"tiny"}): 2.0,
        frozenset({"big", "tiny"}): 1_000_000.0,
    }
    dp = PostgresStyleDynProg(_fixed_estimator(cards))
    tree, assignment = dp.generate_execution_plan(spec, tables={})
    op = assignment.operator_for(frozenset({"big", "tiny"}))
    assert op in (JoinOperator.BROADCAST_HASH, JoinOperator.BROADCAST_NL)
    # the NL path exists in the enumeration and carries materialization
    paths = [
        p
        for p in [dp.enumerate(spec, tables={})]
    ]
    assert paths[0].tree.tables() in (["big", "tiny"], ["tiny", "big"])


def test_pgdp_plan_correct_end_to_end(spark, spec, tdfs):
    """The chosen plan executes and matches the default-plan result (the
    reference's optimizer-test invariant)."""
    from postbound_spark.optimizer import PreciseCardinalities
    from postbound_spark.optimizer.pgdp import PostgresStyleDynProg

    dp = PostgresStyleDynProg(PreciseCardinalities())
    tree, assignment = dp.generate_execution_plan(spec, tdfs)
    assert sorted(tree.tables()) == sorted(TABLES_5)
    df = compile_join_tree(tdfs, tree, list(spec.edges), assignment)
    assert df.count() == _reference_result(tdfs)


def test_qerror_report_measures_estimator_quality(spark, spec, tdfs):
    """The research loop's measurement: per-intermediate q-error vs precise
    counts. A deliberate 10x distortion must read back as q-error == 10 on
    every intermediate; the precise estimator reads 1.0."""
    from postbound_spark.optimizer import PreciseCardinalities
    from postbound_spark.optimizer.analysis import (
        connected_intermediates,
        qerror_report,
    )
    from postbound_spark.optimizer.cardinalities import CardinalityDistortion

    small_spec = QuerySpec(
        ("region", "nation", "customer"),
        tuple(pk_fk_edges_for(["region", "nation", "customer"])),
    )
    inters = connected_intermediates(small_spec)
    # chain r-n-c: {r,n}, {n,c}, {r,n,c} are connected; {r,c} is not
    assert frozenset({"region", "nation"}) in inters
    assert frozenset({"region", "customer"}) not in inters

    perfect = qerror_report(small_spec, PreciseCardinalities(), tdfs)
    assert perfect and all(q == 1.0 for q in perfect.values())

    distorted = qerror_report(
        small_spec, CardinalityDistortion(PreciseCardinalities(), 10.0), tdfs
    )
    # distortion scales by factor**(|intermediate|-1)
    for subset, q in distorted.items():
        assert abs(q - 10.0 ** (len(subset) - 1)) < 1e-6, (subset, q)


def test_pgdp_preset(spark, spec, tdfs):
    from postbound_spark.optimizer.presets import apply_standard_settings

    pipeline = apply_standard_settings(spark, "pgdp")
    planned = pipeline.optimize_query(spec, tdfs)
    assert sorted(planned.join_order.tables()) == sorted(TABLES_5)
    assert planned.to_dataframe(tdfs).count() == _reference_result(tdfs)


def test_cout_cost_model_prefers_selective_order(spark, spec, tdfs):
    """C_out over precise counts: the order joining the filtered dims first
    must cost less than starting from the raw fact join, and injected
    cardinalities override the estimator."""
    from postbound_spark.optimizer import PreciseCardinalities
    from postbound_spark.optimizer.stages import CoutCostModel, PlanParameterization

    model = CoutCostModel(spec, tdfs, PreciseCardinalities())
    params = PlanParameterization()
    good = JoinTree.left_deep(["region", "nation", "customer", "orders", "lineitem"])
    cost_good = model.cost(good, params)
    assert cost_good > 0

    # inject a fake tiny cardinality for the full set — cost must drop
    full = frozenset(good.tables())
    params.set_cardinality(full, 1.0)
    assert model.cost(good, params) < cost_good


def test_tonic_first_join_keys_do_not_collide():
    """Trie keys for the first join must name the entrant table, not the
    start table: learning for {c,a} must not contaminate {c,b}."""
    from postbound_spark.optimizer.tonic import TonicOperatorSelection

    tonic = TonicOperatorSelection()
    ca, cb = JoinTree.left_deep(["c", "a"]), JoinTree.left_deep(["c", "b"])
    tonic.record_plan(ca, {frozenset({"c", "a"}): JoinOperator.SORT_MERGE},
                      {frozenset({"c", "a"}): 1.0})
    tonic.record_plan(cb, {frozenset({"c", "b"}): JoinOperator.SHUFFLE_HASH},
                      {frozenset({"c", "b"}): 1.0})
    spec_ca = QuerySpec(("c", "a"), ())
    spec_cb = QuerySpec(("c", "b"), ())
    rec_ca = tonic.select_physical_operators(spec_ca, ca)
    rec_cb = tonic.select_physical_operators(spec_cb, cb)
    assert rec_ca.operator_for(frozenset({"c", "a"})) is JoinOperator.SORT_MERGE
    assert rec_cb.operator_for(frozenset({"c", "b"})) is JoinOperator.SHUFFLE_HASH


def test_planned_query_enforces_injected_parameters(spec, tdfs):
    """PlannedQuery.to_dataframe must hand its PlanParameterization to the
    compiler — injected intermediate cardinalities change the physical
    plan through the pipeline artifact, not only via direct calls."""
    from postbound_spark.optimizer.stages import (
        NoOperatorSelection,
        PlannedQuery,
        PlanParameterization,
    )

    sub = QuerySpec(("customer", "orders", "lineitem"),
                    tuple(pk_fk_edges_for(["customer", "orders", "lineitem"])))
    tree = JoinTree.join(
        JoinTree.leaf("lineitem"),
        JoinTree.join(JoinTree.leaf("orders"), JoinTree.leaf("customer")),
    )
    t = {n: tdfs[n] for n in sub.tables}

    def planned_with(card):
        params = PlanParameterization()
        params.set_cardinality(frozenset({"orders", "customer"}), card)
        return PlannedQuery(sub, tree, NoOperatorSelection().select_physical_operators(sub, tree), params)

    tiny = planned_with(10.0).to_dataframe(t)._jdf.queryExecution().executedPlan().toString()
    huge = planned_with(1e9).to_dataframe(t)._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastHashJoin" in tiny
    assert "SortMergeJoin" in huge


def test_malformed_plan_node_degrades_loudly(caplog):
    """A plan node whose stats()/metrics() blow up JVM-side reaches the
    plan digest without estimates or with its actuals marked unreadable;
    it degrades to NaN but LOGS the failure (closing the silent
    bare-except paths flagged in round 2) instead of vanishing from
    introspection."""
    import logging
    import math

    from postbound_spark.optimizer.qep import _logical_node, _physical_node

    with caplog.at_level(logging.WARNING, logger="postbound_spark.optimizer.qep"):
        logical = _logical_node("BrokenExec", [], None, None, 8)
        physical = _physical_node("BrokenExec", [], "unreadable", None)
    assert math.isnan(logical.estimated_rows) and math.isnan(logical.size_bytes)
    assert math.isnan(physical.actual_rows)
    messages = " ".join(r.message for r in caplog.records)
    assert "stats() unreadable" in messages and "BrokenExec" in messages
    assert "metrics unreadable" in messages


def test_canonical_plan_ignores_codegen_stage_ids():
    """Whole-stage-codegen ids number stages in the order AQE materializes
    them, so one plan carries different ids from run to run; the canonical
    form (the ``query_plan`` training feature) must not, while a different
    operator still changes it."""
    from postbound_spark.optimizer.qep import PlanNode

    def plan(left_id: int, right_id: int, join: str = "SortMergeJoin") -> PlanNode:
        def side(stage: int, table: str) -> PlanNode:
            scan = PlanNode("Scan parquet ", table=table)
            return PlanNode(f"WholeStageCodegen ({stage})", [PlanNode("Filter", [scan])])

        return PlanNode(
            f"WholeStageCodegen ({left_id + right_id})",
            [PlanNode(join, [side(left_id, "a"), PlanNode("Sort", [side(right_id, "b")])])],
        )

    assert plan(3, 14).canonical() == plan(14, 3).canonical() == plan(1, 2).canonical()
    assert "(3)" not in plan(3, 14).canonical()
    assert plan(3, 14).canonical() != plan(3, 14, join="ShuffledHashJoin").canonical()
    assert PlanNode("Filter").canonical() != PlanNode("Project").canonical()


def test_precise_cardinalities_identity_checked_not_pinned(spec, tdfs):
    """The memo must neither pin frames (unbounded growth across a long
    session) nor trust a recycled id: entries hold weakrefs and every hit
    verifies the ref still resolves to the very frame being asked about."""
    import weakref as _weakref

    est = PreciseCardinalities()
    inter = frozenset({"orders", "lineitem"})
    a = est.estimate_cardinality(spec, inter, tdfs)
    ((_, refs),) = est._cache.values()
    assert all(isinstance(r, _weakref.ref) for r in refs)
    # a differently-filtered frame under the same table name is a miss,
    # never a replay of the first frame's "ground truth"
    t2 = dict(tdfs)
    t2["orders"] = tdfs["orders"].filter("o_orderkey < 0")
    assert est.estimate_cardinality(spec, inter, t2) == 0.0
    assert a > 0


def test_tonic_bushy_tree_keys_branch_by_own_subtree(spark, spec, tdfs):
    """In a bushy tree the branch join must key its OWN table set, not the
    running accumulation — otherwise branch observations are dropped and
    replayed hints never match compile_join_tree's lookup."""
    from postbound_spark.optimizer.tonic import TonicOperatorSelection

    tonic = TonicOperatorSelection()
    bushy = JoinTree.join(
        JoinTree.join(JoinTree.leaf("nation"), JoinTree.leaf("customer")),
        JoinTree.join(JoinTree.leaf("orders"), JoinTree.leaf("lineitem")),
    )
    branch_key = frozenset({"orders", "lineitem"})
    root_key = frozenset({"nation", "customer", "orders", "lineitem"})
    operators = {
        frozenset({"nation", "customer"}): JoinOperator.BROADCAST_HASH,
        branch_key: JoinOperator.SHUFFLE_HASH,
        root_key: JoinOperator.SORT_MERGE,
    }
    costs = {k: 1.0 for k in operators}
    tonic.record_plan(bushy, operators, costs)
    got = tonic.select_physical_operators(
        QuerySpec(tuple(sorted(root_key)), spec.edges), bushy
    )
    assert got.operator_for(branch_key) is JoinOperator.SHUFFLE_HASH
    assert got.operator_for(root_key) is JoinOperator.SORT_MERGE


def test_dp_enumerators_fail_loudly_on_nan_cardinality(spec, tdfs):
    """A NaN estimate poisons every cost comparison; both DP enumerators
    must raise instead of returning an arbitrary 'optimal' plan."""
    from postbound_spark.optimizer.cardinalities import PreComputedCardinalities
    from postbound_spark.optimizer.dynprog import DynamicProgrammingEnumerator
    from postbound_spark.optimizer.pgdp import PostgresStyleDynProg

    empty = PreComputedCardinalities({})  # every intermediate -> NaN
    with pytest.raises(ValueError, match="NaN"):
        DynamicProgrammingEnumerator(empty).optimize_join_order(spec, tdfs)
    with pytest.raises(ValueError, match="NaN"):
        PostgresStyleDynProg(empty).generate_execution_plan(spec, tables=tdfs)


def test_distortion_leaves_base_tables_truthful(spec, tdfs):
    """factor**depth semantics: depth-0 (single table) estimates must be
    undistorted so sensitivity curves start from truthful leaves."""
    from postbound_spark.optimizer.cardinalities import (
        CardinalityDistortion,
        PreComputedCardinalities,
    )

    inner = PreComputedCardinalities(
        {
            frozenset({"orders"}): 100.0,
            frozenset({"orders", "lineitem"}): 500.0,
        }
    )
    dist = CardinalityDistortion(inner, 10.0)
    assert dist.estimate_cardinality(spec, frozenset({"orders"}), tdfs) == 100.0
    assert (
        dist.estimate_cardinality(spec, frozenset({"orders", "lineitem"}), tdfs)
        == 5000.0
    )


def test_dependent_subquery_precheck_sees_grandparent_correlation():
    """A subquery two levels down referencing the outermost table is
    dependent; the one-level check used to pass it."""
    from postbound_spark.optimizer.validation import DependentSubqueryPreCheck
    from postbound_spark.plans.parser import parse_query

    q = parse_query(
        "SELECT * FROM a WHERE a.x IN ("
        "SELECT b.x FROM b WHERE b.y IN ("
        "SELECT c.y FROM c WHERE c.z = a.z))"
    )
    result = DependentSubqueryPreCheck().check(q)
    assert not result.passed
    assert any("dependent" in r for r in result.reasons)


def test_ues_parallel_fk_edges_join_pk_leaf_once():
    """Two FK edges from the same partner to the SAME PK table (parallel/
    composite FK columns) must join the PK leaf into the defensive branch
    exactly once — a stale free-table snapshot joined it twice (duplicate
    alias / cross product downstream)."""
    from collections import Counter

    import postbound_spark.optimizer.joingraph as jg
    from postbound_spark.optimizer.joingraph import JoinEdge
    from postbound_spark.optimizer.stages import QuerySpec
    from postbound_spark.optimizer.ues import (
        MaxFrequencyStatsContainer,
        UESJoinOrderOptimizer,
    )

    spec = QuerySpec(
        tables=("fact1", "fact2", "dim", "fact3"),
        edges=(
            JoinEdge("fact1", "k", "fact3", "k"),
            JoinEdge("fact3", "j", "fact2", "j"),
            JoinEdge("fact2", "d", "dim", "id"),
            JoinEdge("fact2", "d2", "dim", "id"),  # parallel FK edge
        ),
    )
    stats = MaxFrequencyStatsContainer(
        base_estimates={
            "fact1": 1000.0, "fact2": 5000.0, "dim": 2000.0, "fact3": 800.0,
        },
        frequencies={
            ("fact1", "k"): 2.0, ("fact3", "k"): 2.0,
            ("fact3", "j"): 2.0, ("fact2", "j"): 2.0,
            ("fact2", "d"): 1.0, ("fact2", "d2"): 1.0, ("dim", "id"): 1.0,
        },
    )
    jg.PRIMARY_KEYS["dim"] = "id"
    jg.FOREIGN_KEYS[("fact2", "d")] = ("dim", "id")
    jg.FOREIGN_KEYS[("fact2", "d2")] = ("dim", "id")
    try:
        tree = UESJoinOrderOptimizer(spark=None).optimize_with_stats(spec, stats)
        counts = Counter(tree.tables())
        assert counts["dim"] == 1, tree
        assert set(counts) == set(spec.tables)
    finally:
        del jg.PRIMARY_KEYS["dim"]
        del jg.FOREIGN_KEYS[("fact2", "d")]
        del jg.FOREIGN_KEYS[("fact2", "d2")]


def test_ues_cross_product_fallback_bound_multiplies():
    """Disconnected join graph: the cross-product fallback must multiply
    the running bound by the joined table's cardinality — an unchanged
    bound stops being an upper bound, the one guarantee UES makes."""
    from postbound_spark.optimizer.joingraph import JoinEdge
    from postbound_spark.optimizer.stages import QuerySpec
    from postbound_spark.optimizer.ues import (
        MaxFrequencyStatsContainer,
        UESJoinOrderOptimizer,
    )

    spec = QuerySpec(
        tables=("a", "b", "c", "d"),
        edges=(
            JoinEdge("a", "x", "b", "x"),
            JoinEdge("c", "y", "d", "y"),  # disconnected component
        ),
    )
    stats = MaxFrequencyStatsContainer(
        base_estimates={"a": 10.0, "b": 20.0, "c": 30.0, "d": 40.0},
        frequencies={
            ("a", "x"): 2.0, ("b", "x"): 2.0,
            ("c", "y"): 2.0, ("d", "y"): 2.0,
        },
    )
    tree = UESJoinOrderOptimizer(spark=None).optimize_with_stats(spec, stats)
    assert set(tree.tables()) == set(spec.tables)
    # every join bound must be >= the product of its subtree's base rows /
    # n:m bound logic can't undercut the cross-product component: at
    # minimum the final bound must reflect BOTH components (> the bound of
    # either component alone)
    import math

    bounds = [j.cardinality for j in tree.joins() if not math.isnan(j.cardinality)]
    assert bounds, tree
    assert max(bounds) > 40.0 * 2.0, bounds  # strictly above one component's bound


def test_stats_estimator_matches_true_counts_on_keys(spark, sf_small):
    """System-R formula sanity on a real PK/FK join: |orders ⋈ customer|
    on o_custkey = c_custkey is |orders| (every order has a customer), and
    the stats estimate |O|·|C| / max(ndv(o_custkey), ndv(c_custkey)) must
    land within HLL error of that truth. Base-table estimates are exact
    counts by construction."""
    from postbound_spark.catalog import load_table
    from postbound_spark.optimizer.cardinalities import StatsCardinalityEstimator
    from postbound_spark.optimizer.joingraph import JoinEdge
    from postbound_spark.optimizer.stages import QuerySpec

    tables = {
        "orders": load_table(spark, sf_small, "orders"),
        "customer": load_table(spark, sf_small, "customer"),
    }
    spec = QuerySpec(
        ("customer", "orders"),
        (JoinEdge("orders", "o_custkey", "customer", "c_custkey"),),
    )
    est = StatsCardinalityEstimator()
    n_orders = tables["orders"].count()
    assert est.estimate_cardinality(spec, frozenset(["orders"]), tables) == n_orders
    got = est.estimate_cardinality(spec, frozenset(["customer", "orders"]), tables)
    assert got == pytest.approx(n_orders, rel=0.15)  # HLL ndv error bound
    # second call is served from the stats cache — no further jobs; the
    # DP calls this once per connected subset, so O(1) replay is the
    # property that makes corpus-scale enumeration affordable
    assert est.estimate_cardinality(
        spec, frozenset(["customer", "orders"]), tables
    ) == got


def test_dp_linear_mode_plans_17_tables_fast():
    """The corpus-scale gate for the bitmask DP: a 17-table star query
    (JOB 29a/b's table count) must plan in seconds under linear mode —
    the frozenset 3^n version could not get past ~10 tables."""
    import time as _time

    from postbound_spark.optimizer.dynprog import DynamicProgrammingEnumerator
    from postbound_spark.optimizer.joingraph import JoinEdge
    from postbound_spark.optimizer.stages import CardinalityEstimator, QuerySpec

    class Fixed(CardinalityEstimator):
        def estimate_cardinality(self, spec, subset, tables):
            return float(10 * len(subset))

    names = [f"t{i:02d}" for i in range(17)]
    edges = tuple(JoinEdge(names[0], "id", names[i], "fk") for i in range(1, 17))
    spec = QuerySpec(tuple(names), edges)
    t0 = _time.perf_counter()
    tree = DynamicProgrammingEnumerator(Fixed(), bushy=False).optimize_join_order(
        spec, {}
    )
    assert _time.perf_counter() - t0 < 30.0
    assert sorted(tree.tables()) == names
    assert tree.is_linear()


def test_dp_linear_and_bushy_agree_on_chain():
    """On a chain join with monotone cardinalities the optimal plan is
    linear, so both search modes must find the same order and cost."""
    from postbound_spark.optimizer.dynprog import DynamicProgrammingEnumerator
    from postbound_spark.optimizer.joingraph import JoinEdge
    from postbound_spark.optimizer.stages import CardinalityEstimator, QuerySpec

    class Sized(CardinalityEstimator):
        SIZES = {"a": 10.0, "b": 100.0, "c": 1000.0, "d": 10000.0}

        def estimate_cardinality(self, spec, subset, tables):
            out = 1.0
            for t in subset:
                out *= self.SIZES[t]
            return out / (10.0 ** (len(subset) - 1))

    spec = QuerySpec(
        ("a", "b", "c", "d"),
        (
            JoinEdge("a", "x", "b", "x"),
            JoinEdge("b", "y", "c", "y"),
            JoinEdge("c", "z", "d", "z"),
        ),
    )
    est = Sized()
    linear = DynamicProgrammingEnumerator(est, bushy=False).optimize_join_order(spec, {})
    bushy = DynamicProgrammingEnumerator(est, bushy=True).optimize_join_order(spec, {})
    assert linear.tables() == bushy.tables()


def test_pgdp_linear_mode_matches_full_search_on_small_query(spark, sf_small):
    """linear=True restricts the pathlist DP to zig-zag trees; on a
    3-table query every tree is linear, so both modes must pick the same
    plan — and the no-ORDER-BY cheapest-path cut must not change it."""
    from postbound_spark.catalog import load_table
    from postbound_spark.optimizer.cardinalities import PreciseCardinalities
    from postbound_spark.optimizer.joingraph import JoinEdge
    from postbound_spark.optimizer.pgdp import PostgresStyleDynProg
    from postbound_spark.optimizer.stages import QuerySpec

    tables = {
        t: load_table(spark, sf_small, t)
        for t in ("customer", "orders", "nation")
    }
    spec = QuerySpec(
        ("customer", "nation", "orders"),
        (
            JoinEdge("orders", "o_custkey", "customer", "c_custkey"),
            JoinEdge("customer", "c_nationkey", "nation", "n_nationkey"),
        ),
    )
    full = PostgresStyleDynProg(PreciseCardinalities()).enumerate(spec, tables)
    lin = PostgresStyleDynProg(PreciseCardinalities(), linear=True).enumerate(
        spec, tables
    )
    assert full.tree.tables() == lin.tree.tables()
    assert full.cost == pytest.approx(lin.cost)


# -- TONIC round-6 depth: filter-aware paths, exploration, v2 upgrade -------


def test_tonic_filter_aware_paths_learn_separately(spec):
    """Filter-aware QEP-S (ref QepsIdentifier.filter_predicate
    opt/tonic.py:257): the same table under different filters keys
    different trie paths, so each filter context learns its own
    operator — the plain trie would overwrite one with the other."""
    from postbound_spark.optimizer.tonic import (
        TonicOperatorSelection,
        filter_fingerprints,
    )
    from postbound_spark.plans.parser import parse_query

    tonic = TonicOperatorSelection(filter_aware=True)
    # fingerprints key FROM identifiers (aliases here); the join orders a
    # strategy loop feeds TONIC use the same identifier vocabulary
    order = JoinTree.left_deep(["o", "l"])
    key = frozenset({"o", "l"})
    filtered = filter_fingerprints(
        parse_query(
            "SELECT count(*) FROM orders o, lineitem l "
            "WHERE o.o_orderkey = l.l_orderkey AND o.o_totalprice > 100"
        )
    )
    unfiltered = filter_fingerprints(
        parse_query(
            "SELECT count(*) FROM orders o, lineitem l "
            "WHERE o.o_orderkey = l.l_orderkey"
        )
    )
    assert "o" in filtered and not unfiltered  # join preds never count
    tonic.record_plan(
        order, {key: JoinOperator.SORT_MERGE}, {key: 1.0}, filters=filtered
    )
    tonic.record_plan(
        order, {key: JoinOperator.SHUFFLE_HASH}, {key: 1.0}, filters=unfiltered
    )
    q = QuerySpec(("o", "l"), ())
    assert (
        tonic.select_physical_operators(q, order, filters=filtered).operator_for(key)
        is JoinOperator.SORT_MERGE
    )
    assert (
        tonic.select_physical_operators(q, order, filters=unfiltered).operator_for(key)
        is JoinOperator.SHUFFLE_HASH
    )
    # a plain (non-filter-aware) trie keys both contexts identically
    plain = TonicOperatorSelection()
    plain.record_plan(
        order, {key: JoinOperator.SORT_MERGE}, {key: 1.0}, filters=filtered
    )
    assert (
        plain.select_physical_operators(q, order, filters=unfiltered).operator_for(key)
        is JoinOperator.SORT_MERGE
    )


def test_tonic_unknown_costs_and_simulated_feedback(spec):
    """Exploration loop (ref detect_unknown_costs opt/tonic.py:604 +
    simulate_feedback :1369): un-costed (prefix, operator) cells are
    reported, fillable from an estimator, and gone afterwards."""
    from postbound_spark.optimizer.tonic import TonicOperatorSelection

    tonic = TonicOperatorSelection()
    order = JoinTree.left_deep(["orders", "lineitem"])
    key = frozenset({"orders", "lineitem"})
    tonic.record_plan(order, {key: JoinOperator.BROADCAST_HASH}, {key: 5.0})
    unknown = tonic.unknown_costs(order)
    assert unknown == {
        key: [JoinOperator.SHUFFLE_HASH, JoinOperator.SORT_MERGE]
    }
    filled = tonic.simulate_feedback(order, lambda joined, op: 1.0)
    assert filled == 2
    assert tonic.unknown_costs(order) == {}
    # both simulated cells cost 1.0 < broadcast's 5.0; deterministic
    # tie-break on the operator value picks merge
    q = QuerySpec(("orders", "lineitem"), spec.edges)
    rec = tonic.select_physical_operators(q, order).operator_for(key)
    assert rec is JoinOperator.SORT_MERGE
    # walking an UNSEEN order prepares its nodes (reference behavior):
    # every candidate is unknown there
    other = JoinTree.left_deep(["customer", "orders"])
    missing = tonic.unknown_costs(other)
    assert missing and all(len(v) == 3 for v in missing.values())


def test_tonic_reference_min_operators_rule(spec):
    """The reference recommends nothing from a single-operator node
    (current_recommendation opt/tonic.py:704 requires >1); our default
    recommends from one observation — min_operators=2 restores the
    conservative rule."""
    from postbound_spark.optimizer.tonic import TonicOperatorSelection

    tonic = TonicOperatorSelection(min_operators=2)
    order = JoinTree.left_deep(["orders", "lineitem"])
    key = frozenset({"orders", "lineitem"})
    q = QuerySpec(("orders", "lineitem"), spec.edges)
    tonic.record_plan(order, {key: JoinOperator.SORT_MERGE}, {key: 1.0})
    assert not tonic.select_physical_operators(q, order).join_operators
    tonic.record_plan(order, {key: JoinOperator.SHUFFLE_HASH}, {key: 9.0})
    assert (
        tonic.select_physical_operators(q, order).operator_for(key)
        is JoinOperator.SORT_MERGE
    )


def test_tonic_loads_v2_trie_with_mean_seed(tmp_path):
    """v2 tries (mean-cost [total, count] pairs — the committed round-6
    matrix artifacts) still load: the mean seeds the discounted cost so
    the learned ranking survives the format upgrade."""
    import json as _json

    from postbound_spark.optimizer.tonic import TonicOperatorSelection

    v2 = {
        "version": 2,
        "root": {
            "children": {
                "orders": {
                    "children": {
                        "lineitem": {
                            "children": {},
                            # merge mean = 4/4 = 1.0 beats shuffle 9.0
                            "operator_costs": {
                                "merge": [4.0, 4],
                                "shuffle_hash": [9.0, 1],
                            },
                        }
                    },
                    "operator_costs": {},
                }
            },
            "operator_costs": {},
        },
    }
    path = str(tmp_path / "v2.json")
    with open(path, "w") as fh:
        _json.dump(v2, fh)
    revived = TonicOperatorSelection.load(path)
    node = revived.root.children["orders"].children["lineitem"]
    # the v2 mean seeds the accumulation at mean x weight-sum, so the
    # NORMALIZED cost (the comparison quantity) equals the old mean
    assert abs(node.normalized_cost(JoinOperator.SORT_MERGE) - 1.0) < 1e-12
    assert node.observations[JoinOperator.SORT_MERGE] == 4
    assert node.recommendation() is JoinOperator.SORT_MERGE
    # and the committed round-6 matrix tries themselves still load
    import os

    for name in ("job_qeps_trie.json", "stats_qeps_trie.json"):
        committed = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "experiments",
            "results",
            name,
        )
        loaded = TonicOperatorSelection.load(committed)
        assert loaded.root.children  # non-empty learned model


def test_tonic_inspect_renders_recommendations():
    from postbound_spark.optimizer.tonic import TonicOperatorSelection

    tonic = TonicOperatorSelection()
    order = JoinTree.left_deep(["orders", "lineitem"])
    key = frozenset({"orders", "lineitem"})
    tonic.record_plan(order, {key: JoinOperator.SORT_MERGE}, {key: 1.0})
    tonic.record_plan(order, {key: JoinOperator.SHUFFLE_HASH}, {key: 9.0})
    dump = tonic.inspect()
    assert "orders" in dump and "  lineitem" in dump
    assert "merge=1(n=1)*" in dump  # the recommended operator is starred
    assert "shuffle_hash=9(n=1)" in dump


def test_tonic_normalized_costs_remove_observation_count_bias(spec):
    """Review repro: a cheap operator observed three times must beat a
    2x-more-expensive operator observed once. Raw gamma-discounted
    accumulations (the reference's literal argmin) flip this — 100 x3
    accumulates to 244 while 200 x1 sits at 200 — so comparisons run on
    the weight-NORMALIZED cost (exponentially weighted average)."""
    from postbound_spark.optimizer.tonic import TonicOperatorSelection

    tonic = TonicOperatorSelection()
    order = JoinTree.left_deep(["orders", "lineitem"])
    key = frozenset({"orders", "lineitem"})
    for _ in range(3):
        tonic.record_plan(order, {key: JoinOperator.SORT_MERGE}, {key: 100.0})
    tonic.record_plan(order, {key: JoinOperator.SHUFFLE_HASH}, {key: 200.0})
    q = QuerySpec(("orders", "lineitem"), spec.edges)
    assert (
        tonic.select_physical_operators(q, order).operator_for(key)
        is JoinOperator.SORT_MERGE
    )
    node = tonic.root.children["orders"].children["lineitem"]
    assert abs(node.normalized_cost(JoinOperator.SORT_MERGE) - 100.0) < 1e-9
    assert abs(node.normalized_cost(JoinOperator.SHUFFLE_HASH) - 200.0) < 1e-9


def test_tonic_refuses_mixed_cost_units(spec):
    """A trie trained on per-join cardinalities (run_optimizer_loop)
    must reject wall-clock costs (tonic_explore) — mixed units make
    every operator comparison meaningless. reset() clears the unit."""
    from postbound_spark.optimizer.tonic import TonicOperatorSelection

    tonic = TonicOperatorSelection()
    order = JoinTree.left_deep(["orders", "lineitem"])
    key = frozenset({"orders", "lineitem"})
    tonic.record_plan(order, {key: JoinOperator.SORT_MERGE}, {key: 1000.0})
    assert tonic.cost_unit == "cardinality"
    with pytest.raises(ValueError, match="cardinality"):
        tonic.record_plan(
            order, {key: JoinOperator.SORT_MERGE}, {key: 0.2}, unit="runtime"
        )
    tonic.reset()
    assert tonic.cost_unit is None and not tonic.root.children
    tonic.record_plan(
        order, {key: JoinOperator.SORT_MERGE}, {key: 0.2}, unit="runtime"
    )
    assert tonic.cost_unit == "runtime"


def test_tonic_config_survives_persistence(tmp_path):
    """min_operators and the cost unit round-trip through save/load —
    a reloaded conservative (>=2 operators) model must not silently
    start recommending from single observations."""
    from postbound_spark.optimizer.tonic import TonicOperatorSelection

    tonic = TonicOperatorSelection(min_operators=2)
    order = JoinTree.left_deep(["orders", "lineitem"])
    key = frozenset({"orders", "lineitem"})
    tonic.record_plan(
        order, {key: JoinOperator.SORT_MERGE}, {key: 0.5}, unit="runtime"
    )
    path = str(tmp_path / "conservative.json")
    tonic.save(path)
    revived = TonicOperatorSelection.load(path)
    assert revived.min_operators == 2
    assert revived.cost_unit == "runtime"
    q = QuerySpec(("orders", "lineitem"), ())
    assert not revived.select_physical_operators(q, order).join_operators


def test_tonic_normalized_cost_properties():
    """Property (hypothesis): observing a CONSTANT cost any number of
    times leaves the normalized cost exactly that constant — so two
    operators with equal true costs tie regardless of how often each
    was observed, and the tie breaks deterministically on the operator
    value. The recency property still holds: after a level shift, the
    normalized cost moves strictly toward the new level."""
    from hypothesis import given, settings
    from hypothesis import strategies as st

    from postbound_spark.optimizer.tonic import QepsNode

    @settings(max_examples=200, deadline=None)
    @given(
        cost=st.floats(min_value=1e-6, max_value=1e9),
        n=st.integers(min_value=1, max_value=50),
        gamma=st.floats(min_value=0.1, max_value=0.99),
    )
    def check(cost, n, gamma):
        node = QepsNode()
        for _ in range(n):
            node.observe(JoinOperator.SORT_MERGE, cost, gamma)
        norm = node.normalized_cost(JoinOperator.SORT_MERGE, gamma)
        assert abs(norm - cost) <= 1e-6 * cost
        # level shift: one higher observation pulls the average up but
        # never past the new level
        node.observe(JoinOperator.SORT_MERGE, cost * 10, gamma)
        shifted = node.normalized_cost(JoinOperator.SORT_MERGE, gamma)
        assert cost < shifted < cost * 10

    check()


def test_jointree_similarity_topdown_and_levenshtein():
    """ref opt/_analysis.py:241 (top-down gamma-amplified similarity)
    and :345 (linearized levenshtein): identity maximal, near orders
    between, reversals minimal; symmetric mode stops penalizing a
    commuted root."""
    from postbound_spark.optimizer.analysis import (
        jointree_levenshtein,
        jointree_similarity_topdown,
    )

    a = JoinTree.left_deep(["a", "b", "c", "d"])
    near = JoinTree.left_deep(["a", "b", "d", "c"])
    far = JoinTree.left_deep(["d", "c", "b", "a"])
    self_score = jointree_similarity_topdown(a, a)
    assert self_score > jointree_similarity_topdown(a, near) > (
        jointree_similarity_topdown(a, far)
    )
    assert jointree_levenshtein(a, a) == 0
    assert jointree_levenshtein(a, near) == 2
    assert jointree_levenshtein(a, far) == 4
    # symmetric crossover: comparing a tree against itself with the top
    # branches swapped scores higher when commutation is not penalized
    bushy = JoinTree.join(
        JoinTree.left_deep(["a", "b"]), JoinTree.left_deep(["c", "d"])
    )
    swapped = JoinTree.join(
        JoinTree.left_deep(["c", "d"]), JoinTree.left_deep(["a", "b"])
    )
    plain = jointree_similarity_topdown(bushy, swapped)
    sym = jointree_similarity_topdown(bushy, swapped, symmetric=True)
    assert sym > plain
    assert sym == jointree_similarity_topdown(bushy, bushy, symmetric=True)
