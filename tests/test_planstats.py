"""Zero-write plan-time cardinality injection (optimizer/planstats.py).

The pg_lab parity gate (ref postbound/postgres.py:2343-2460): injected
cardinalities must flip the PHYSICAL plan of an arbitrary (non-CTE) query
with no table written, and injected plans must return identical results.
The flip tests run every query in ``CASES``: a three-way join, a base-table
join whose 25-row ``nation`` stops being broadcast once it is declared 10M
rows, and a query whose intermediate is written as a CTE in plain SQL.
"""

from __future__ import annotations

import math
from typing import NamedTuple

import pytest

from postbound_spark.catalog import load_table
from postbound_spark.optimizer.planstats import PlanTimeCardinalityInjector

SQL = """
SELECT o_orderpriority, count(*) AS n
FROM lineitem JOIN orders ON l_orderkey = o_orderkey
              JOIN customer ON o_custkey = c_custkey
WHERE c_acctbal > 0
GROUP BY o_orderpriority
"""

NATION_SQL = """
SELECT c.c_custkey, n.n_name
FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
"""

CTE_SQL = """
WITH active_cust AS (
  SELECT c_custkey, c_nationkey FROM customer WHERE c_acctbal > 1000
)
SELECT a.c_nationkey, count(*) AS n_orders
FROM orders o
JOIN active_cust a ON o.o_custkey = a.c_custkey
GROUP BY a.c_nationkey
"""


class Case(NamedTuple):
    sql: str
    #: a join-key column that names the join under test
    key: str
    #: the build side Catalyst picks from the real statistics
    default_build: str
    #: cards under which the join still broadcasts, from ``tiny_build``
    tiny: dict
    tiny_build: str
    #: cards under which no broadcast is legal
    huge: dict


CASES = (
    Case(
        SQL, "o_custkey", "BuildRight",
        {("lineitem", "orders"): 3}, "BuildLeft",
        {("lineitem", "orders"): 4_000_000_000, ("customer",): 3_000_000_000},
    ),
    Case(
        NATION_SQL, "c_nationkey", "BuildLeft",
        {("customer",): 10_000_000}, "BuildRight",
        {("customer",): 10_000_000, ("nation",): 10_000_000},
    ),
    # orders is declared fact-table sized in both, so only the CTE's
    # injected count decides whether it is broadcast
    Case(
        CTE_SQL, "o_custkey", "BuildRight",
        {("orders",): 1_000_000_000, ("customer",): 10}, "BuildRight",
        {("orders",): 1_000_000_000, ("customer",): 1_000_000_000},
    ),
)


@pytest.fixture(scope="module")
def injector(spark, sf_small):
    for t in ("customer", "orders", "lineitem", "nation"):
        load_table(spark, sf_small, t).createOrReplaceTempView(t)
    return PlanTimeCardinalityInjector(spark)


def _join_lines(df) -> list[str]:
    s = df._jdf.queryExecution().sparkPlan().toString()
    return [line.strip() for line in s.splitlines() if "Join" in line]


def _top_join(df, key: str = "o_custkey") -> str:
    return next(line for line in _join_lines(df) if key in line)


def _rows(df) -> list[tuple]:
    return sorted(tuple(r) for r in df.collect())


def test_huge_injection_flips_broadcast_to_sort_merge(spark, injector):
    tables_before = {t.name for t in spark.catalog.listTables()}
    for case in CASES:
        assert _top_join(spark.sql(case.sql), case.key).startswith(
            "+- BroadcastHashJoin"
        ), case.sql
        tiny = injector.plan(case.sql, case.tiny, adaptive=False)
        assert _top_join(tiny, case.key).startswith("+- BroadcastHashJoin"), case.sql
        huge = injector.plan(case.sql, case.huge, adaptive=False)
        assert _top_join(huge, case.key).startswith("+- SortMergeJoin"), case.sql
    # zero writes: catalog unchanged, nothing materialized
    assert {t.name for t in spark.catalog.listTables()} == tables_before


def test_tiny_injection_flips_build_side(spark, injector):
    """A 3-row (lineitem ⋈ orders) intermediate must become the broadcast
    build side of the customer join (BuildLeft), instead of customer
    (the default BuildRight); a 10M-row customer hands the build side to
    nation. The CTE case keeps its side: the 10-row intermediate is
    broadcast although orders is declared 1e9 rows."""
    for case in CASES:
        assert case.default_build in _top_join(spark.sql(case.sql), case.key)
        tiny = injector.plan(case.sql, case.tiny, adaptive=False)
        assert case.tiny_build in _top_join(tiny, case.key), case.sql


def test_injected_plans_return_identical_results(spark, injector):
    for case in CASES:
        base = _rows(spark.sql(case.sql))
        assert base, case.sql
        for cards in (case.tiny, case.huge):
            assert _rows(injector.plan(case.sql, cards, adaptive=False)) == base


def test_injection_does_not_leak_into_fresh_plans(spark, injector):
    for case in CASES:
        injector.plan(case.sql, case.huge, adaptive=False)
        # a brand-new DataFrame for the same SQL must plan with real stats
        fresh = _top_join(spark.sql(case.sql), case.key)
        assert fresh.startswith("+- BroadcastHashJoin"), case.sql
        assert case.default_build in fresh, case.sql


def test_cte_intermediate_is_an_ordinary_table_set(spark, injector):
    """A CTE needs no name or rewrite to be injected: after inlining, the
    plan offers it as the table set it covers."""
    assert injector.table_sets(CTE_SQL) == [
        frozenset({"orders#1"}),
        frozenset({"customer#1"}),
        frozenset({"orders#1", "customer#1"}),
    ]


def test_visible_row_count_reports_injection(spark, injector):
    df = injector.plan(SQL, {("lineitem", "orders"): 1234})
    assert injector.visible_row_count(df, ("lineitem", "orders")) == 1234
    assert math.isnan(injector.visible_row_count(df, ("nation",)))


def test_unmatched_table_set_raises_with_plan_offer(spark, injector):
    """Catalyst joined lineitem⋈orders first, so (customer, orders) is not
    an intermediate of this plan — the error must say what is."""
    with pytest.raises(KeyError, match="plan offers"):
        injector.plan(SQL, {("customer", "orders"): 10})


def test_self_join_is_rejected(spark, injector):
    with pytest.raises(ValueError, match="self-join"):
        injector.plan(
            "SELECT a.c_custkey FROM customer a JOIN customer b "
            "ON a.c_custkey = b.c_custkey",
            {("customer",): 10},
        )


def test_size_bytes_override(spark, injector):
    """An explicit tiny sizeInBytes keeps a huge row count broadcastable —
    proving both statistics channels are independently injected."""
    df = injector.plan(
        SQL,
        {("lineitem", "orders"): 4_000_000_000},
        size_bytes={("lineitem", "orders"): 1024},
        adaptive=False,
    )
    assert "BuildLeft" in _top_join(df)


# ---------------------------------------------------------------------------
# round 5: occurrence-keyed self-joins + experiment-scoped lifecycle
# ---------------------------------------------------------------------------

SELF_SQL = """
SELECT a.c_custkey AS k
FROM customer a JOIN customer b ON a.c_custkey = b.c_custkey
WHERE b.c_acctbal > 1000 AND a.c_acctbal > 0
"""


def test_describe_leaves_disambiguates_self_join(spark, injector):
    """After pushdown each occurrence carries its own filter — the
    fingerprint that maps ``customer#k`` back to the SQL alias."""
    leaves = injector.describe_leaves(SELF_SQL)
    assert [l["leaf"] for l in leaves] == ["customer#1", "customer#2"]
    assert "1000" in leaves[1]["filters"]
    assert "1000" not in leaves[0]["filters"]


def test_self_join_occurrence_injection_flips_plan(spark, injector):
    """pg_lab handles self-joins at plan time via aliases (ref
    postgres.py:2343-2460); occurrence qualifiers are the Spark analog —
    injected cards on ``customer#1``/``customer#2`` must flip the physical
    join with zero writes, and results must be unchanged."""
    tables_before = {t.name for t in spark.catalog.listTables()}
    base = spark.sql(SELF_SQL)
    assert any("BroadcastHashJoin" in l for l in _join_lines(base))
    doctored = injector.plan(
        SELF_SQL,
        {("customer#1",): 4_000_000_000, ("customer#2",): 3_000_000_000},
        adaptive=False,
    )
    assert any("SortMergeJoin" in l for l in _join_lines(doctored))
    assert injector.visible_row_count(doctored, ("customer#2",)) == 3_000_000_000
    assert sorted(map(tuple, doctored.collect())) == sorted(
        map(tuple, base.collect())
    )
    assert {t.name for t in spark.catalog.listTables()} == tables_before


def test_bad_occurrence_qualifier_raises(spark, injector):
    with pytest.raises(KeyError, match="occurrence"):
        injector.plan(SELF_SQL, {("customer#3",): 10})


def test_close_scopes_injection_to_experiment(spark, injector, sf_small):
    """Context exit strips this experiment's tags immediately, but the
    session-shared strategy (one JVM singleton for ALL injectors) only
    deregisters when the LAST live injector closes — an unconditional
    deregister would silently disable injection for other experiments
    still holding un-collected doctored plans (VERDICT r4 weak #1 +
    round-5 review finding)."""
    exp = spark._jsparkSession.experimental()
    with PlanTimeCardinalityInjector(spark) as inj:
        df = inj.plan(SQL, {("lineitem", "orders"): 1234})
        assert inj.visible_row_count(df, ("lineitem", "orders")) == 1234
        assert inj._helper.registeredCount(exp) == 1
    # the module-level injector is still live -> strategy stays registered
    assert inj._helper.registeredCount(exp) == 1
    # ...but THIS experiment's tags are stripped: the very same DataFrame
    # no longer reports doctored stats
    assert inj.visible_row_count(df, ("lineitem", "orders")) != 1234
    inj.close()  # idempotent — a second close must not over-decrement
    assert inj._helper.registeredCount(exp) == 1
    # when the last live injector closes, the strategy deregisters (this
    # is the final test in the module, so retiring the fixture is safe —
    # any later plan() re-registers)
    injector.close()
    assert inj._helper.registeredCount(exp) == 0


def test_duplicate_qualified_keys_raise(spark):
    """For a single-scan table, 'customer' and 'customer#1' address the
    same leaf set — a cards dict containing both must fail loudly instead
    of keeping whichever entry dict iteration saw last (round-5 advisor
    finding)."""
    with PlanTimeCardinalityInjector(spark) as inj:
        with pytest.raises(ValueError, match="both address"):
            inj.plan(SQL, {"customer": 10, "customer#1": 20})


def test_plan_after_close_revives_injector(spark):
    """plan() on a closed injector re-registers the strategy AND revives
    the lifecycle: the injector rejoins the live set so the second
    close() cleans the new tags and deregisters again, instead of
    no-opping on the stale _closed flag (round-5 advisor finding)."""
    exp = spark._jsparkSession.experimental()
    inj = PlanTimeCardinalityInjector(spark)
    inj.close()
    assert inj._helper.registeredCount(exp) == 0
    df = inj.plan(SQL, {("lineitem", "orders"): 4321})
    assert inj._helper.registeredCount(exp) == 1
    assert inj.visible_row_count(df, ("lineitem", "orders")) == 4321
    inj.close()  # must act, not no-op
    assert inj._helper.registeredCount(exp) == 0
    assert inj.visible_row_count(df, ("lineitem", "orders")) != 4321


def test_injector_lifecycle_is_per_session(spark, sf_small):
    """spark.newSession() shares one py4j gateway but has its OWN
    ExperimentalMethods. Closing the last injector on session A must
    deregister A's strategy even while session B still has a live
    injector — and closing B's later must deregister B's own copy (the
    round-5 advisor's medium finding: a gateway-wide live set got both
    directions wrong)."""
    other = spark.newSession()
    for t in ("customer", "orders", "lineitem"):
        load_table(other, sf_small, t).createOrReplaceTempView(t)
    exp_a = spark._jsparkSession.experimental()
    exp_b = other._jsparkSession.experimental()
    inj_a = PlanTimeCardinalityInjector(spark)
    inj_b = PlanTimeCardinalityInjector(other)
    assert inj_a._helper.registeredCount(exp_a) == 1
    assert inj_b._helper.registeredCount(exp_b) == 1
    inj_a.close()  # B being live must not block A's deregistration
    assert inj_a._helper.registeredCount(exp_a) == 0
    assert inj_b._helper.registeredCount(exp_b) == 1
    df = inj_b.plan(SQL, {("lineitem", "orders"): 777})
    assert inj_b.visible_row_count(df, ("lineitem", "orders")) == 777
    inj_b.close()  # ...and B's own close must clean B's session
    assert inj_b._helper.registeredCount(exp_b) == 0
