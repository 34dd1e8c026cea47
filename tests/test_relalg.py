"""Unit tests for the relalg node set and its DataFrame compiler
(test strategy mirrors the reference's tests/test_relalg.py — SURVEY.md §5)."""

from __future__ import annotations

import pytest

from postbound_spark.catalog import load_tables
from postbound_spark.operators import compile_plan
from postbound_spark.plans import relalg as ra


@pytest.fixture(scope="module")
def catalog(spark, sf_small):
    return load_tables(spark, sf_small)


def rows(spark, catalog, plan):
    return compile_plan(plan, spark, catalog).collect()


def test_relation_scan(spark, catalog):
    assert len(rows(spark, catalog, ra.Relation(table="region"))) == 5


def test_relation_requires_exactly_one_source():
    with pytest.raises(ValueError):
        ra.Relation()


def test_selection(spark, catalog):
    out = rows(spark, catalog, ra.Selection(ra.Relation(table="region"), "r_name = 'ASIA'"))
    assert [r.r_name for r in out] == ["ASIA"]


def test_projection_keeps_duplicates(spark, catalog):
    # bag semantics: projection must NOT dedup (ref: relalg.py:1270-1273)
    out = rows(spark, catalog, ra.Projection(ra.Relation(table="nation"), ("n_regionkey",)))
    assert len(out) == 25


def test_map_adds_expression(spark, catalog):
    plan = ra.Map(ra.Relation(table="region"), (("key2", "r_regionkey * 2"),))
    out = {r.r_regionkey: r.key2 for r in rows(spark, catalog, plan)}
    assert out == {k: 2 * k for k in range(5)}


def test_rename(spark, catalog):
    plan = ra.Rename(ra.Relation(table="region"), (("r_name", "region_name"),))
    df = compile_plan(plan, spark, catalog)
    assert "region_name" in df.columns and "r_name" not in df.columns


def test_theta_join_nonequi(spark, catalog):
    plan = ra.ThetaJoin(
        ra.Relation(table="nation", alias="n"),
        ra.Relation(table="region", alias="r"),
        "n_regionkey < r_regionkey",
    )
    out = rows(spark, catalog, plan)
    # each nation joins regions with a strictly larger key
    assert len(out) == sum(4 - (k % 5) for k in range(25))


def test_cross_product(spark, catalog):
    plan = ra.CrossProduct(ra.Relation(table="region"), ra.Relation(table="nation"))
    assert len(rows(spark, catalog, plan)) == 125


def test_semi_and_anti_join_partition(spark, catalog):
    semi = ra.SemiJoin(
        ra.Relation(table="customer"),
        ra.Relation(table="orders"),
        "c_custkey = o_custkey",
    )
    anti = ra.AntiJoin(
        ra.Relation(table="customer"),
        ra.Relation(table="orders"),
        "c_custkey = o_custkey",
    )
    n_semi = len(rows(spark, catalog, semi))
    n_anti = len(rows(spark, catalog, anti))
    total = len(rows(spark, catalog, ra.Relation(table="customer")))
    assert n_semi + n_anti == total and n_semi > 0


def test_grouping_global_and_keyed(spark, catalog):
    keyed = ra.Grouping(
        ra.Relation(table="nation"), keys=("n_regionkey",), aggregates=(("n", "count(*)"),)
    )
    out = {r.n_regionkey: r.n for r in rows(spark, catalog, keyed)}
    assert out == {k: 5 for k in range(5)}
    global_ = ra.Grouping(ra.Relation(table="nation"), aggregates=(("n", "count(*)"),))
    assert rows(spark, catalog, global_)[0].n == 25


def test_grouping_dedup_when_no_aggregates(spark, catalog):
    plan = ra.Grouping(ra.Relation(table="nation"), keys=("n_regionkey",))
    assert len(rows(spark, catalog, plan)) == 5


def test_duplicate_elimination(spark, catalog):
    plan = ra.DuplicateElimination(
        ra.Projection(ra.Relation(table="nation"), ("n_regionkey",))
    )
    assert len(rows(spark, catalog, plan)) == 5


def test_sort_direction_and_nulls(spark, catalog):
    plan = ra.Sort(
        ra.Map(ra.Relation(table="region"), (("k", "nullif(r_regionkey, 2)"),)),
        keys=(ra.SortKey("k", ascending=False, nulls_first=True),),
    )
    out = [r.k for r in rows(spark, catalog, plan)]
    assert out == [None, 4, 3, 1, 0]


def test_union_set_and_bag(spark, catalog):
    proj = ra.Projection(ra.Relation(table="nation"), ("n_regionkey",))
    assert len(rows(spark, catalog, ra.Union(proj, proj, distinct=True))) == 5
    assert len(rows(spark, catalog, ra.Union(proj, proj, distinct=False))) == 50


def test_intersection_and_difference(spark, catalog):
    cust = ra.DuplicateElimination(
        ra.Projection(ra.Relation(table="customer"), ("c_nationkey AS nk",))
    )
    supp = ra.DuplicateElimination(
        ra.Projection(ra.Relation(table="supplier"), ("s_nationkey AS nk",))
    )
    inter = {r.nk for r in rows(spark, catalog, ra.Intersection(cust, supp))}
    diff = {r.nk for r in rows(spark, catalog, ra.Difference(cust, supp))}
    assert inter.isdisjoint(diff)


def test_subquery_scan_and_limit(spark, catalog):
    plan = ra.Limit(
        ra.Sort(
            ra.SubqueryScan(ra.Relation(table="nation"), alias="sq"),
            keys=(ra.SortKey("n_nationkey"),),
        ),
        limit=3,
        offset=1,
    )
    out = [r.n_nationkey for r in rows(spark, catalog, plan)]
    assert out == [1, 2, 3]


def test_mutate_and_walk():
    plan = ra.Selection(ra.Relation(table="region"), "r_name = 'ASIA'")
    changed = plan.mutate(predicate="r_name = 'EUROPE'")
    assert changed.predicate == "r_name = 'EUROPE'" and plan.predicate == "r_name = 'ASIA'"
    assert plan.tables() == {"region"}
    assert len(list(plan.walk())) == 2


def test_array_literal_converter_edge_cases():
    """Round-9: the literal-aware ARRAY[...] -> array(...) converter —
    nested constructors, subscripts inside a constructor, ']' inside
    string literals, and word-boundary safety (``myarray[1]`` is a
    subscript on an identifier, never a constructor)."""
    from postbound_spark.operators.compiler import _to_spark_array_calls as c

    assert c("array['a,b', 'c]d']") == "array('a,b', 'c]d')"
    assert c("array[x[1], array[2,3]]") == "array(x[1], array(2,3))"
    assert c("myarray[1]") == "myarray[1]"
    assert c("ARRAY[1] || Array[2]") == "array(1) || array(2)"
    assert c("no brackets") == "no brackets"
    assert c("s = 'array[not me]'") == "s = 'array[not me]'"


def test_chartype_rewrite_cast_anchored():
    """Round-10 advisor fix: bare VARCHAR/TEXT map to STRING only in
    cast-target position (``CAST(.. AS text)`` at the cast's own depth,
    ``x::text``) — a column named ``text`` or an ``AS text`` output alias
    must pass through untouched."""
    from postbound_spark.operators.compiler import _to_spark_chartypes as c

    assert c("CAST(x AS text)") == "CAST(x AS STRING)"
    assert c("TRY_CAST(x AS TEXT)") == "TRY_CAST(x AS STRING)"
    assert c("cast('a' as varchar)") == "cast('a' as STRING)"
    assert c("x::text || y::varchar") == "x::STRING || y::STRING"
    assert c("CAST(CAST(x AS text) AS int)") == "CAST(CAST(x AS STRING) AS int)"
    # identifiers and aliases named like the types stay untouched
    assert c("t.text") == "t.text"
    assert c("substr(doc, 1, 3) AS text") == "substr(doc, 1, 3) AS text"
    assert c("CAST((SELECT x AS text FROM t) AS int)") == "CAST((SELECT x AS text FROM t) AS int)"
    # length-ful spellings keep their length; literals are never rewritten
    assert c("CAST(x AS varchar(10))") == "CAST(x AS varchar(10))"
    assert c("'cast(x as text)'") == "'cast(x as text)'"


def test_bag_except_all_count_form(spark):
    """Round-10: EXCEPT ALL compiles to the count-difference form. Checks
    bag multiplicities across the two-level replication boundary (a value
    duplicated past the 10k batch size), NULL-row equality, and parity
    with Spark's native exceptAll."""
    from pyspark.sql import Row, functions as F
    from postbound_spark.operators.compiler import _bag_except_all

    left = spark.createDataFrame(
        [Row(k=1, v="a")] * 25_000 + [Row(k=2, v="b")] * 3
        + [Row(k=None, v=None)] * 4
    )
    right = spark.createDataFrame(
        [Row(x=1, y="a")] * 3 + [Row(x=2, y="b")] * 5
        + [Row(x=None, y=None)] * 1
    )
    got = _bag_except_all(left, right)
    counts = {tuple(r[:2]): r[2] for r in
              got.groupBy("k", "v").agg(F.count(F.lit(1))).collect()}
    assert counts == {(1, "a"): 24_997, (None, None): 3}
    want = {tuple(r[:2]): r[2] for r in
            left.exceptAll(right.toDF("k", "v"))
            .groupBy("k", "v").agg(F.count(F.lit(1))).collect()}
    assert counts == want


def test_star_window_select_sorts_above_projection():
    # a bare `*` (or a `* EXCLUDE` that keeps the key) passes the ORDER BY
    # column through, so the Sort sits above the window projection; once
    # the key is excluded the select list cannot carry it
    from postbound_spark.plans.algebra import parse_relalg
    from postbound_spark.plans.parser import UnsupportedSqlError, parse_query

    schema = {"region": ["r_regionkey", "r_name", "r_comment"]}
    window = "count(*) OVER (ORDER BY r_regionkey ROWS 1 PRECEDING) AS c"
    for star in ("*", "* EXCLUDE (r_name)"):
        sql = f"SELECT {star}, {window} FROM region ORDER BY r_regionkey"
        plan = parse_relalg(parse_query(sql, schema=schema))
        assert isinstance(plan, ra.Sort)
        assert isinstance(plan.child, ra.Projection)
    sql = f"SELECT * EXCLUDE (r_regionkey), {window} FROM region ORDER BY r_regionkey"
    with pytest.raises(UnsupportedSqlError):
        parse_relalg(parse_query(sql, schema=schema))
