"""Differential EXECUTION fuzzing: hypothesis-generated SQL, run through
the repo's own front door (parse_query → parse_relalg → compile_plan →
Spark) AND through DuckDB on identical text over identical parquet, with
multiset result equality.

The 206 registry oracles pin hand-written queries; the parser property
tests pin IR round-trips without executing. This module closes the gap
between them — the combinatorial selection/projection/join/aggregation
space is sampled and every sample must produce the same rows on both
engines. Query generation is constrained by the repo's cross-engine
conventions (`memory: oracle-hash-traps`): integer and string columns
only (no float aggregates), no LIMIT without a unique order key, and
comparison by sorted multiset so ORDER BY ties cannot flake.

Round-9 addition: strategies whose ORDER BY is a TOTAL order tag their
SQL with ``/*ordered*/`` and the comparator checks the ordered SEQUENCE
— the window-sort bug proved row ORDER is a semantics class multiset
comparison only sees through a LIMIT cut.

Grammar v18 (round-9b): INTERSECT ALL / EXCEPT ALL bag-semantics chains
(duplicate multiplicities + ANSI precedence), FETCH FIRST n ROWS WITH
TIES (DuckDB lacks the spelling — ``_duck_text`` rewrites the oracle
side into the equivalent rank() cutoff over the same body), and WITH
RECURSIVE (bounded UNION ALL ladders + UNION-distinct closures over
random cyclic digraphs; DuckDB runs the identical text).

Grammar v23 (round-11): correlated EXISTS with GROUP BY + HAVING in
predicate position (the grouped decorrelation), and MIXED GROUP BY
lists (plain item composed with ROLLUP/CUBE as the ANSI cross product).
GROUPS window frames are NOT emitted: DuckDB 1.0 rejects GROUPS mode
outright, so differential coverage there comes from the 22 ``groups_*``
probes of tests/probe_corpus.py (the engine's desugared render on the
oracle side) and the pure-Python peer-group reference in
tests/test_groups_frames.py.

Grammar v24 (round-11 waves 23-25): the DuckDB LIST function family —
bracket literals, list_sort/list_distinct/list_unique,
list_contains/has_any/has_all NULL semantics, list_sum/list_avg folds,
polymorphic len(), slices, arrays as GROUP BY keys; FROM-postfix
PIVOT/UNPIVOT (implicit group-by-everything-else, INCLUDE NULLS,
pivot→unpivot chains); the STRUCT family (brace literals, field
access spellings, nesting, comparisons, structs as GROUP BY keys);
ASOF [LEFT] JOIN (backward/forward, strict/inclusive, flipped
operand orders, derived sides — compiled via the union-window
composition, DuckDB's native ASOF as the oracle); the convenience
dialect (FROM-first, * REPLACE, COLUMNS, ORDER BY ALL); and
cross-feature COMPOSITIONS (pivot over CTEs, unpivot into windows,
ASOF null-probes, FROM-first + COLUMNS + QUALIFY)."""

from __future__ import annotations

import re
from decimal import Decimal

import duckdb
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st

from postbound_spark.operators.compiler import compile_plan
from postbound_spark.plans.algebra import parse_relalg
from postbound_spark.plans.parser import parse_query

#: the BINDING schema must be the COMPLETE fixture schema — a generated
#: column missing here stays unbound, and before the round-8 fail-safe
#: that mis-collapsed compound predicates' table sets (o_orderdate was
#: absent while grammar v7 generated it: NOT(ts OR in) was pushed onto
#: the wrong base table). Generation pools (INT_COLS/STR_COLS) stay
#: deliberately restricted to cross-engine-safe dtypes.
TABLES = {
    "customer": ["c_custkey", "c_name", "c_nationkey", "c_acctbal", "c_mktsegment"],
    "orders": [
        "o_orderkey",
        "o_custkey",
        "o_orderstatus",
        "o_totalprice",
        "o_orderdate",
        "o_orderpriority",
    ],
    "nation": ["n_nationkey", "n_name", "n_regionkey"],
    "region": ["r_regionkey", "r_name"],
}
INT_COLS = {
    "customer": ["c_custkey", "c_nationkey"],
    "orders": ["o_orderkey", "o_custkey"],
    "nation": ["n_nationkey", "n_regionkey"],
    "region": ["r_regionkey"],
}
STR_COLS = {
    "customer": ["c_name"],
    "orders": ["o_orderstatus", "o_orderpriority"],
    "nation": ["n_name"],
    "region": ["r_name"],
}
#: correlated-scalar shapes: outer table -> (inner table, inner correlation
#: key, outer correlation key). Outer references are TABLE-QUALIFIED — the
#: form the algebra path's lateral decorrelation recognizes (an unqualified
#: outer name inside the subquery is inner-first per ANSI).
CORR = {
    "customer": ("orders", "o_custkey", "c_custkey"),
    "nation": ("customer", "c_nationkey", "n_nationkey"),
    "region": ("nation", "n_regionkey", "r_regionkey"),
}

#: PK-FK join pairs (left table, right table, join predicate)
JOINS = [
    ("customer", "nation", "c_nationkey = n_nationkey"),
    ("orders", "customer", "o_custkey = c_custkey"),
    ("nation", "region", "n_regionkey = r_regionkey"),
]


@pytest.fixture(scope="module")
def engines(spark, sf_small):
    con = duckdb.connect()
    for t in TABLES:
        path = f"{sf_small}/{t}.parquet"
        spark.read.parquet(path).createOrReplaceTempView(t)
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
    yield spark, con
    con.close()
    for t in TABLES:
        spark.catalog.dropTempView(t)


@st.composite
def predicate(draw, tables: list[str]) -> str:
    table = draw(st.sampled_from(tables))
    kinds = ["cmp", "between", "in", "str_eq", "like", "scalar_cmp",
             "parity_ops"]
    if table == "orders":
        kinds.append("ts_cmp")
    if table in CORR and CORR[table][0] not in tables:
        # (inner table must not collide with an outer identifier — the
        # engine's clean rejection asks for explicit aliases there)
        kinds.append("corr_scalar")
        kinds.append("corr_scalar_top1")
        kinds.append("exists_having")
    if table in ("region", "nation"):
        kinds.append("corr_scalar_join")
    kind = draw(st.sampled_from(kinds))
    if kind == "parity_ops":
        # grammar v22 (round-11, wave-9): operator-parity lowerings in
        # predicate position — `^` power, 1-arg log() base-10, 1-based
        # subscripts with expression indexes
        col = draw(st.sampled_from(INT_COLS[table]))
        shape = draw(st.integers(0, 2))
        if shape == 0:
            return f"{col} < {draw(st.integers(2, 9))} ^ 2"
        if shape == 1:
            return f"log({col} + 10) < {draw(st.integers(1, 3))}"
        k = draw(st.integers(2, 4))
        return (
            f"(array[{', '.join(str(10 * i) for i in range(1, k + 1))}])"
            f"[{col} % {k} + 1] >= {draw(st.integers(10, 30))}"
        )
    if kind == "exists_having":
        # grammar v23 (round-11): correlated EXISTS with GROUP BY +
        # HAVING — decorrelated by the grouped rewrite (correlation key
        # joins the GROUP BY, HAVING filters per group, survivors
        # semi/anti-join back)
        inner_t, ik, ok = CORR[table]
        gk = {"orders": "o_orderpriority", "customer": "c_mktsegment",
              "nation": "n_regionkey"}[inner_t]
        neg = draw(st.sampled_from(["", "NOT "]))
        cmp_op = draw(st.sampled_from([">=", ">", "<="]))
        n = draw(st.integers(1, 6))
        loc = (
            f" AND {ik} < {draw(st.integers(5, 4000))}"
            if draw(st.booleans())
            else ""
        )
        return (
            f"{neg}EXISTS (SELECT 1 FROM {inner_t} "
            f"WHERE {ik} = {table}.{ok}{loc} "
            f"GROUP BY {gk} HAVING count(*) {cmp_op} {n})"
        )
    if kind == "corr_scalar_top1":
        # grammar v22 (round-11): the as-of scalar — correlated
        # ORDER BY … LIMIT 1 [OFFSET 1], compiled as a row_number
        # lateral LEFT join (NULL when no rows; 3VL comparison drops
        # the row on both engines). Unique ORDER key => deterministic.
        inner_t, ik, ok = CORR[table]
        uniq = {"orders": "o_orderkey", "customer": "c_custkey",
                "nation": "n_nationkey"}[inner_t]
        sel = draw(st.sampled_from(INT_COLS[inner_t]))
        lhs = draw(st.sampled_from(INT_COLS[table]))
        op = draw(st.sampled_from(["<", ">=", ">"]))
        dirn = draw(st.sampled_from(["ASC", "DESC"]))
        off = draw(st.sampled_from(["", " OFFSET 1"]))
        return (
            f"{lhs} {op} (SELECT {sel} FROM {inner_t} "
            f"WHERE {ik} = {table}.{ok} "
            f"ORDER BY {uniq} {dirn} LIMIT 1{off})"
        )
    if kind == "corr_scalar_join":
        # grammar v22: CORRELATED scalar whose body holds an explicit
        # LEFT JOIN (TPC-H Q2/Q17 family, round-11) — the inner join
        # compiles as an ordinary subplan, then groups ONCE on the
        # correlation key and LEFT-joins back (inner aliases are always
        # explicit, so outer identifiers can never collide)
        left_t, right_t, on_eq, ik, ok, agg_col = {
            "region": ("nation nx", "customer cx",
                       "cx.c_nationkey = nx.n_nationkey",
                       "nx.n_regionkey", "r_regionkey", "cx.c_custkey"),
            "nation": ("customer cx", "orders ox",
                       "ox.o_custkey = cx.c_custkey",
                       "cx.c_nationkey", "n_nationkey", "ox.o_orderkey"),
        }[table]
        fn = draw(st.sampled_from([f"count({agg_col})", f"max({agg_col})"]))
        lhs = draw(st.sampled_from(INT_COLS[table]))
        op = draw(st.sampled_from(["<", ">=", ">"]))
        extra = (
            f" AND {agg_col} < {draw(st.integers(2, 40))}"
            if draw(st.booleans())
            else ""
        )
        return (
            f"{lhs} {op} (SELECT {fn} FROM {left_t} LEFT JOIN {right_t} "
            f"ON {on_eq}{extra} WHERE {ik} = {table}.{ok})"
        )
    if kind == "corr_scalar":
        # grammar v14: CORRELATED scalar aggregate in a comparison —
        # decorrelated by the algebra path into GROUP BY correlation
        # keys + LEFT join (counts coalesce to 0, empty max is NULL)
        inner_t, ik, ok = CORR[table]
        lhs = draw(st.sampled_from(INT_COLS[table]))
        op = draw(st.sampled_from(["<", ">=", ">"]))
        fn = draw(st.sampled_from(["count(*)", f"max({ik})", f"min({ik})"]))
        off = draw(st.integers(0, 5))
        return (
            f"{lhs} {op} (SELECT {fn} FROM {inner_t} "
            f"WHERE {ik} = {table}.{ok}) + {off}"
        )
    if kind == "scalar_cmp":
        # grammar v13: uncorrelated scalar subquery in a comparison —
        # lifted by the algebra path into a 1-row cross product
        col = draw(st.sampled_from(INT_COLS[table]))
        op = draw(st.sampled_from(["<", ">=", ">"]))
        sub_t = draw(st.sampled_from(["region", "nation"]))
        if draw(st.booleans()):
            # v22 (round-11): uncorrelated ORDER BY … LIMIT 1 [OFFSET] —
            # lowered through the min()-wrapper so the 1-row attach holds
            # even for an empty derived table (OFFSET past the end)
            sel = draw(st.sampled_from(INT_COLS[sub_t]))
            uniq = {"region": "r_regionkey", "nation": "n_nationkey"}[sub_t]
            dirn = draw(st.sampled_from(["ASC", "DESC"]))
            noff = draw(st.integers(0, 30))
            return (
                f"{col} {op} (SELECT {sel} FROM {sub_t} "
                f"ORDER BY {uniq} {dirn} LIMIT 1 OFFSET {noff})"
            )
        fn = draw(st.sampled_from(["min", "max", "count"]))
        arg = "*" if fn == "count" else draw(st.sampled_from(INT_COLS[sub_t]))
        off = draw(st.integers(0, 5))
        return f"{col} {op} (SELECT {fn}({arg}) FROM {sub_t}) + {off}"
    if kind == "ts_cmp":
        op = draw(st.sampled_from(["<", ">=", ">"]))
        y = draw(st.integers(1995, 2000))
        m = draw(st.sampled_from([1, 4, 7, 10]))
        return f"o_orderdate {op} TIMESTAMP '{y}-{m:02d}-01'"
    if kind in ("cmp", "between", "in"):
        col = draw(st.sampled_from(INT_COLS[table]))
        if kind == "cmp":
            op = draw(st.sampled_from(["<", "<=", ">", ">=", "=", "<>"]))
            return f"{col} {op} {draw(st.integers(0, 30))}"
        if kind == "between":
            lo = draw(st.integers(0, 25))
            return f"{col} BETWEEN {lo} AND {lo + draw(st.integers(0, 20))}"
        vals = draw(st.lists(st.integers(0, 30), min_size=1, max_size=4))
        return f"{col} IN ({', '.join(map(str, vals))})"
    col = draw(st.sampled_from(STR_COLS[table]))
    if kind == "str_eq":
        val = draw(st.sampled_from(["ASIA", "EUROPE", "KENYA", "O", "F", "P"]))
        return f"{col} = '{val}'"
    pat = draw(st.sampled_from(["A%", "%a%", "_-HIGH", "%e"]))
    return f"{col} LIKE '{pat}'"


#: correlated EXISTS shapes per outer table (semi/anti-join compilation)
EXISTS = {
    "customer": "SELECT 1 FROM orders WHERE o_custkey = c_custkey",
    "nation": "SELECT 1 FROM customer WHERE c_nationkey = n_nationkey",
    "region": "SELECT 1 FROM nation WHERE n_regionkey = r_regionkey",
}


#: IN-subquery shapes: (outer table, membership expression)
IN_SUBQ = {
    "customer": "c_custkey {neg}IN (SELECT o_custkey FROM orders{w})",
    "nation": "n_nationkey {neg}IN (SELECT c_nationkey FROM customer{w})",
    "region": "r_regionkey {neg}IN (SELECT n_regionkey FROM nation{w})",
}


@st.composite
def select_stmt(draw) -> str:
    if draw(st.booleans()):
        left, right, cond = draw(st.sampled_from(JOINS))
        tables = [left, right]
        jt = draw(st.sampled_from(["JOIN", "LEFT JOIN"]))
        from_clause = f"{left} {jt} {right} ON {cond}"
        # LEFT JOIN + WHERE on the right side would null-filter back to
        # inner — keep predicates on the LEFT table so the outer
        # semantics stay observable
        pred_tables = [left] if jt == "LEFT JOIN" else tables
    else:
        tables = [draw(st.sampled_from(sorted(TABLES)))]
        from_clause = tables[0]
        pred_tables = tables
    preds = draw(st.lists(predicate(pred_tables), max_size=2))
    if len(preds) == 2 and draw(st.booleans()):
        # OR-compound: different pushdown/CNF path than the AND chain
        preds = [f"({preds[0]} OR {preds[1]})"]
    if preds and draw(st.integers(0, 5)) == 0:
        preds[0] = f"NOT ({preds[0]})"
    outer = tables[0]
    subq_kind = draw(st.integers(0, 5))
    if outer in EXISTS and subq_kind == 0:
        neg = draw(st.sampled_from(["EXISTS", "NOT EXISTS"]))
        preds.append(f"{neg} ({EXISTS[outer]})")
    elif outer in IN_SUBQ and subq_kind == 1:
        inner_pred = draw(st.one_of(st.none(), predicate(["orders"])))
        # the inner predicate only applies where its table matches
        w = (
            f" WHERE {inner_pred}"
            if inner_pred and outer == "customer"
            else ""
        )
        neg = draw(st.sampled_from(["", "NOT "]))
        preds.append(IN_SUBQ[outer].format(neg=neg, w=w))
    where = f" WHERE {' AND '.join(preds)}" if preds else ""

    shape = draw(st.integers(0, 5))
    if shape == 5 and "orders" in tables:  # temporal grouping: the
        # cross-engine timestamp path (UTC session, microsecond parquet)
        val = draw(st.sampled_from(INT_COLS["orders"]))
        return (
            f"SELECT extract(year FROM o_orderdate) AS yr, count(*) AS n, "
            f"min({val}) AS lo FROM {from_clause}{where} "
            f"GROUP BY extract(year FROM o_orderdate) ORDER BY yr" + ORDERED
        )
    if shape == 0:  # global aggregate (no GROUP BY)
        val = draw(st.sampled_from(INT_COLS[tables[0]]))
        return (
            f"SELECT count(*) AS n, sum({val}) AS s, min({val}) AS lo, "
            f"max({val}) AS hi FROM {from_clause}{where}"
        )
    if shape == 4 and len(tables) == 1:  # window functions (deterministic
        # variants only: frame-order-independent aggregates, or ranking
        # over a UNIQUE key; ties under rank() share a value, so that is
        # deterministic too)
        t = tables[0]
        pk = {
            "customer": "c_custkey",
            "orders": "o_orderkey",
            "nation": "n_nationkey",
            "region": "r_regionkey",
        }[t]
        key = draw(st.sampled_from(INT_COLS[t] + STR_COLS[t]))
        val = draw(st.sampled_from(INT_COLS[t]))
        wf = draw(
            st.sampled_from(
                [
                    f"sum({val}) OVER (PARTITION BY {key})",
                    f"count(*) OVER (PARTITION BY {key})",
                    f"row_number() OVER (PARTITION BY {key} ORDER BY {pk})",
                    f"rank() OVER (ORDER BY {key})",
                    f"min({val}) OVER (PARTITION BY {key})",
                ]
            )
        )
        return f"SELECT {pk}, {key}, {wf} AS w FROM {from_clause}{where}"
    if shape == 1:  # grouped aggregate (1-2 keys, possibly an expression)
        key_table = draw(st.sampled_from(tables))
        keys = draw(
            st.lists(
                st.sampled_from(
                    INT_COLS[key_table] + STR_COLS[key_table]
                ),
                min_size=1,
                max_size=2,
                unique=True,
            )
        )
        if draw(st.integers(0, 3)) == 0 and keys[0] in INT_COLS[key_table]:
            # expression key: exact integer arithmetic (grouping on a
            # computed key exercises the expression-key rewrite path)
            keys = [f"{keys[0]} % {draw(st.integers(2, 7))}"] + keys[1:]
        val = draw(st.sampled_from(INT_COLS[key_table]))
        agg_pool = [
            "count(*) AS n",
            f"sum({val}) AS s",
            f"min({val}) AS lo",
            f"max({val}) AS hi",
            f"count(distinct {val}) AS nd",
            # v15: scalar span INSIDE the aggregate argument — evaluated
            # BY the Grouping, so the lift must attach pre-aggregation
            f"CAST(sum({val} + (SELECT min(r_regionkey) FROM region)) "
            "AS BIGINT) AS sps",
        ]
        if len(tables) == 2:
            # count(col) vs count(*): under LEFT JOIN the right side's
            # nulls must NOT count — the null-semantics divergence trap
            rc = draw(st.sampled_from(INT_COLS[tables[1]]))
            agg_pool.append(f"count({rc}) AS cnn")
        aggs = draw(
            st.lists(st.sampled_from(agg_pool), min_size=1, max_size=3, unique=True)
        )
        # grammar v13: scalar subquery in the SELECT list of a grouped
        # aggregate (uncorrelated global aggregate — the shape the algebra
        # path lifts into a post-aggregation 1-row cross product)
        if draw(st.integers(0, 3)) == 0:
            sub_t = draw(st.sampled_from(["region", "nation"]))
            sub_c = draw(st.sampled_from(INT_COLS[sub_t]))
            sub_fn = draw(st.sampled_from(["min", "max"]))
            aggs = aggs + [f"(SELECT {sub_fn}({sub_c}) FROM {sub_t}) AS sub_m"]
        having_kind = draw(st.integers(0, 3))
        if having_kind == 0:
            having = f" HAVING count(*) >= {draw(st.integers(1, 3))}"
        elif having_kind == 1:
            # grammar v13: scalar subquery in HAVING (post-agg lift)
            sub_t = draw(st.sampled_from(["region", "nation"]))
            op2 = draw(st.sampled_from([">=", "<", ">"]))
            off = draw(st.integers(0, 3))
            having = (
                f" HAVING count(*) {op2} (SELECT count(*) FROM {sub_t}) - {off}"
            )
        else:
            having = ""
        key_list = ", ".join(keys)
        # ordered compare only when group keys cannot be NULL: under
        # LEFT JOIN a right-table key null-extends, and the engines'
        # DEFAULT null ordering differs (Spark NULLS FIRST, DuckDB
        # NULLS LAST) — implementation-defined, not a divergence
        marker = ORDERED if "LEFT JOIN" not in from_clause else ""
        return (
            f"SELECT {key_list}, {', '.join(aggs)} FROM {from_clause}{where} "
            f"GROUP BY {key_list}{having} ORDER BY {key_list}" + marker
        )

    cols = draw(
        st.lists(
            st.sampled_from([c for t in tables for c in TABLES[t]]),
            min_size=1,
            max_size=3,
            unique=True,
        )
    )
    extra = draw(st.integers(0, 6))
    if extra == 0:  # CASE projection
        ic = draw(st.sampled_from(INT_COLS[tables[0]]))
        cut = draw(st.integers(0, 20))
        cols = cols + [
            f"CASE WHEN {ic} < {cut} THEN 'low' ELSE 'high' END AS band"
        ]
    elif extra == 1:  # integer arithmetic (non-negative operands only:
        # negative %-semantics differ across engines by convention)
        ic = draw(st.sampled_from(INT_COLS[tables[0]]))
        op, rhs = draw(
            st.sampled_from([("+", 7), ("-", 3), ("*", 2), ("%", 5)])
        )
        cols = cols + [f"{ic} {op} {rhs} AS calc"]
    elif extra == 4 and tables[0] in CORR and CORR[tables[0]][0] not in tables:
        # grammar v14: CORRELATED scalar aggregate projection
        inner_t, ik, ok = CORR[tables[0]]
        fn = draw(st.sampled_from(["count(*)", f"max({ik})"]))
        cols = cols + [
            f"(SELECT {fn} FROM {inner_t} "
            f"WHERE {ik} = {tables[0]}.{ok}) AS corr_m"
        ]
    elif extra == 3:  # grammar v13: scalar subquery projection
        sub_t = draw(st.sampled_from(["region", "nation"]))
        fn = draw(st.sampled_from(["min", "max"]))
        sub_c = draw(st.sampled_from(INT_COLS[sub_t]))
        cols = cols + [f"(SELECT {fn}({sub_c}) FROM {sub_t}) AS sub_m"]
    elif extra == 2:  # string functions (ASCII data: case/length/substr
        # semantics agree; substr is 1-based on both engines)
        sc = draw(st.sampled_from(STR_COLS[tables[0]]))
        expr = draw(
            st.sampled_from(
                [
                    f"upper({sc}) AS u",
                    f"lower({sc}) AS lo_s",
                    f"length({sc}) AS len_s",
                    f"substr({sc}, 1, 3) AS s3",
                    f"{sc} || '-x' AS tagged",
                ]
            )
        )
        cols = cols + [expr]
    distinct = "DISTINCT " if draw(st.booleans()) else ""
    sql = f"SELECT {distinct}{', '.join(cols)} FROM {from_clause}{where}"
    # LIMIT only under a UNIQUE order key — ties would make the cut
    # nondeterministic across engines
    pk = {"customer": "c_custkey", "orders": "o_orderkey"}.get(tables[0])
    if pk and not distinct and draw(st.integers(0, 3)) == 0:
        sql += f" ORDER BY {pk} LIMIT {draw(st.integers(1, 20))}" + ORDERED
    return sql


@st.composite
def set_query(draw) -> str:
    """UNION / UNION ALL / INTERSECT / EXCEPT of two type-compatible
    single-table selects over the integer key columns."""
    op = draw(st.sampled_from(["UNION", "UNION ALL", "INTERSECT", "EXCEPT"]))

    def side(draw, names=("k",)):
        t = draw(st.sampled_from(sorted(TABLES)))
        cols = draw(
            st.lists(
                st.sampled_from(INT_COLS[t]),
                min_size=len(names),
                max_size=len(names),
            )
        )
        preds = draw(st.lists(predicate([t]), max_size=1))
        w = f" WHERE {preds[0]}" if preds else ""
        items = ", ".join(f"{c} AS {n}" for c, n in zip(cols, names))
        return f"SELECT {items} FROM {t}{w}"

    if op.startswith("UNION") and draw(st.integers(0, 3)) == 0:
        # grammar v22 (round-11): BY NAME alignment — sides share one
        # name and each contributes a private one (NULL-padded)
        l_names = draw(st.sampled_from([("k",), ("k", "la")]))
        r_names = draw(st.sampled_from([("k",), ("rb", "k")]))
        return (
            f"{side(draw, l_names)} {op} BY NAME {side(draw, r_names)}"
        )

    return f"{side(draw)} {op} {side(draw)}"


@st.composite
def cte_surface_query(draw) -> str:
    """Grammar v14: the round-8 CTE surfaces — target-column lists
    (positional re-aliasing of the body) and VALUES-backed CTEs (banding
    dimension joined to a base table)."""
    if draw(st.booleans()):  # WITH v(a, b) AS (SELECT …) target columns
        t = draw(st.sampled_from(sorted(TABLES)))
        cols = draw(
            st.lists(
                st.sampled_from(INT_COLS[t]), min_size=1, max_size=2, unique=True
            )
        )
        names = [f"k{i}" for i in range(len(cols))]
        preds = draw(st.lists(predicate([t]), max_size=1))
        w = f" WHERE {preds[0]}" if preds else ""
        inner = f"SELECT {', '.join(cols)} FROM {t}{w}"
        key = names[0]
        # MATERIALIZED (shared df.cache() on the engine, native flag on
        # DuckDB) must never change results
        mat = draw(st.sampled_from(["", "MATERIALIZED "]))
        return (
            f"WITH v({', '.join(names)}) AS {mat}({inner}) "
            f"SELECT {key}, count(*) AS n FROM v "
            f"GROUP BY {key} ORDER BY {key}" + ORDERED
        )
    # VALUES-backed CTE as a banding dimension over an integer key
    t = draw(st.sampled_from(["customer", "orders"]))
    col = draw(st.sampled_from(INT_COLS[t]))
    cuts = sorted(
        draw(
            st.lists(
                st.integers(0, 40), min_size=2, max_size=4, unique=True
            )
        )
    )
    rows = ", ".join(
        f"('b{i}', {lo}, {hi})"
        for i, (lo, hi) in enumerate(zip(cuts, cuts[1:] + [1000000]))
    )
    return (
        f"WITH band(name, lo, hi) AS (VALUES {rows}) "
        f"SELECT band.name AS band_name, count(*) AS n FROM {t} "
        f"JOIN band ON {col} >= band.lo AND {col} < band.hi "
        f"GROUP BY band.name ORDER BY band.name" + ORDERED
    )


@st.composite
def derived_table_query(draw) -> str:
    """Aggregate over a derived table — as a WITH CTE or a FROM
    subquery (same relational content, two parser/algebra paths); the
    derived table may itself be a join."""
    if draw(st.integers(0, 2)) == 0:  # join inside the derived table
        left, right, cond = draw(st.sampled_from(JOINS))
        cols = [draw(st.sampled_from(INT_COLS[left]))]
        inner_preds = draw(st.lists(predicate([left, right]), max_size=1))
        iw = f" WHERE {inner_preds[0]}" if inner_preds else ""
        inner = (
            f"SELECT {cols[0]} FROM {left} JOIN {right} ON {cond}{iw}"
        )
        outer_pred = ""
        body = (
            f"SELECT count(*) AS n, sum({cols[0]}) AS s FROM {{src}}"
        )
        if draw(st.booleans()):
            return f"WITH v AS ({inner}) " + body.format(src="v")
        return body.format(src=f"({inner}) v")
    t = draw(st.sampled_from(sorted(TABLES)))
    cols = draw(
        st.lists(st.sampled_from(INT_COLS[t]), min_size=1, max_size=2, unique=True)
    )
    inner_preds = draw(st.lists(predicate([t]), max_size=1))
    iw = f" WHERE {inner_preds[0]}" if inner_preds else ""
    inner = f"SELECT {', '.join(cols)} FROM {t}{iw}"
    outer_pred = (
        f" WHERE {cols[0]} >= {draw(st.integers(0, 10))}"
        if draw(st.booleans())
        else ""
    )
    body = f"SELECT count(*) AS n, sum({cols[0]}) AS s FROM {{src}}{outer_pred}"
    if draw(st.booleans()):
        return f"WITH v AS ({inner}) " + body.format(src="v")
    return body.format(src=f"({inner}) v")


@st.composite
def grouping_sets_query(draw) -> str:
    """Grammar v15: GROUP BY GROUPING SETS — the engine desugars to a
    NULL-padded UNION ALL at parse time; DuckDB runs its NATIVE grouping
    sets on the identical text, so every sampled shape proves
    desugar == native semantics (NULL padding included)."""
    t = draw(st.sampled_from(sorted(TABLES)))
    keys = draw(
        st.lists(
            st.sampled_from(INT_COLS[t] + STR_COLS[t]),
            min_size=2,
            max_size=2,
            unique=True,
        )
    )
    preds = draw(st.lists(predicate([t]), max_size=1))
    w = f" WHERE {preds[0]}" if preds else ""
    sets_pool = [
        f"(({keys[0]}, {keys[1]}), ({keys[0]}), ())",
        f"(({keys[0]}), ({keys[1]}))",
        f"(({keys[0]}, {keys[1]}), ())",
    ]
    sets = draw(st.sampled_from(sets_pool))
    val = draw(st.sampled_from(INT_COLS[t]))
    return (
        f"SELECT {keys[0]}, {keys[1]}, count(*) AS n, min({val}) AS lo "
        f"FROM {t}{w} GROUP BY GROUPING SETS {sets}"
    )


@st.composite
def full_outer_query(draw) -> str:
    """Grammar v15: FULL OUTER JOIN — both sides null-extend; count(col)
    must skip the nulls while count(*) keeps them."""
    left, right, cond = draw(st.sampled_from(JOINS))
    lc = draw(st.sampled_from(INT_COLS[left]))
    rc = draw(st.sampled_from(INT_COLS[right]))
    # a filter would null-reject one side back to inner — generate the
    # pure outer shape and read both null-sensitivity counters
    return (
        f"SELECT count(*) AS n, count({lc}) AS nl, count({rc}) AS nr, "
        f"CAST(sum(coalesce({lc}, 0)) AS BIGINT) AS sl "
        f"FROM {left} FULL JOIN {right} ON {cond}"
    )


@st.composite
def distinct_on_query(draw) -> str:
    """Grammar v16: DISTINCT ON — DuckDB runs it natively, the engine
    compiles a row_number window filter; a TOTAL order inside each group
    (unique tiebreak key) makes the kept row deterministic."""
    t, pk = draw(
        st.sampled_from(
            [("customer", "c_custkey"), ("orders", "o_orderkey")]
        )
    )
    group = draw(
        st.sampled_from(
            [c for c in INT_COLS[t] + STR_COLS[t] if c != pk]
        )
    )
    preds = draw(st.lists(predicate([t]), max_size=1))
    w = f" WHERE {preds[0]}" if preds else ""
    direction = draw(st.sampled_from(["", " DESC"]))
    return (
        f"SELECT DISTINCT ON ({group}) {group}, {pk} FROM {t}{w} "
        f"ORDER BY {group}, {pk}{direction}"
    )


@st.composite
def joined_window_query(draw) -> str:
    """Grammar v16: window functions over a JOINED frame (the previous
    window shapes were single-table) — deterministic variants only."""
    left, right, cond = draw(st.sampled_from(JOINS))
    pk = {"customer": "c_custkey", "orders": "o_orderkey", "nation": "n_nationkey"}[left]
    part = draw(st.sampled_from(INT_COLS[right] + STR_COLS[right]))
    val = draw(st.sampled_from(INT_COLS[left]))
    wf = draw(
        st.sampled_from(
            [
                f"CAST(sum({val}) OVER (PARTITION BY {part}) AS BIGINT)",
                f"count(*) OVER (PARTITION BY {part})",
                f"row_number() OVER (PARTITION BY {part} ORDER BY {pk})",
                f"min({val}) OVER (PARTITION BY {part})",
            ]
        )
    )
    preds = draw(st.lists(predicate([left]), max_size=1))
    w = f" WHERE {preds[0]}" if preds else ""
    return (
        f"SELECT {pk}, {part}, {wf} AS w "
        f"FROM {left} JOIN {right} ON {cond}{w}"
    )


#: v17: single-row scalar-subquery snippets the lift machinery accepts
#: (global aggregate over a small table) — embedded as ARGUMENTS below
def _scalar_snippet(draw) -> str:
    t = draw(st.sampled_from(["region", "nation"]))
    fn = draw(st.sampled_from(["min", "max", "count"]))
    c = "*" if fn == "count" else draw(st.sampled_from(INT_COLS[t]))
    return f"(SELECT {fn}({c}) FROM {t})"


@st.composite
def scalar_argument_query(draw) -> str:
    """Grammar v17: scalar subqueries INSIDE CASE and BETWEEN arguments —
    the lift must find spans in condition/branch/bound position, not just
    as a whole select item or comparison operand (round-8 verdict: the
    recently-added surfaces interact in ways the suite misses)."""
    t = draw(st.sampled_from(["customer", "orders"]))
    pk = {"customer": "c_custkey", "orders": "o_orderkey"}[t]
    ic = draw(st.sampled_from(INT_COLS[t]))
    shape = draw(st.integers(0, 2))
    if shape == 0:  # CASE condition
        return (
            f"SELECT {pk}, CASE WHEN {ic} < {_scalar_snippet(draw)} "
            f"THEN 'lo' ELSE 'hi' END AS band FROM {t} "
            f"ORDER BY {pk} LIMIT {draw(st.integers(5, 30))}" + ORDERED
        )
    if shape == 1:  # CASE result branch
        return (
            f"SELECT {pk}, CASE WHEN {ic} < {draw(st.integers(3, 15))} "
            f"THEN {_scalar_snippet(draw)} ELSE {draw(st.integers(50, 99))} "
            f"END AS v FROM {t} ORDER BY {pk} LIMIT {draw(st.integers(5, 30))}" + ORDERED
        )
    # BETWEEN bound (with an arithmetic tail half the time)
    tail = f" + {draw(st.integers(0, 4))}" if draw(st.booleans()) else ""
    return (
        f"SELECT {pk} FROM {t} WHERE {pk} BETWEEN "
        f"{_scalar_snippet(draw)}{tail} AND {draw(st.integers(20, 60))} "
        f"ORDER BY {pk}" + ORDERED
    )


@st.composite
def array_predicate_query(draw) -> str:
    """Grammar v17: the Postgres array-operator spellings @> / <@ / &&
    over arrays CONSTRUCTED from table string columns and literals —
    DuckDB executes the operators natively, the engine lowers them to
    array_except-emptiness / arrays_overlap."""
    t = draw(st.sampled_from(sorted(TABLES)))
    pk = INT_COLS[t][0]
    sc = draw(st.sampled_from(STR_COLS[t]))
    lits = {
        "r_name": ["ASIA", "EUROPE", "AFRICA"],
        "n_name": ["KENYA", "PERU", "JAPAN"],
        "c_name": ["x"],
        "o_orderstatus": ["O", "F", "P"],
        "o_orderpriority": ["1-URGENT", "5-LOW"],
    }[sc]
    pool = draw(
        st.lists(st.sampled_from(lits), min_size=1, max_size=3, unique=True)
    )
    arr = "ARRAY[" + ", ".join(f"'{v}'" for v in pool) + "]"
    kind = draw(st.integers(0, 3))
    if kind == 0:
        pred = f"ARRAY[{sc}] <@ {arr}"
    elif kind == 1:
        pred = f"{arr} @> ARRAY[{sc}]"
    elif kind == 2:
        pred = f"ARRAY[{sc}, {sc}] && {arr}"
    else:  # compound mixing two operators
        pred = f"ARRAY[{sc}] <@ {arr} OR ARRAY[{sc}] && ARRAY['{pool[0]}']"
    return f"SELECT {pk}, {sc} FROM {t} WHERE {pred} ORDER BY {pk}" + ORDERED


@st.composite
def list_function_query(draw) -> str:
    """Grammar v24 (round-11 wave 23): the DuckDB LIST family over
    bracket literals — list_sort/list_distinct null placement,
    list_contains found-element-wins (FALSE, not NULL, when a NULL
    element hides an absent needle), list_has_any/_all NULL-needle
    skipping, the NULL-seeded list_sum fold, polymorphic len(),
    1-based inclusive slices, and arrays as GROUP BY keys."""
    t = draw(st.sampled_from(["nation", "customer"]))
    pk = {"nation": "n_nationkey", "customer": "c_custkey"}[t]
    ic = draw(st.sampled_from(INT_COLS[t]))
    shape = draw(st.integers(0, 3))
    lim = draw(st.integers(5, 25))
    if shape == 0:
        lit = draw(st.integers(0, 4))
        maybe_null = ", NULL" if draw(st.booleans()) else ""
        return (
            f"SELECT {pk}, "
            f"array_to_string(list_sort([{ic}, {lit}{maybe_null}]), ',') "
            f"AS srt, CAST(list_unique([{ic}, {ic}{maybe_null}]) AS BIGINT) "
            f"AS u, CAST(list_contains([{lit}{maybe_null}], {ic}) "
            f"AS STRING) AS c FROM {t} ORDER BY {pk} LIMIT {lim}" + ORDERED
        )
    if shape == 1:
        # array as the GROUP BY key: unique per group → total order
        return (
            f"SELECT CAST([{ic}] AS STRING) AS k, count(*) AS n "
            f"FROM {t} GROUP BY [{ic}] ORDER BY k" + ORDERED
        )
    if shape == 2:
        pool = draw(
            st.lists(st.integers(0, 6), min_size=1, max_size=3, unique=True)
        )
        arr = "[" + ", ".join(map(str, pool)) + (
            ", NULL]" if draw(st.booleans()) else "]"
        )
        fn = draw(st.sampled_from(["list_contains", "list_has_any"]))
        pred = (
            f"{fn}({arr}, {ic})"
            if fn == "list_contains"
            else f"list_has_any({arr}, [{ic}, NULL])"
        )
        return f"SELECT {pk} FROM {t} WHERE {pred} ORDER BY {pk}" + ORDERED
    return (
        f"SELECT {pk}, CAST(list_sum([{ic}, NULL, 2]) AS BIGINT) AS s, "
        f"list_avg([{ic}, 4]) AS a, CAST(([10, 20, 30])[1:2] AS STRING) "
        f"AS sl, CAST(len([1, 2]) AS BIGINT) AS l "
        f"FROM {t} ORDER BY {pk} LIMIT {lim}" + ORDERED
    )


@st.composite
def composition_query(draw) -> str:
    """Grammar v24 (round-11 wave 30): CROSS-FEATURE compositions —
    pivot over a CTE, unpivot feeding a window, ASOF null-probes,
    FROM-first + COLUMNS + QUALIFY — the interaction points where
    integration bugs live."""
    shape = draw(st.integers(0, 3))
    if shape == 0:
        keys = draw(
            st.lists(st.integers(0, 4), min_size=1, max_size=2, unique=True)
        )
        ins = ", ".join(f"{v} AS r{v}" for v in keys)
        outs = ", ".join(f"CAST(r{v} AS BIGINT) AS r{v}" for v in keys)
        return (
            f"WITH base AS (SELECT n_regionkey, n_nationkey FROM nation) "
            f"SELECT {outs} FROM (SELECT * FROM base "
            f"PIVOT (count(n_nationkey) FOR n_regionkey IN ({ins})))"
        )
    if shape == 1:
        mul = draw(st.integers(2, 5))
        return (
            f"SELECT k, id, CAST(sum(v) OVER (PARTITION BY k ORDER BY id) "
            f"AS BIGINT) AS running FROM (SELECT * FROM ("
            f"SELECT n_nationkey AS id, n_regionkey AS a, "
            f"n_nationkey * {mul} AS b FROM nation) "
            f"UNPIVOT (v FOR k IN (a, b))) ORDER BY k, id" + ORDERED
        )
    if shape == 2:
        lim = draw(st.integers(30, 120))
        return (
            f"SELECT o.o_orderkey FROM orders o ASOF LEFT JOIN orders p "
            f"ON p.o_custkey = o.o_custkey AND o.o_orderdate > "
            f"p.o_orderdate WHERE o.o_orderkey < {lim} AND "
            f"p.o_orderkey IS NULL ORDER BY o.o_orderkey" + ORDERED
        )
    lim = draw(st.integers(4, 15))
    return (
        f"FROM nation SELECT columns('key') WHERE n_nationkey < {lim} "
        f"QUALIFY row_number() OVER (PARTITION BY n_regionkey "
        f"ORDER BY n_nationkey) = 1 ORDER BY ALL" + ORDERED
    )


@st.composite
def dialect_query(draw) -> str:
    """Grammar v24 (round-11 wave 28): the DuckDB convenience dialect —
    FROM-first syntax, `* REPLACE (expr AS col)`, COLUMNS('regex'),
    ORDER BY ALL, composed and nested."""
    t = draw(st.sampled_from(["nation", "region"]))
    pk = {"nation": "n_nationkey", "region": "r_regionkey"}[t]
    lim = draw(st.integers(3, 20))
    shape = draw(st.integers(0, 2))
    if shape == 0:
        off = draw(st.integers(1, 9))
        return (
            f"FROM {t} SELECT * REPLACE ({pk} + {off} AS {pk}) "
            f"WHERE {pk} < {lim} ORDER BY ALL" + ORDERED
        )
    if shape == 1:
        rx = draw(st.sampled_from(["key", "name", "^.*key$"]))
        return (
            f"SELECT columns('{rx}') FROM {t} WHERE {pk} < {lim} "
            f"ORDER BY ALL" + ORDERED
        )
    return (
        f"SELECT d.{pk} FROM (FROM {t} SELECT columns('key') "
        f"WHERE {pk} < {lim}) d ORDER BY d.{pk}" + ORDERED
    )


@st.composite
def asof_query(draw) -> str:
    """Grammar v24 (round-11 wave 27): ASOF [LEFT] JOIN — backward and
    forward, strict and inclusive, both operand orders of the
    inequality, derived-table sides, and matchless probes (LEFT
    null-extension vs inner dropping). orders.o_orderkey is unique, so
    every ordering is tie-free and the single picked row deterministic."""
    left_kw = draw(st.sampled_from(["", "LEFT "]))
    op = draw(st.sampled_from([">", ">=", "<", "<="]))
    lim = draw(st.integers(40, 300))
    mod = draw(st.integers(2, 5))
    shape = draw(st.integers(0, 1))
    if shape == 0:
        flip = draw(st.booleans())
        ineq = (
            f"o.o_orderkey {op} p.o_orderkey"
            if not flip
            else f"p.o_orderkey {'<' if op == '>' else '<=' if op == '>=' else '>' if op == '<' else '>='} o.o_orderkey"
        )
        return (
            f"SELECT o.o_orderkey, CAST(p.o_orderkey AS STRING) AS pk "
            f"FROM orders o ASOF {left_kw}JOIN orders p ON "
            f"p.o_custkey = o.o_custkey AND {ineq} "
            f"WHERE o.o_orderkey < {lim} ORDER BY o.o_orderkey" + ORDERED
        )
    return (
        f"SELECT e.id, CAST(px.pts AS STRING) AS pts FROM "
        f"(SELECT o_orderkey AS id, o_custkey AS k FROM orders "
        f"WHERE o_orderkey < {lim}) e "
        f"ASOF {left_kw}JOIN (SELECT o_custkey AS k, o_orderkey AS pts "
        f"FROM orders WHERE o_orderkey % {mod} = 0) px "
        f"ON px.k = e.k AND e.id {op} px.pts ORDER BY e.id" + ORDERED
    )


@st.composite
def struct_query(draw) -> str:
    """Grammar v24 (round-11 wave 25): STRUCT brace literals, field
    access spellings (parenthesized, struct_extract, three-part t.s.k),
    nesting, comparisons, and structs as GROUP BY keys. Structs are
    never selected raw (fetch formats diverge) — always a field."""
    t = draw(st.sampled_from(["nation", "region"]))
    pk = {"nation": "n_nationkey", "region": "r_regionkey"}[t]
    ic = draw(st.sampled_from(INT_COLS[t]))
    shape = draw(st.integers(0, 2))
    if shape == 0:
        off = draw(st.integers(0, 5))
        return (
            f"SELECT {pk}, ({{'a': {ic} + {off}}}).a AS a, "
            f"({{'o': {{'i': {ic} * 2}}}}).o.i AS nested, "
            f"struct_extract({{'k': {ic}}}, 'k') AS k "
            f"FROM {t} ORDER BY {pk}" + ORDERED
        )
    if shape == 1:
        bound = draw(st.integers(0, 4))
        return (
            f"SELECT {pk} FROM {t} WHERE "
            f"{{'s': {ic}, 't': {pk}}} < {{'s': {bound}, 't': 999}} "
            f"ORDER BY {pk}" + ORDERED
        )
    return (
        f"SELECT ({{'r': {ic}}}).r AS r, count(*) AS n FROM {t} "
        f"GROUP BY {{'r': {ic}}} ORDER BY r" + ORDERED
    )


@st.composite
def pivot_query(draw) -> str:
    """Grammar v24 (round-11 wave 24): FROM-postfix PIVOT/UNPIVOT in the
    shared Spark/DuckDB spelling — implicit group-by-everything-else,
    filtered-CASE aggregate per IN item, UNPIVOT's default NULL
    exclusion vs INCLUDE NULLS, item aliases, and the pivot→unpivot
    chain."""
    shape = draw(st.integers(0, 3))
    if shape == 0:
        fn = draw(st.sampled_from(["count", "sum", "min", "max"]))
        arg = "o_orderkey % 10" if fn != "count" else "o_orderkey"
        items = draw(
            st.lists(
                st.sampled_from(["'O'", "'F'", "'P'"]),
                min_size=1,
                max_size=3,
                unique=True,
            )
        )
        ins = ", ".join(f"{v} AS v{i}" for i, v in enumerate(items))
        outs = ", ".join(
            f"CAST(v{i} AS BIGINT) AS v{i}" for i in range(len(items))
        )
        return (
            f"SELECT o_orderpriority, {outs} FROM ("
            f"SELECT * FROM (SELECT o_orderpriority, o_orderstatus, "
            f"{arg} AS d FROM orders) "
            f"PIVOT ({fn}(d) FOR o_orderstatus IN ({ins}))) "
            f"ORDER BY o_orderpriority" + ORDERED
        )
    if shape == 1:
        keys = draw(
            st.lists(st.integers(0, 5), min_size=1, max_size=3, unique=True)
        )
        ins = ", ".join(f"{v} AS r{v}" for v in keys)
        return (
            f"SELECT * FROM (SELECT n_regionkey, n_nationkey FROM nation) "
            f"PIVOT (count(n_nationkey) FOR n_regionkey IN ({ins})) "
        )
    if shape == 2:
        inc = "INCLUDE NULLS " if draw(st.booleans()) else ""
        null_at = draw(st.integers(0, 4))
        return (
            f"SELECT * FROM (SELECT n_nationkey AS id, CASE WHEN "
            f"n_regionkey = {null_at} THEN NULL ELSE n_regionkey END AS a, "
            f"n_nationkey * 2 AS b FROM nation) "
            f"UNPIVOT {inc}(v FOR k IN (a, b)) ORDER BY id, k" + ORDERED
        )
    ra, rb = draw(st.sampled_from([(0, 1), (1, 2), (0, 4)]))
    return (
        f"SELECT * FROM (SELECT n_regionkey, n_nationkey FROM nation) "
        f"PIVOT (count(n_nationkey) FOR n_regionkey IN "
        f"({ra} AS ra, {rb} AS rb)) "
        f"UNPIVOT (cnt FOR region IN (ra, rb)) ORDER BY region" + ORDERED
    )


@st.composite
def window_limit_query(draw) -> str:
    """Grammar v17: window functions in the SELECT list combined with
    ORDER BY + LIMIT (the round-9 sort-below-window bug class), named or
    inline, optionally with a lifted scalar subquery riding along, and
    sometimes ordering on a column the projection DROPS."""
    t = draw(st.sampled_from(["customer", "orders"]))
    pk = {"customer": "c_custkey", "orders": "o_orderkey"}[t]
    part = draw(st.sampled_from(STR_COLS[t] + INT_COLS[t]))
    val = draw(st.sampled_from(INT_COLS[t]))
    wf = draw(
        st.sampled_from(
            [
                f"CAST(sum({val}) OVER (PARTITION BY {part}) AS BIGINT)",
                f"count(*) OVER (PARTITION BY {part})",
                f"min({val}) OVER (PARTITION BY {part})",
            ]
        )
    )
    named = draw(st.booleans())
    if named:
        wf = wf.replace(f"(PARTITION BY {part})", "w")
        window = f" WINDOW w AS (PARTITION BY {part})"
    else:
        window = ""
    scalar = (
        f", {_scalar_snippet(draw)} AS m" if draw(st.booleans()) else ""
    )
    drop_key = draw(st.booleans())
    sel_key = part if drop_key else pk  # pk dropped -> helper-column path
    order_key = pk
    return (
        f"SELECT {sel_key} AS k, {wf} AS w{scalar} FROM {t}{window} "
        f"ORDER BY {order_key} LIMIT {draw(st.integers(3, 25))}" + ORDERED
    )


@st.composite
def set_cte_offset_query(draw) -> str:
    """Grammar v17: set operations INSIDE a CTE body with a target-column
    list, and OFFSET / WITH on set queries (the round-9 parser surfaces).
    UNION-distinct keys keep the OFFSET cut deterministic."""
    t1, t2 = draw(
        st.lists(st.sampled_from(sorted(TABLES)), min_size=2, max_size=2,
                 unique=True)
    )
    c1 = draw(st.sampled_from(INT_COLS[t1]))
    c2 = draw(st.sampled_from(INT_COLS[t2]))
    if draw(st.booleans()):
        # set op inside a CTE body, target-column rename, grouped consumer
        op = draw(st.sampled_from(["UNION", "UNION ALL"]))
        return (
            f"WITH v(k) AS (SELECT {c1} FROM {t1} {op} SELECT {c2} FROM {t2}) "
            f"SELECT k, count(*) AS n FROM v GROUP BY k ORDER BY k" + ORDERED
        )
    # WITH over the whole set query + ORDER BY/OFFSET[/LIMIT] on the set
    off = draw(st.integers(1, 10))
    lim = draw(st.sampled_from(["", f" LIMIT {draw(st.integers(3, 15))}"]))
    return (
        f"WITH a AS (SELECT {c1} AS k FROM {t1}) "
        f"SELECT k FROM a UNION SELECT {c2} FROM {t2} "
        f"ORDER BY k{lim} OFFSET {off}" + ORDERED
    )


@st.composite
def bag_set_query(draw) -> str:
    """Grammar v18: INTERSECT ALL / EXCEPT ALL (bag semantics, round-9b
    extension) — duplicate multiplicities must match DuckDB exactly
    (min(m,n) / max(0, m−n)), including a third operand that pins ANSI
    precedence (INTERSECT binds tighter than EXCEPT)."""
    t1, t2 = draw(
        st.lists(st.sampled_from(sorted(TABLES)), min_size=2, max_size=2,
                 unique=True)
    )
    c1 = draw(st.sampled_from(INT_COLS[t1]))
    c2 = draw(st.sampled_from(INT_COLS[t2]))
    op = draw(st.sampled_from(["INTERSECT ALL", "EXCEPT ALL"]))
    w1 = f" WHERE {draw(predicate([t1]))}" if draw(st.booleans()) else ""
    sql = f"SELECT {c1} AS k FROM {t1}{w1} {op} SELECT {c2} FROM {t2}"
    if draw(st.booleans()):
        t3 = draw(st.sampled_from(sorted(TABLES)))
        c3 = draw(st.sampled_from(INT_COLS[t3]))
        sql += f" INTERSECT ALL SELECT {c3} FROM {t3}"
    return sql


@st.composite
def ties_query(draw) -> str:
    """Grammar v18: FETCH FIRST n ROWS WITH TIES (round-9b extension) —
    the rank()-window cutoff must include exactly DuckDB's tie group.
    DuckDB has no WITH TIES spelling, so the comparator rewrites the
    oracle text via ``_duck_text`` (rank wrapper over the same body);
    the ORDER BY key is always an output column so the rewrite is
    mechanical. Ties results are deterministic as multisets even though
    the order key is non-unique — the whole tie group is in or out."""
    if draw(st.booleans()):
        # single table, non-unique order key → real tie groups
        t = draw(st.sampled_from(sorted(TABLES)))
        key = draw(st.sampled_from(TABLES[t]))
        pk = INT_COLS[t][0]
        w = f" WHERE {draw(predicate([t]))}" if draw(st.booleans()) else ""
        body = f"SELECT {key} AS k, {pk} AS p FROM {t}{w}"
    else:
        # set-query body: ties on the combined result
        t1, t2 = draw(
            st.lists(st.sampled_from(sorted(TABLES)), min_size=2,
                     max_size=2, unique=True)
        )
        c1 = draw(st.sampled_from(INT_COLS[t1]))
        c2 = draw(st.sampled_from(INT_COLS[t2]))
        op = draw(st.sampled_from(["UNION ALL", "INTERSECT ALL"]))
        body = f"SELECT {c1} AS k FROM {t1} {op} SELECT {c2} AS k FROM {t2}"
    n = draw(st.integers(1, 40))
    return f"{body} ORDER BY k FETCH FIRST {n} ROWS WITH TIES"


@st.composite
def recursive_query(draw) -> str:
    """Grammar v18: WITH RECURSIVE (round-9b extension) — bounded UNION
    ALL generators (arithmetic ladders, optionally joined to a base
    table) and UNION-distinct closures over random VALUES edge lists
    (cycles included — the dedup guard must terminate the fixpoint).
    DuckDB executes the identical text natively."""
    if draw(st.booleans()):
        # arithmetic ladder, optionally aggregated against a real table
        start = draw(st.integers(0, 3))
        step = draw(st.integers(1, 4))
        bound = start + step * draw(st.integers(1, 12))
        gen = (
            f"WITH RECURSIVE g(n) AS (SELECT {start} UNION ALL "
            f"SELECT n + {step} FROM g WHERE n < {bound}) "
        )
        if draw(st.booleans()):
            if draw(st.booleans()):
                # ties cutoff over the recursive consumer (interaction:
                # CTE scope resolution below the rank()-window rewrite)
                k = draw(st.integers(1, 6))
                return (
                    gen + f"SELECT n % 3 AS k, n AS p FROM g ORDER BY k "
                    f"FETCH FIRST {k} ROWS WITH TIES"
                )
            return gen + "SELECT n FROM g ORDER BY n" + ORDERED
        return (
            gen + "SELECT g.n AS n, count(*) AS c FROM g, nation "
            "WHERE n_regionkey < g.n GROUP BY g.n ORDER BY g.n" + ORDERED
        )
    # closure over a random digraph on nodes 0..5 (cycles allowed)
    edges = draw(
        st.lists(
            st.tuples(st.integers(0, 5), st.integers(0, 5)),
            min_size=1,
            max_size=8,
            unique=True,
        )
    )
    rows = ", ".join(f"({a}, {b})" for a, b in edges)
    src = draw(st.integers(0, 5))
    return (
        f"WITH RECURSIVE e(a, b) AS (VALUES {rows}), "
        f"r(x) AS (SELECT {src} UNION SELECT e.b FROM e, r "
        "WHERE e.a = r.x) SELECT x FROM r ORDER BY x" + ORDERED
    )


@st.composite
def having_membership_query(draw) -> str:
    """Grammar v19: EXISTS / NOT EXISTS / IN / NOT IN subqueries in
    HAVING position — semi/anti joins above the aggregate, correlation
    through qualified columns or select aliases, aggregate-call lhs for
    the IN family."""
    outer, (inner, icol) = draw(
        st.sampled_from(
            [
                ("nation", ("region", "r_regionkey")),
                ("customer", ("nation", "n_nationkey")),
            ]
        )
    )
    key = {"nation": "n_regionkey", "customer": "c_nationkey"}[outer]
    use_alias = draw(st.booleans())
    qual = "t0" if use_alias else outer
    from_clause = f"{outer} t0" if use_alias else outer
    group_expr = draw(st.sampled_from([key, f"{key} AS k"]))
    group_key = "k" if group_expr.endswith(" AS k") else key
    out_key = "k" if group_key == "k" else key
    if draw(st.booleans()):
        neg = draw(st.sampled_from(["", "NOT "]))
        lim = draw(st.integers(0, 24))
        member = (
            f"{neg}EXISTS (SELECT 1 FROM {inner} WHERE {icol} = "
            f"{qual}.{key} AND {icol} < {lim})"
        )
    else:
        neg = draw(st.sampled_from(["", "NOT "]))
        lim = draw(st.integers(1, 24))
        member = (
            f"count(*) {neg}IN (SELECT {icol} FROM {inner} "
            f"WHERE {icol} < {lim})"
        )
    extra = (
        f" AND count(*) {draw(st.sampled_from(['>', '<=']))} "
        f"{draw(st.integers(0, 8))}"
        if draw(st.booleans())
        else ""
    )
    return (
        f"SELECT {group_expr}, count(*) AS n FROM {from_clause} "
        f"GROUP BY {group_key} HAVING {member}{extra} "
        f"ORDER BY {out_key}" + ORDERED
    )


@st.composite
def row_values_query(draw) -> str:
    """Grammar v19: row-value constructors in =/<>/IN-list position and
    the = ANY / <> ALL subquery identities."""
    t = draw(st.sampled_from(sorted(TABLES)))
    cols = INT_COLS[t]
    a = draw(st.sampled_from(cols))
    b = draw(st.sampled_from(cols))
    if draw(st.booleans()):
        # v21 adds the lexicographic orderings (ANSI recursion desugar);
        # integer columns only — no NULL elements, where DuckDB's
        # columnar struct-compare diverges from ANSI (documented)
        op = draw(st.sampled_from(["=", "<>", "<", "<=", ">", ">="]))
        va, vb = draw(st.integers(0, 20)), draw(st.integers(0, 20))
        cond = f"({a}, {b}) {op} ({va}, {vb})"
    elif draw(st.booleans()):
        neg = draw(st.sampled_from(["", "NOT "]))
        rows = ", ".join(
            f"({draw(st.integers(0, 20))}, {draw(st.integers(0, 20))})"
            for _ in range(draw(st.integers(1, 3)))
        )
        cond = f"({a}, {b}) {neg}IN ({rows})"
    else:
        # inner table must differ from the outer — an unaliased reuse is
        # the engine's documented clean rejection, not a target shape
        sub_t = draw(
            st.sampled_from([x for x in ("region", "nation") if x != t])
        )
        sc = draw(st.sampled_from(INT_COLS[sub_t]))
        lim = draw(st.integers(0, 20))
        # v21: the full quantifier surface — ordering operators lower to
        # the min/max form, the =ANY/<>ALL identities to semi/anti joins
        form = draw(st.sampled_from([
            "= ANY", "<> ALL", "< ANY", "<= ANY", "> ANY", ">= ANY",
            "< ALL", "<= ALL", "> ALL", ">= ALL", "= ALL", "<> ANY",
            ">= SOME",
        ]))
        cond = f"{a} {form} (SELECT {sc} FROM {sub_t} WHERE {sc} < {lim})"
    return f"SELECT count(*) AS n FROM {t} WHERE {cond}"


@st.composite
def values_stmt_query(draw) -> str:
    """Grammar v19: top-level VALUES statements, optionally set-combined,
    with ORDER BY over the col0.. default names."""
    def rows(k: int) -> str:
        return ", ".join(
            f"({draw(st.integers(0, 9))}, {draw(st.integers(0, 9))})"
            for _ in range(k)
        )

    sql = f"VALUES {rows(draw(st.integers(1, 4)))}"
    if draw(st.booleans()):
        op = draw(
            st.sampled_from(
                ["UNION", "UNION ALL", "INTERSECT ALL", "EXCEPT ALL"]
            )
        )
        sql += f" {op} VALUES {rows(draw(st.integers(1, 4)))}"
    return sql + " ORDER BY col0, col1"


@st.composite
def rollup_cube_query(draw) -> str:
    """Grammar v20: GROUP BY ROLLUP/CUBE (desugared to the grouping-sets
    expansion) with optional HAVING, IN over set-query subqueries, and
    the GROUP BY ALL / ORDER BY ALL shorthands."""
    if draw(st.integers(0, 3)) == 3:
        t = draw(st.sampled_from(sorted(TABLES)))
        k1 = draw(st.sampled_from(INT_COLS[t]))
        k2 = draw(st.sampled_from(STR_COLS[t]))
        w = f" WHERE {draw(predicate([t]))}" if draw(st.booleans()) else ""
        return (
            f"SELECT {k1}, {k2}, count(*) AS n FROM {t}{w} "
            "GROUP BY ALL ORDER BY ALL" + ORDERED
        )
    if draw(st.booleans()):
        t = draw(st.sampled_from(["nation", "customer", "orders"]))
        cols = {
            "nation": ["n_regionkey", "n_nationkey"],
            "customer": ["c_nationkey", "c_mktsegment"],
            "orders": ["o_orderstatus", "o_orderpriority"],
        }[t]
        k = draw(st.integers(1, 2))
        form = draw(st.sampled_from(["ROLLUP", "CUBE"]))
        keys = cols[:k]
        having = (
            f" HAVING count(*) {draw(st.sampled_from(['>', '<=']))} "
            f"{draw(st.integers(0, 20))}"
            if draw(st.booleans())
            else ""
        )
        sel = ", ".join(keys)
        if k == 1 and draw(st.booleans()):
            # grammar v23 (round-11): MIXED list — a plain item composed
            # with ROLLUP/CUBE as the ANSI cross product of set lists
            plain = cols[1]
            mixed_gb = draw(st.sampled_from([
                f"{plain}, {form} ({sel})",
                f"{form} ({sel}), {plain}",
            ]))
            return (
                f"SELECT {plain}, {sel}, count(*) AS n FROM {t} "
                f"GROUP BY {mixed_gb}{having}"
            )
        return (
            f"SELECT {sel}, count(*) AS n FROM {t} "
            f"GROUP BY {form} ({sel}){having}"
        )
    # IN / NOT IN over a set-query subquery
    t = draw(st.sampled_from(["nation", "customer"]))
    col = draw(st.sampled_from(INT_COLS[t]))
    neg = draw(st.sampled_from(["", "NOT "]))
    s1 = draw(st.integers(0, 8))
    s2 = draw(st.integers(0, 24))
    op = draw(st.sampled_from(["UNION", "UNION ALL", "INTERSECT"]))
    return (
        f"SELECT count(*) AS n FROM {t} WHERE {col} {neg}IN "
        f"(SELECT r_regionkey FROM region WHERE r_regionkey < {s1} "
        f"{op} SELECT {s2})"
    )


#: WITH TIES has no DuckDB spelling: rewrite `... ORDER BY k FETCH FIRST
#: n ROWS WITH TIES` into the ANSI-equivalent rank() cutoff over the same
#: body. Only texts produced by ties_query (output-column order key) are
#: rewritten; everything else passes through verbatim.
_TIES_RE = re.compile(
    r"^(?P<body>.+) ORDER BY (?P<key>[\w]+(?:, [\w]+)*) "
    r"FETCH FIRST (?P<n>\d+) ROWS WITH TIES\s*(?:/\*ordered\*/)?$",
    re.S,
)


def _duck_text(sql: str) -> str:
    m = _TIES_RE.match(sql)
    if not m:
        return sql
    return (
        f"SELECT * EXCLUDE (__r) FROM (SELECT *, rank() OVER "
        f"(ORDER BY {m['key']}) AS __r FROM ({m['body']})) WHERE __r <= {m['n']}"
    )


@st.composite
def membership_expr_query(draw) -> str:
    """Grammar v21 (round-10): EXISTS / IN subqueries in EXPRESSION
    position — CASE branches, OR arms of WHERE, and boolean-valued
    select items — plus plain comparison/NOT select items. Correlation
    is always an equality on qualified columns (the decorrelatable
    shape); the IN probe is qualified or a literal so its transplant
    into the count-form subquery cannot capture an inner binding. NULL
    probes exercise the three-valued IN."""
    outer, (inner, icol) = draw(
        st.sampled_from(
            [
                ("nation", ("customer", "c_nationkey")),
                ("nation", ("region", "r_regionkey")),
                ("customer", ("orders", "o_custkey")),
            ]
        )
    )
    okey = {"nation": "n_nationkey", "customer": "c_custkey"}[outer]
    oname = {"nation": "n_name", "customer": "c_name"}[outer]
    neg = draw(st.sampled_from(["", "NOT "]))
    lim = draw(st.integers(0, 900))
    corr = draw(st.booleans())
    if corr:
        member = (
            f"{neg}EXISTS (SELECT 1 FROM {inner} WHERE {icol} = "
            f"t0.{okey} AND {icol} < {lim})"
        )
    elif draw(st.booleans()):
        member = (
            f"{neg}EXISTS (SELECT 1 FROM {inner} WHERE {icol} < {lim})"
        )
    else:
        probe = draw(
            st.sampled_from(
                [
                    f"t0.{okey}",
                    str(draw(st.integers(0, 30))),
                    f"(CASE WHEN t0.{okey} = 3 THEN NULL ELSE t0.{okey} END)",
                ]
            )
        )
        member = (
            f"{probe} {neg}IN (SELECT {icol} FROM {inner} "
            f"WHERE {icol} < {lim})"
        )
    position = draw(st.integers(0, 3))
    if position == 0:  # CASE branch in the SELECT list
        item = f"CASE WHEN {member} THEN 1 ELSE 0 END AS flag"
        return (
            f"SELECT {oname}, {item} FROM {outer} t0 "
            f"ORDER BY {oname}" + ORDERED
        )
    if position == 3:
        # AGGREGATED outer: the decorrelated count lateral attaches
        # ABOVE the Grouping with degrouped correlation keys — every
        # outer reference the member makes is t0.{okey}, the group key
        return (
            f"SELECT t0.{okey}, count(*) AS c, "
            f"CASE WHEN {member} THEN 1 ELSE 0 END AS flag "
            f"FROM {outer} t0 GROUP BY t0.{okey} "
            f"ORDER BY t0.{okey}" + ORDERED
        )
    if position == 1:  # boolean-valued select item (CAST: hash-stable)
        return (
            f"SELECT {oname}, CAST({member} AS INT) AS flag FROM {outer} t0 "
            f"ORDER BY {oname}" + ORDERED
        )
    # OR arm of WHERE — not a top-level conjunct, so the semi-join
    # carve-out cannot take it; the membership lift must
    thresh = draw(st.integers(0, 20))
    return (
        f"SELECT {oname} FROM {outer} t0 "
        f"WHERE t0.{okey} < {thresh} OR {member} "
        f"ORDER BY {oname}" + ORDERED
    )


@st.composite
def bool_item_query(draw) -> str:
    """Grammar v21: plain boolean select items (comparisons, IS NULL,
    BETWEEN, NOT, AND/OR chains) through the projection-predicate
    grammar — no subqueries, pure parser/compiler surface."""
    col = draw(st.sampled_from(["n_regionkey", "n_nationkey"]))
    op = draw(st.sampled_from(["=", "<>", "<", "<=", ">", ">="]))
    v = draw(st.integers(0, 5))
    base = f"{col} {op} {v}"
    form = draw(st.integers(0, 3))
    if form == 1:
        base = f"NOT ({base})"
    elif form == 2:
        base = f"{base} AND n_name LIKE '%A%'"
    elif form == 3:
        base = f"{base} OR {col} BETWEEN 1 AND 2"
    return (
        f"SELECT n_name, CAST({base} AS INT) AS flag FROM nation "
        f"ORDER BY n_name" + ORDERED
    )


@st.composite
def ordered_agg_query(draw) -> str:
    """Grammar v21/v22: in-call aggregate ORDER BY — string_agg /
    array_agg with uniform-direction ordering (struct-sort lowering),
    the DISTINCT-by-self form, and (v22, round-11) MIXED ASC/DESC plus
    NULLS FIRST/LAST via the comparator-lambda lowering; the oracle runs
    DuckDB's NATIVE in-call ordering on identical text."""
    outer, val, keys = draw(
        st.sampled_from(
            [
                ("nation", "n_name", ["n_nationkey", "n_name"]),
                ("customer", "c_mktsegment", ["c_custkey", "c_mktsegment"]),
                ("orders", "o_orderstatus", ["o_orderkey", "o_totalprice"]),
            ]
        )
    )
    gkey = {"nation": "n_regionkey", "customer": "c_nationkey",
            "orders": "o_custkey"}[outer]
    direction = draw(st.sampled_from(["", " DESC"]))
    unique = keys[0]  # the table's key column — ties between engines
    # would make the concat order legitimately nondeterministic, so
    # every non-DISTINCT ordering ends in the unique tiebreaker
    shape = draw(st.integers(0, 3))
    if shape == 0:
        primary = draw(st.sampled_from(keys))
        order = f"{primary}{direction}"
        if primary != unique:
            order += f", {unique}{direction}"  # uniform direction
        agg = f"string_agg({val}, ',' ORDER BY {order})"
    elif shape == 1:
        # grammar v22 (round-11): MIXED ASC/DESC and NULLS FIRST/LAST —
        # the comparator-lambda lowering (fixture keys are non-null, so
        # the NULLS spec exercises grammar + lowering, not placement)
        primary = draw(st.sampled_from(keys))
        d1 = draw(st.sampled_from([" ASC", " DESC"]))
        d2 = " ASC" if d1 == " DESC" else " DESC"
        nspec = draw(st.sampled_from(["", " NULLS FIRST", " NULLS LAST"]))
        if primary != unique:
            order = f"{primary}{d1}{nspec}, {unique}{d2}"
        else:
            order = f"{unique}{d1}{nspec}"
        agg = f"string_agg({val}, ',' ORDER BY {order})"
    elif shape == 2:
        agg = f"string_agg(DISTINCT {val}, '|' ORDER BY {val}{direction})"
    else:
        # grammar v24 (wave-31): ordered first/last → min_by/max_by
        # over a null-marker struct; the unique key keeps it tie-free
        fn = draw(st.sampled_from(["first", "last"]))
        agg = f"{fn}({val} ORDER BY {unique}{direction})"
    lim = draw(st.integers(50, 400))
    return (
        f"SELECT {gkey}, {agg} AS agg_out FROM {outer} "
        f"WHERE {keys[0]} < {lim} GROUP BY {gkey} "
        f"ORDER BY {gkey}" + ORDERED
    )


@st.composite
def qualify_window_query(draw) -> str:
    """Grammar v21 (wave-4 closures): QUALIFY (parse-time desugar) and
    FILTER / DISTINCT on window aggregates (CASE-argument / collect_set
    lowering) — DuckDB executes all spellings natively on identical
    text."""
    outer, key, val, name = draw(
        st.sampled_from(
            [
                ("nation", "n_regionkey", "n_nationkey", "n_name"),
                ("orders", "o_orderstatus", "o_custkey", "o_orderkey"),
            ]
        )
    )
    form = draw(st.integers(0, 5))
    lim = draw(st.integers(1, 3))
    if form == 4:
        # grammar v23 (wave-21): WINDOW OVER AGGREGATES — running
        # totals / ranks of grouped counts
        return (
            f"SELECT {key}, count(*) AS n, CAST(sum(count(*)) OVER "
            f"(ORDER BY {key}) AS BIGINT) AS running, rank() OVER "
            f"(ORDER BY count(*) DESC, {key}) AS r FROM {outer} "
            f"GROUP BY {key} ORDER BY {key}" + ORDERED
        )
    if form == 5:
        # grammar v23 (wave-21): window call in a top-level ORDER BY
        # key (parse-time helper-column desugar)
        return (
            f"SELECT {name}, {key} FROM {outer} ORDER BY row_number() "
            f"OVER (ORDER BY {name} DESC), {name} LIMIT {lim + 3}"
            + ORDERED
        )
    if form == 0:  # QUALIFY on an inline window
        return (
            f"SELECT {name}, {key} FROM {outer} "
            f"QUALIFY row_number() OVER (PARTITION BY {key} "
            f"ORDER BY {name}) <= {lim} ORDER BY {name}" + ORDERED
        )
    if form == 1:  # QUALIFY over a select alias
        return (
            f"SELECT {name}, rank() OVER (PARTITION BY {key} "
            f"ORDER BY {name}) AS r FROM {outer} "
            f"QUALIFY r <= {lim} ORDER BY {name}" + ORDERED
        )
    thresh = draw(st.integers(0, 20))
    if form == 2:  # FILTER on a window aggregate
        agg = draw(st.sampled_from(["count(*)", f"sum({val})", f"count({val})"]))
        return (
            f"SELECT {name}, {agg} FILTER (WHERE {val} > {thresh}) "
            f"OVER (PARTITION BY {key}) AS w FROM {outer} "
            f"ORDER BY {name}" + ORDERED
        )
    # DISTINCT window count, optionally with FILTER
    filt = (
        f" FILTER (WHERE {val} > {thresh})" if draw(st.booleans()) else ""
    )
    return (
        f"SELECT {name}, count(DISTINCT {val}){filt} "
        f"OVER (PARTITION BY {key}) AS d FROM {outer} "
        f"ORDER BY {name}" + ORDERED
    )


@st.composite
def parity_surface_query(draw) -> str:
    """Grammar v21 (waves 6-7 closures): sha256/regexp_replace
    lowerings, star EXCLUDE, HAVING over aggregate aliases, extract
    parity fields — each runs natively on DuckDB with identical text."""
    form = draw(st.integers(0, 4))
    if form == 0:
        col = "n_name"  # the fixture schema's text column
        return (
            f"SELECT {col}, sha256({col}) AS h, "
            f"regexp_replace({col}, '_', '-', 'g') AS r "
            f"FROM nation ORDER BY {col}" + ORDERED
        )
    if form == 1:
        drop = draw(st.sampled_from(["n_name", "n_regionkey"]))
        return (
            f"SELECT * EXCLUDE ({drop}) FROM nation "
            f"ORDER BY n_nationkey" + ORDERED
        )
    if form == 2:
        thresh = draw(st.integers(1, 6))
        return (
            "SELECT n_regionkey, count(*) AS c FROM nation "
            f"GROUP BY n_regionkey HAVING c > {thresh} "
            "ORDER BY n_regionkey" + ORDERED
        )
    if form == 3:
        fld = draw(st.sampled_from(["dow", "isodow", "doy", "week"]))
        return (
            f"SELECT o_orderkey, extract({fld} FROM o_orderdate) AS f "
            f"FROM orders WHERE o_orderkey < {draw(st.integers(50, 400))} "
            "ORDER BY o_orderkey" + ORDERED
        )
    if form == 4 and draw(st.booleans()):
        sub = draw(st.integers(0, 2))
        if sub == 0:
            # ordered-set aggregates: both engines run the ANSI spelling
            frac = draw(st.sampled_from(["0.25", "0.5", "0.9"]))
            fn = draw(st.sampled_from(["percentile_cont", "percentile_disc"]))
            return (
                f"SELECT n_regionkey, CAST({fn}({frac}) WITHIN GROUP "
                "(ORDER BY n_nationkey) AS DOUBLE) AS p FROM nation "
                "GROUP BY n_regionkey ORDER BY n_regionkey" + ORDERED
            )
        if sub == 1:
            # IGNORE NULLS navigation (in-paren spelling re-emitted)
            fn = draw(st.sampled_from(["first_value", "last_value"]))
            mod = draw(st.integers(2, 4))
            frame = (
                " ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW"
                if fn == "last_value"
                else ""
            )
            return (
                f"SELECT n_name, {fn}(CASE WHEN n_regionkey % {mod} = 0 "
                f"THEN NULL ELSE n_name END IGNORE NULLS) OVER "
                f"(ORDER BY n_nationkey{frame}) AS v FROM nation "
                "ORDER BY n_name" + ORDERED
            )
        # multi-arg grouping() bitmask under ROLLUP
        return (
            "SELECT n_regionkey, n_name, "
            "grouping(n_regionkey, n_name) AS gid, count(*) AS c "
            "FROM nation GROUP BY ROLLUP (n_regionkey, n_name) "
            "ORDER BY gid, n_regionkey NULLS FIRST, n_name NULLS FIRST"
            + ORDERED
        )
    key = draw(st.sampled_from(["n_regionkey", "n_nationkey"]))
    lim = draw(st.integers(3, 12))
    # nullable sort key + LIMIT: the NULLS LAST default decides the cut
    return (
        f"SELECT n_name, CASE WHEN {key} % 3 = 0 THEN NULL ELSE {key} END "
        f"AS k FROM nation ORDER BY k{draw(st.sampled_from(['', ' DESC']))}, "
        f"n_name LIMIT {lim}" + ORDERED
    )


@st.composite
def lateral_query(draw) -> str:
    """Grammar v23 (round-11): comma-LATERAL subqueries — aggregate
    (one row per outer), GROUPED (one row per inner group per outer,
    the grouped decorrelation), and top-n-per-outer (row_number
    lateral). DuckDB runs identical text."""
    outer, inner, ik, ok, gk, uniq = draw(st.sampled_from([
        ("customer", "orders", "o_custkey", "c_custkey",
         "o_orderpriority", "o_orderkey"),
        ("nation", "customer", "c_nationkey", "n_nationkey",
         "c_mktsegment", "c_custkey"),
    ]))
    okey = {"customer": "c_custkey", "nation": "n_nationkey"}[outer]
    shape = draw(st.integers(0, 2))
    loc = (
        f" AND {uniq} < {draw(st.integers(100, 3000))}"
        if draw(st.booleans())
        else ""
    )
    # comma form vs the explicit-join spellings (round-11: [LEFT] JOIN
    # LATERAL ... ON true / CROSS JOIN LATERAL route onto the same
    # decorrelation; LEFT null-extends match-less outer rows)
    def wrap(body: str) -> tuple[str, str]:
        form = draw(st.integers(0, 2))
        if form == 0:
            return f", LATERAL ({body}) l", ""
        if form == 1:
            return f" CROSS JOIN LATERAL ({body}) l", ""
        return f" LEFT JOIN LATERAL ({body}) l ON true", "left"

    if shape == 0:
        # aggregate lateral: always one row per outer on every form
        join, _ = wrap(
            f"SELECT count(*) AS n FROM {inner} "
            f"WHERE {ik} = t.{okey}{loc}"
        )
        return (
            f"SELECT t.{okey}, l.n FROM {outer} t{join} "
            f"ORDER BY t.{okey}" + ORDERED
        )
    if shape == 1:
        having = (
            f" HAVING count(*) {draw(st.sampled_from(['>=', '<=']))} "
            f"{draw(st.integers(1, 4))}"
            if draw(st.booleans())
            else ""
        )
        join, _ = wrap(
            f"SELECT {gk} AS g, count(*) AS n FROM {inner} "
            f"WHERE {ik} = t.{okey}{loc} GROUP BY {gk}{having}"
        )
        return (
            f"SELECT t.{okey}, l.g, l.n FROM {outer} t{join} "
            f"ORDER BY t.{okey}, l.g" + ORDERED
        )
    # top-n per outer over a unique key → deterministic
    n = draw(st.integers(1, 3))
    dirn = draw(st.sampled_from(["ASC", "DESC"]))
    join, _ = wrap(
        f"SELECT {uniq} AS v FROM {inner} WHERE {ik} = t.{okey}{loc} "
        f"ORDER BY {uniq} {dirn} LIMIT {n}"
    )
    return (
        f"SELECT t.{okey}, l.v FROM {outer} t{join} "
        f"ORDER BY t.{okey}, l.v" + ORDERED
    )


@st.composite
def sql_query(draw) -> str:
    kind = draw(st.integers(0, 29))
    if kind == 29:
        return draw(composition_query())
    if kind == 28:
        return draw(dialect_query())
    if kind == 27:
        return draw(asof_query())
    if kind == 26:
        return draw(struct_query())
    if kind == 25:
        return draw(pivot_query())
    if kind == 24:
        return draw(list_function_query())
    if kind == 23:
        return draw(lateral_query())
    if kind == 22:
        return draw(parity_surface_query())
    if kind == 21:
        return draw(qualify_window_query())
    if kind == 18:
        return draw(membership_expr_query())
    if kind == 19:
        return draw(bool_item_query())
    if kind == 20:
        return draw(ordered_agg_query())
    if kind == 11:
        return draw(bag_set_query())
    if kind == 12:
        return draw(ties_query())
    if kind == 13:
        return draw(recursive_query())
    if kind == 14:
        return draw(having_membership_query())
    if kind == 15:
        return draw(row_values_query())
    if kind == 16:
        return draw(values_stmt_query())
    if kind == 17:
        return draw(rollup_cube_query())
    if kind == 5:
        return draw(distinct_on_query())
    if kind == 6:
        return draw(joined_window_query())
    if kind == 0:
        return draw(set_query())
    if kind == 1:
        return draw(derived_table_query())
    if kind == 2:
        return draw(cte_surface_query())
    if kind == 3:
        return draw(grouping_sets_query())
    if kind == 4:
        return draw(full_outer_query())
    if kind == 7:
        return draw(scalar_argument_query())
    if kind == 8:
        return draw(array_predicate_query())
    if kind == 9:
        return draw(window_limit_query())
    if kind == 10:
        return draw(set_cte_offset_query())
    return draw(select_stmt())


def _cells(rows) -> list[tuple]:
    return [
        tuple(int(v) if isinstance(v, (Decimal, bool)) else v for v in row)
        for row in rows
    ]


def _norm(rows) -> list[tuple]:
    # repr-keyed sort: a consistent total order even when cells hold
    # NULLs / mixed types (FULL JOIN null-extends both sides; grouping
    # sets NULL-pad their keys) — equality still compares real values
    return sorted(_cells(rows), key=repr)


#: strategies whose ORDER BY forms a TOTAL order (unique key / full
#: group-key list) append this marker; the comparator then checks the
#: ordered SEQUENCE, not the sorted multiset. Round-9 lesson: the
#: window-sort bug produced wrong ROW ORDER that multiset comparison
#: can only see through a LIMIT cut — ordering is its own semantics
#: class and gets its own check. Both engines ignore the comment.
ORDERED = " /*ordered*/"


def _same_result(sql: str, got_rows, want_rows) -> bool:
    if ORDERED in sql:
        return _cells(got_rows) == _cells(want_rows)
    return _norm(got_rows) == _norm(want_rows)


#: fuzzer-found divergences, pinned forever (each entry once crashed or
#: returned wrong rows; see docstring of the test below)
REGRESSIONS = [
    # round-7: NOT(OR) spanning two tables was pushed onto ONE base table
    # when o_orderdate was unbound (stale binding schema) — the compound's
    # tables() collapsed to {customer}; now fail-safe residual placement
    "SELECT count(*) AS n FROM orders JOIN customer ON o_custkey = c_custkey "
    "WHERE NOT ((o_orderdate < TIMESTAMP '1995-01-01' OR c_custkey IN (0)))",
    # round-8: the SAME scalar subquery reused across the aggregation
    # boundary (WHERE + SELECT + HAVING of a grouped query) — the pre-agg
    # lifted column is dropped by the Grouping, so the post-agg
    # references need a SECOND lift under a fresh name (v15 soak find)
    "SELECT c_nationkey, count(*) AS n, (SELECT count(*) FROM region) AS r1 "
    "FROM customer WHERE c_custkey > (SELECT count(*) FROM region) "
    "GROUP BY c_nationkey HAVING count(*) > (SELECT count(*) FROM region) - 4 "
    "ORDER BY c_nationkey",
    # round-8: scalar span INSIDE an aggregate argument — the Grouping
    # evaluates it, so the 1-row attach must happen pre-aggregation
    "SELECT c_nationkey, CAST(sum(c_custkey * (SELECT count(*) FROM region)) "
    "AS BIGINT) AS s FROM customer GROUP BY c_nationkey "
    "HAVING count(*) > (SELECT min(n_nationkey) FROM nation) "
    "ORDER BY c_nationkey",
    # round-8: the SAME span inside an agg argument AND outside it AND in
    # WHERE/HAVING — occurrence-scoped lifting (dedicated pre-agg name for
    # the agg-call occurrences, independent lifts for the rest)
    "SELECT c_nationkey, CAST(sum(c_custkey + (SELECT count(*) FROM region)) "
    "AS BIGINT) AS s, (SELECT count(*) FROM region) AS r1 FROM customer "
    "WHERE c_custkey > (SELECT count(*) FROM region) GROUP BY c_nationkey "
    "HAVING count(*) > (SELECT count(*) FROM region) - 4 ORDER BY c_nationkey",
    # round-9: window function in the SELECT list + ORDER BY + LIMIT —
    # the window's hash exchange destroys a Sort placed BELOW the
    # projection, so `project(sort(...))` fed LIMIT arbitrary rows
    # (grammar-v17 probe find); the Sort must sit ABOVE a window-bearing
    # projection
    "SELECT c_custkey, count(*) OVER (PARTITION BY c_mktsegment) AS cnt "
    "FROM customer ORDER BY c_custkey LIMIT 5" + ORDERED,
    # round-9: same, ORDER BY on a column the projection DROPS — the
    # sort keys ride through under generated helper names and are
    # stripped above the limit
    "SELECT c_name, count(*) OVER (PARTITION BY c_mktsegment) AS cnt "
    "FROM customer ORDER BY c_custkey LIMIT 5" + ORDERED,
    # round-9: window + lifted scalar subquery + ORDER BY/LIMIT together
    "SELECT c_custkey, count(*) OVER (PARTITION BY c_mktsegment) AS cnt, "
    "(SELECT max(n_regionkey) FROM nation) AS m "
    "FROM customer ORDER BY c_custkey LIMIT 5" + ORDERED,
    # round-11 advisor finds, pinned:
    # (a) HAVING alias shadowing a grouped column — column-beats-alias
    # (DuckDB resolves the bare name to n.n_regionkey, not the count)
    "SELECT n.n_regionkey, count(*) AS n_regionkey FROM nation n "
    "GROUP BY n.n_regionkey HAVING n_regionkey > 2",
    # (b) bare spelling of a QUALIFIED group key in HAVING/SELECT/ORDER BY
    "SELECT n_regionkey, count(*) AS c FROM nation n "
    "GROUP BY n.n_regionkey HAVING n_regionkey >= 0 "
    "ORDER BY n_regionkey" + ORDERED,
    # (c) ''-escaped quote inside an IN-subquery operand literal — the
    # backward operand scan must not slice at the escaped quote
    "SELECT n_name FROM nation WHERE CASE WHEN 'it''s' IN "
    "(SELECT n_name FROM nation) THEN 1 ELSE 0 END = 0 "
    "ORDER BY n_name" + ORDERED,
    # (d) extract(epoch …) returns fractional-seconds DOUBLE (DuckDB
    # parity) — unix_timestamp truncation was a silent divergence
    "SELECT o_orderkey, extract(epoch from o_orderdate) AS ep FROM orders "
    "ORDER BY o_orderkey LIMIT 5" + ORDERED,
    # (e) identical subquery text INSIDE a handled EXISTS((..) UNION (..))
    # group AND again outside it — offsets, not first-occurrence find
    "SELECT n_name FROM nation WHERE CASE WHEN EXISTS((("
    "SELECT r_regionkey FROM region WHERE r_name = 'ASIA') UNION "
    "(SELECT 99))) THEN (SELECT max(r_regionkey) FROM region "
    "WHERE r_name = 'ASIA') ELSE 0 END = n_regionkey ORDER BY n_name"
    + ORDERED,
    # round-11 probe-wave-8 finds, pinned:
    # (f) CASE-of-grouping() with the key in the ELSE branch — absent
    # keys NULL-pad in expression position under the desugar
    "SELECT CASE WHEN grouping(n_regionkey) = 1 THEN -1 ELSE n_regionkey "
    "END AS k, count(*) AS c FROM nation "
    "GROUP BY GROUPING SETS ((n_regionkey), ()) ORDER BY k" + ORDERED,
    # (g) DATE literal + INTERVAL yields TIMESTAMP (Postgres/DuckDB)
    "SELECT DATE '1996-01-31' + INTERVAL '1' MONTH AS d1, "
    "DATE '1995-03-31' - INTERVAL '1' MONTH AS d3",
    # (h) decimal-point literal division computes in DOUBLE on DuckDB
    "SELECT n_nationkey, n_nationkey / 4.0 AS d FROM nation "
    "ORDER BY n_nationkey" + ORDERED,
    # (i) correlated EXISTS inside an aggregate ARGUMENT — count-form
    # lift with the decorrelated lateral attached BELOW the Grouping
    "SELECT c.c_nationkey, CAST(sum(CASE WHEN EXISTS (SELECT 1 FROM "
    "nation n WHERE n.n_nationkey = c.c_nationkey AND n.n_regionkey > 2) "
    "THEN 1 ELSE 0 END) AS BIGINT) AS s FROM customer c "
    "GROUP BY c.c_nationkey ORDER BY c.c_nationkey" + ORDERED,
    # (j) QUALIFY over a bare star select — outer level is * EXCEPT(marker)
    "SELECT * FROM (SELECT c_nationkey, c_custkey FROM customer) d "
    "QUALIFY row_number() OVER (ORDER BY c_custkey) <= 5 "
    "ORDER BY c_custkey" + ORDERED,
    # (k) the SAME membership subquery text twice with DIFFERENT operands
    # — each occurrence's operand is sliced at its own offset, never the
    # first occurrence's
    "SELECT n.n_name, CASE WHEN n.n_nationkey IN (SELECT r_regionkey FROM "
    "region) THEN 1 WHEN n.n_regionkey IN (SELECT r_regionkey FROM region) "
    "THEN 2 ELSE 0 END AS tag FROM nation n ORDER BY n.n_name" + ORDERED,
    # (l) the as-of scalar: correlated ORDER BY … LIMIT 1 → row_number
    # lateral LEFT join (NULL when no rows); OFFSET shifts the rank
    "SELECT c.c_custkey, (SELECT o.o_orderkey FROM orders o WHERE "
    "o.o_custkey = c.c_custkey ORDER BY o.o_orderdate DESC, o.o_orderkey "
    "DESC LIMIT 1 OFFSET 1) AS second_last FROM customer c "
    "ORDER BY c.c_custkey" + ORDERED,
    # (m) uncorrelated ORDER BY … LIMIT 1 scalar, incl. the EMPTY case
    # (OFFSET past the end must read NULL, not drop outer rows)
    "SELECT n_name, (SELECT r_regionkey FROM region ORDER BY r_regionkey "
    "LIMIT 1 OFFSET 40) AS nothing FROM nation ORDER BY n_name" + ORDERED,
    # round-11 probe-wave-9 operator-parity pins: ^ = power (DuckDB
    # left-assoc), log() = base-10, subscripts 1-based NULL-OOB with
    # negative-from-end, [a:b] slices inclusive, SIMILAR TO = anchored
    # verbatim regex (DuckDB, NOT the Postgres wildcard dialect),
    # date_trunc day-or-coarser returns DATE
    "SELECT n_nationkey, round(n_regionkey ^ 2, 1) AS p, "
    "round(2 ^ 3 ^ 2, 1) AS chain, round(log(n_nationkey + 10), 4) AS l "
    "FROM nation ORDER BY n_nationkey" + ORDERED,
    "SELECT n_nationkey, (array[n_nationkey, 7])[1] AS e1, "
    "(array[n_nationkey])[5] AS oob, (array[10, 20, 30])[-1] AS neg, "
    "CAST((array[10, 20, 30, 40])[2:3] AS STRING) AS sl "
    "FROM nation ORDER BY n_nationkey" + ORDERED,
    "SELECT n_name FROM nation WHERE n_name SIMILAR TO 'NATION_[0-9]' "
    "ORDER BY n_name" + ORDERED,
    "SELECT o_orderkey, date_trunc('week', o_orderdate) AS w, "
    "date_trunc('quarter', o_orderdate) AS q FROM orders "
    "WHERE o_orderkey < 12 ORDER BY o_orderkey" + ORDERED,
    # round-11: EXCLUDE CURRENT ROW desugar (subtract-the-current-row),
    # incl. the all-NULL-other frame reading NULL through the count guard
    "SELECT c_custkey, CAST(sum(CASE WHEN c_custkey % 3 = 0 THEN NULL "
    "ELSE c_custkey END) OVER (ORDER BY c_custkey ROWS BETWEEN 1 "
    "PRECEDING AND 1 FOLLOWING EXCLUDE CURRENT ROW) AS BIGINT) AS s "
    "FROM customer WHERE c_custkey < 30 ORDER BY c_custkey" + ORDERED,
    "SELECT n_nationkey, count(*) OVER (PARTITION BY n_regionkey ORDER "
    "BY n_nationkey ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED "
    "FOLLOWING EXCLUDE CURRENT ROW) AS c FROM nation "
    "ORDER BY n_nationkey" + ORDERED,
    # UNION BY NAME with disjoint sides NULL-pads on the combined schema
    "SELECT n_regionkey AS k, n_nationkey AS la FROM nation WHERE "
    "n_nationkey < 3 UNION ALL BY NAME SELECT r_name AS rb, r_regionkey "
    "AS k FROM region ORDER BY k, la NULLS LAST, rb NULLS LAST",
    # round-11: EXISTS strips emptiness-invariant clauses (GROUP BY
    # without HAVING, ORDER BY, DISTINCT, LIMIT >= 1); LIMIT 0 folds
    "SELECT n_name FROM nation WHERE EXISTS (SELECT c_mktsegment FROM "
    "customer WHERE c_nationkey = nation.n_nationkey AND c_acctbal > "
    "9000 GROUP BY c_mktsegment LIMIT 1) ORDER BY n_name" + ORDERED,
    "SELECT count(*) AS n FROM nation WHERE NOT EXISTS (SELECT 1 FROM "
    "customer WHERE c_nationkey = nation.n_nationkey LIMIT 0)",
    # round-11: TRY_CAST (to-int rounds like DuckDB; non-numeric flows
    # NULL) and if(predicate, a, b)
    "SELECT n_nationkey, try_cast('1.5' AS INT) AS r, try_cast(n_name "
    "AS INT) AS nn, if(n_regionkey > 2 AND n_nationkey < 20, 'hi', 'lo') "
    "AS band FROM nation ORDER BY n_nationkey" + ORDERED,
    # round-11 wave-30: a QUALIFIED key in the top-level ORDER BY above
    # a QUALIFY (whose desugar renames outputs to bare names) — the key
    # follows the rename; DuckDB resolves it through the qualify
    "SELECT o.o_orderkey FROM orders o QUALIFY row_number() OVER "
    "(PARTITION BY o.o_custkey ORDER BY o.o_orderkey) = 1 "
    "ORDER BY o.o_orderkey LIMIT 5" + ORDERED,
    # round-11 wave-29: zero divisors read NULL on DuckDB where Spark's
    # ANSI mode raises — the NULLIF(d, 0) divisor lowering restores the
    # contract for /, % and // alike (n_regionkey is 0 for five rows)
    "SELECT n_nationkey, n_nationkey / n_regionkey AS q, "
    "n_nationkey % n_regionkey AS m, n_nationkey // n_regionkey AS d "
    "FROM nation ORDER BY n_nationkey" + ORDERED,
    # round-11 wave-26: 2-arg regexp_extract defaults to group 0 (the
    # WHOLE match) on DuckDB where Spark defaults to group 1; 2-arg
    # ltrim/rtrim argument order is (string, chars) — Spark's reversed
    # (trimStr, srcStr) form is lowered via the keyword TRIM spelling
    "SELECT n_nationkey, regexp_extract(n_name, '([A-Z]+)_([0-9]+)') "
    "AS whole, regexp_extract(n_name, '([A-Z]+)_([0-9]+)', 2) AS num, "
    "ltrim(n_name, 'NATIO') AS lt, rtrim(n_name, '0123456789_') AS rt "
    "FROM nation ORDER BY n_nationkey" + ORDERED,
    # round-11 wave-23: list_contains over a NULL-bearing list reads
    # FALSE for an absent needle on DuckDB (found-element-wins) where
    # plain array_contains reads NULL; list_has_any/_all skip NULL
    # needles entirely
    "SELECT n_nationkey, CAST(list_contains([1, NULL], n_regionkey) "
    "AS STRING) AS c, CAST(list_has_any([n_regionkey], [NULL]) "
    "AS STRING) AS ha, CAST(list_has_all([1, NULL], [NULL]) AS STRING) "
    "AS hb FROM nation ORDER BY n_nationkey" + ORDERED,
]

#: binding schemas the engine must be fail-safe under: the INCOMPLETE
#: round-7 schema (o_orderdate missing) left columns unbound; placement
#: must stay correct regardless
STALE_TABLES = {
    **TABLES,
    "orders": ["o_orderkey", "o_custkey", "o_orderstatus", "o_orderpriority"],
}


@pytest.mark.parametrize("sql", REGRESSIONS)
@pytest.mark.parametrize("schema", [None, STALE_TABLES, TABLES],
                         ids=["unbound", "stale", "complete"])
def test_fuzzer_regressions_pinned(engines, sql, schema):
    """Every fuzzer-found falsifying example stays fixed under ALL binding
    regimes — complete schema, the historical stale schema, and no schema
    at all. A predicate containing any unbound column must never be
    classified as a single-table filter (plans/algebra.py fail-safe)."""
    spark, con = engines
    got = compile_plan(
        parse_relalg(parse_query(sql, schema=schema)), spark
    ).collect()
    want = con.execute(_duck_text(sql)).fetchall()
    assert _same_result(sql, got, want), f"divergence on: {sql}"


@settings(max_examples=30, deadline=None)
@given(sql=sql_query())
def test_generated_queries_match_duckdb(engines, sql):
    spark, con = engines
    # schema binding resolves unqualified subquery references against the
    # enclosing scope (ANSI) — required for the generated correlated
    # EXISTS shapes, and exactly what a live Database binding provides
    got = compile_plan(
        parse_relalg(parse_query(sql, schema=TABLES)), spark
    ).collect()
    want = con.execute(_duck_text(sql)).fetchall()
    assert _same_result(sql, got, want), f"divergence on: {sql}"
