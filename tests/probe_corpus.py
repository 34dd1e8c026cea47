"""The SQL-surface probe corpus: exotic but DuckDB-valid SQL shapes, each
run through the native path (``parse_query`` -> ``parse_relalg`` ->
``compile_plan``) and checked against DuckDB on the sf0.01 fixture by
``tests/test_probe_corpus.py``.

Every probe states its expected outcome beside its SQL:

- ``PASS`` (the default): both engines run it and return the same rows;
- ``REJECT``: the engine refuses it loudly with ``UnsupportedSqlError`` or
  ``ParserError`` — a documented limit, never a silent wrong answer;
- ``ORACLE_INVALID``: DuckDB itself refuses the SQL, so nothing is compared.

DIVERGE (both engines run it and the rows differ) and ERROR (a crash past
the parser) are never expected: either one is a bug.

The oracle normally runs the probe's own SQL. Probes marked
``oracle=RENDER`` are GROUPS window frames: DuckDB 1.0 has no GROUPS mode
("not implemented yet"), so it runs the engine's own desugared render
(dense_rank CTE + RANGE over the peer index) instead. That pins
Spark-executes-desugar == DuckDB-executes-desugar (null ordering, frame
clipping, peer aggregation); the rewrite's own correctness is pinned
independently by the pure-Python peer-group reference in
``tests/test_groups_frames.py``.

The probes are grouped by the surface they target; each group opens with
a banner comment saying what it covers.
"""

from __future__ import annotations

from typing import NamedTuple

PASS = "PASS"
REJECT = "REJECT"
ORACLE_INVALID = "ORACLE_INVALID"

SAME = "same"  # DuckDB runs the probe's SQL text
RENDER = "render"  # DuckDB runs the engine's desugared render of it


class Probe(NamedTuple):
    name: str
    sql: str
    expect: str = PASS
    oracle: str = SAME


PROBES: tuple[Probe, ...] = (
    # ====================================================================
    # Exotic-but-DuckDB-valid shapes: FILTER, NULLS ordering and DISTINCT in
    # window position, correlated EXISTS outside WHERE, GROUPING SETS x
    # HAVING, recursive CTEs over earlier CTEs, QUALIFY.
    # ====================================================================
    # --- FILTER on aggregates used as WINDOW functions ---
    Probe(
        "window_agg_filter",
        "SELECT n_name, count(*) FILTER (WHERE n_regionkey > 1) "
        "OVER (PARTITION BY n_regionkey) AS c FROM nation ORDER BY n_name",
    ),
    # --- NULLS FIRST/LAST inside window ORDER BY ---
    Probe(
        "window_nulls_last",
        "SELECT o_orderkey, row_number() OVER (PARTITION BY o_orderstatus "
        "ORDER BY o_orderdate DESC NULLS LAST, o_orderkey) AS rn "
        "FROM orders WHERE o_orderkey < 200 ORDER BY o_orderkey",
    ),
    Probe(
        "window_nulls_first_expr",
        "SELECT o_orderkey, rank() OVER (ORDER BY (CASE WHEN o_totalprice > 200000 "
        "THEN NULL ELSE o_totalprice END) ASC NULLS FIRST, o_orderkey) AS r "
        "FROM orders WHERE o_orderkey < 120 ORDER BY o_orderkey",
    ),
    # --- DISTINCT aggregate in window position (DuckDB executes) ---
    Probe(
        "window_distinct_agg",
        "SELECT n_name, count(DISTINCT n_regionkey) OVER () AS d "
        "FROM nation ORDER BY n_name",
    ),
    # --- correlated EXISTS in SELECT position ---
    Probe(
        "select_corr_exists_agg_outer",
        # qualified correlation keys (the documented rule; a bare outer
        # ref inside the subquery text stays a loud analysis failure)
        "SELECT n.n_regionkey, count(*) AS n, "
        "CASE WHEN EXISTS (SELECT 1 FROM region r WHERE r.r_regionkey = n.n_regionkey "
        "AND r.r_name LIKE 'A%') THEN 1 ELSE 0 END AS flag "
        "FROM nation n GROUP BY n.n_regionkey ORDER BY n.n_regionkey",
    ),
    Probe(
        "select_exists_of_exists",
        "SELECT n.n_name, CASE WHEN EXISTS (SELECT 1 FROM customer c WHERE "
        "c.c_nationkey = n.n_nationkey AND c.c_acctbal > 9500) AND EXISTS "
        "(SELECT 1 FROM supplier s WHERE s.s_nationkey = n.n_nationkey) "
        "THEN 1 ELSE 0 END AS both_f FROM nation n ORDER BY n.n_name",
    ),
    # --- GROUPING SETS x HAVING x grouping() interplay ---
    Probe(
        "grouping_sets_having_marker",
        "SELECT n_regionkey, n_name, count(*) AS c, grouping(n_name) AS g "
        "FROM nation GROUP BY GROUPING SETS ((n_regionkey), (n_regionkey, n_name)) "
        "HAVING grouping(n_name) = 1 OR count(*) > 0 "
        "ORDER BY n_regionkey, n_name NULLS FIRST",
    ),
    Probe(
        "rollup_having_grouping_mix",
        "SELECT o_orderstatus, o_orderpriority, count(*) AS c "
        "FROM orders GROUP BY ROLLUP (o_orderstatus, o_orderpriority) "
        "HAVING grouping(o_orderpriority) = 1 AND count(*) > 10 "
        "ORDER BY o_orderstatus NULLS FIRST, o_orderpriority NULLS FIRST",
    ),
    # --- recursive CTE referencing an OUTER (earlier) CTE ---
    Probe(
        "recursive_refs_outer_cte",
        "WITH RECURSIVE lim(m) AS (SELECT 4), "
        "seq(n) AS (SELECT 1 UNION ALL SELECT n + 1 FROM seq, lim WHERE n < m) "
        "SELECT n FROM seq ORDER BY n",
    ),
    Probe(
        "recursive_after_plain_cte",
        "WITH RECURSIVE base(k) AS (SELECT 0 UNION ALL SELECT 1), "
        "walk(n) AS (SELECT k FROM base UNION SELECT n + 2 FROM walk WHERE n < 8) "
        "SELECT n FROM walk ORDER BY n",
    ),
    # --- misc extras ---
    Probe(
        "in_call_order_inside_case",
        "SELECT CASE WHEN n_regionkey > 1 THEN string_agg(n_name, ',' ORDER BY n_name) "
        "ELSE 'few' END AS agg FROM nation GROUP BY n_regionkey ORDER BY agg",
    ),
    Probe(
        "exists_in_order_by",
        "SELECT n_name FROM nation n ORDER BY "
        "EXISTS (SELECT 1 FROM customer c WHERE c.c_nationkey = n.n_nationkey "
        "AND c.c_acctbal > 9500) DESC, n_name",
    ),
    Probe(
        "exists_in_group_by",
        "SELECT EXISTS (SELECT 1 FROM customer c WHERE c.c_nationkey = n.n_nationkey "
        "AND c.c_acctbal > 9500) AS has_rich, count(*) AS c "
        "FROM nation n GROUP BY has_rich ORDER BY has_rich",
    ),
    Probe(
        "case_in_having",
        "SELECT n_regionkey, count(*) AS c FROM nation GROUP BY n_regionkey "
        "HAVING CASE WHEN n_regionkey IN (SELECT r_regionkey FROM region "
        "WHERE r_name LIKE 'A%') THEN count(*) > 3 ELSE count(*) > 4 END "
        "ORDER BY n_regionkey",
        expect=REJECT,
    ),
    Probe(
        "qualify_clause",
        "SELECT n_name, n_regionkey FROM nation "
        "QUALIFY row_number() OVER (PARTITION BY n_regionkey ORDER BY n_name) = 1 "
        "ORDER BY n_name",
    ),
    Probe(
        "window_filter_distinct_combo",
        "SELECT o_orderstatus, count(DISTINCT o_custkey) "
        "FILTER (WHERE o_totalprice > 100000) OVER (PARTITION BY o_orderstatus) AS d "
        "FROM orders WHERE o_orderkey < 400 ORDER BY o_orderstatus, d",
    ),
    Probe(
        "case_result_predicate",
        "SELECT n_name, CASE WHEN n_regionkey > 2 THEN n_nationkey > 10 "
        "ELSE n_nationkey < 5 END AS f FROM nation ORDER BY n_name",
    ),
    Probe(
        "window_over_membership_bool",
        # the probe operand must be OUTER-QUALIFIED (the documented rule —
        # a bare operand transplanted into the count subquery could
        # capture an inner binding and rejects loudly)
        "SELECT n.n_name, sum(CASE WHEN n.n_regionkey IN (SELECT r_regionkey FROM region "
        "WHERE r_name LIKE 'A%') THEN 1 ELSE 0 END) OVER (ORDER BY n.n_name "
        "ROWS UNBOUNDED PRECEDING) AS running FROM nation n ORDER BY n.n_name",
    ),
    Probe(
        "lateral_with_exists",
        "SELECT n.n_name, l.cnt FROM nation n, LATERAL (SELECT count(*) AS cnt "
        "FROM customer c WHERE c.c_nationkey = n.n_nationkey) l "
        "WHERE EXISTS (SELECT 1 FROM region r WHERE r.r_regionkey = n.n_regionkey) "
        "ORDER BY n.n_name",
    ),

    # ====================================================================
    # ENGINE-PARITY traps — places where Spark and DuckDB could silently
    # disagree on identical ANSI-looking text (date-part numbering,
    # arithmetic edge semantics, window frames, scoping rules) — plus syntax
    # families the probes above leave out.
    # ====================================================================
    # --- date-part numbering parity ---
    Probe(
        "extract_dow",
        "SELECT o_orderkey, extract(dow FROM o_orderdate) AS d "
        "FROM orders WHERE o_orderkey < 100 ORDER BY o_orderkey",
    ),
    Probe(
        "extract_doy_epoch",
        "SELECT o_orderkey, extract(doy FROM o_orderdate) AS dy, "
        "CAST(extract(epoch FROM o_orderdate) AS BIGINT) AS ep "
        "FROM orders WHERE o_orderkey < 100 ORDER BY o_orderkey",
    ),
    Probe(
        "extract_week_quarter",
        "SELECT o_orderkey, extract(week FROM o_orderdate) AS w, "
        "extract(quarter FROM o_orderdate) AS q "
        "FROM orders WHERE o_orderkey < 100 ORDER BY o_orderkey",
    ),
    # --- arithmetic edge semantics ---
    Probe(
        "negative_modulo",
        "SELECT n_nationkey, (n_nationkey - 12) % 5 AS m, "
        "(12 - n_nationkey) % -5 AS m2 FROM nation ORDER BY n_nationkey",
    ),
    Probe(
        "half_rounding",
        "SELECT n_nationkey, round(n_nationkey + 0.5) AS r, "
        "round(-(n_nationkey + 0.5)) AS rn FROM nation ORDER BY n_nationkey",
    ),
    Probe(
        "integer_division",
        "SELECT n_nationkey, CAST(n_nationkey / 4 AS DOUBLE) AS d, "
        "CAST(n_nationkey AS INT) / CAST(4 AS INT) AS d2 "
        "FROM nation ORDER BY n_nationkey",
    ),
    Probe(
        "date_plus_int",
        "SELECT o_orderkey, CAST(o_orderdate AS DATE) + 5 AS d5 "
        "FROM orders WHERE o_orderkey < 50 ORDER BY o_orderkey",
    ),
    # --- window frames ---
    Probe(
        "range_frame_numeric",
        # round() before the cast: CAST(double AS BIGINT) truncates in Spark
        # and rounds in DuckDB - a documented engine divergence, not ours
        "SELECT o_orderkey, CAST(round(sum(o_totalprice) OVER (ORDER BY o_orderkey "
        "RANGE BETWEEN 10 PRECEDING AND CURRENT ROW)) AS BIGINT) AS s "
        "FROM orders WHERE o_orderkey < 300 ORDER BY o_orderkey",
    ),
    Probe(
        "rows_frame_following",
        "SELECT o_orderkey, CAST(round(avg(o_totalprice) OVER (PARTITION BY o_orderstatus "
        "ORDER BY o_orderkey ROWS BETWEEN 1 FOLLOWING AND 3 FOLLOWING)) AS BIGINT) AS a "
        "FROM orders WHERE o_orderkey < 300 ORDER BY o_orderkey",
    ),
    # --- named-window inheritance (WINDOW w2 AS (w1 ORDER BY ...)) ---
    Probe(
        "window_inheritance",
        "SELECT n_name, rank() OVER w2 AS r FROM nation "
        "WINDOW w1 AS (PARTITION BY n_regionkey), "
        "w2 AS (w1 ORDER BY n_name) ORDER BY n_name",
    ),
    # --- scoping ---
    Probe(
        "nested_cte_shadowing",
        "WITH x AS (SELECT 1 AS v), "
        "y AS (SELECT v + 10 AS v FROM (SELECT 2 AS v) x) "
        "SELECT x.v AS xv, y.v AS yv FROM x, y",
    ),
    Probe(
        "correlated_scalar_in_having",
        # correlation keys must be qualified (the documented rule; a bare
        # outer ref in expression-embedded subquery text fails loudly)
        "SELECT c.c_nationkey, count(*) AS c FROM customer c "
        "GROUP BY c.c_nationkey HAVING count(*) > "
        "(SELECT count(*) FROM supplier s WHERE s.s_nationkey = c.c_nationkey) "
        "ORDER BY c.c_nationkey",
    ),
    # --- keyword-form calls / string functions ---
    Probe(
        "overlay_call",
        # DuckDB has no overlay(); exercise the keyword-form call on a
        # function both engines share via POSITION instead
        "SELECT n_name, position('A' IN n_name) AS p "
        "FROM nation ORDER BY n_name",
    ),
    Probe(
        "trim_variants",
        "SELECT trim(BOTH 'A' FROM n_name) AS t1, "
        "trim(LEADING 'A' FROM n_name) AS t2, "
        "trim(TRAILING 'A' FROM n_name) AS t3 FROM nation ORDER BY n_name",
    ),
    Probe(
        "substring_negative_start",
        "SELECT n_name, substring(n_name FROM 2 FOR 3) AS s1 "
        "FROM nation ORDER BY n_name",
    ),
    Probe(
        "split_part_fn",
        "SELECT n_name, split_part(n_name, '_', 1) AS p1, "
        "split_part(n_name, '_', 2) AS p2 FROM nation ORDER BY n_name",
    ),
    # --- DISTINCT ON ordering subtleties ---
    Probe(
        "distinct_on_extra_order",
        "SELECT DISTINCT ON (c_nationkey) c_nationkey, c_name, c_acctbal "
        "FROM customer ORDER BY c_nationkey, c_acctbal DESC, c_custkey",
    ),
    # --- set ops with parenthesized operands and ORDER inside ---
    Probe(
        "paren_set_operand_order",
        "(SELECT n_name FROM nation WHERE n_regionkey = 0) "
        "UNION ALL "
        "(SELECT n_name FROM nation WHERE n_regionkey = 1) "
        "ORDER BY n_name",
    ),
    # --- GROUPING SETS with expression keys ---
    Probe(
        "grouping_sets_expr_keys",
        "SELECT n_regionkey % 2 AS parity, n_regionkey, count(*) AS c "
        "FROM nation GROUP BY GROUPING SETS ((n_regionkey % 2), "
        "(n_regionkey % 2, n_regionkey)) "
        "ORDER BY parity, n_regionkey NULLS FIRST",
    ),

    # ====================================================================
    # FUNCTION parity for the scalar vocabulary LLM-pipeline queries lean on
    # — hashing, string ops, regex, date_trunc, unicode handling, type
    # coercion in comparisons. A silent divergence here would poison any
    # oracle built over these functions.
    # ====================================================================
    Probe(
        "md5_hex",
        "SELECT n_name, md5(n_name) AS h FROM nation ORDER BY n_name",
    ),
    Probe(
        "sha256_hex",
        "SELECT n_name, sha256(n_name) AS h FROM nation ORDER BY n_name",
    ),
    Probe(
        "concat_ws_nulls",
        "SELECT n_name, concat_ws('-', n_name, NULL, CAST(n_regionkey AS STRING)) AS c "
        "FROM nation ORDER BY n_name",
    ),
    Probe(
        "pad_functions",
        "SELECT n_name, lpad(n_name, 12, '.') AS l, rpad(n_name, 12, '.') AS r "
        "FROM nation ORDER BY n_name",
    ),
    Probe(
        "string_case_len",
        "SELECT n_name, upper(lower(n_name)) AS u, length(n_name) AS len, "
        "reverse(n_name) AS rev FROM nation ORDER BY n_name",
    ),
    Probe(
        "regexp_replace_groups",
        # 'g' flag required (flagless = first-match on Postgres/DuckDB,
        # inexpressible in Spark - clean reject); \1 backrefs lower to $1
        "SELECT n_name, regexp_replace(n_name, '([A-Z])_', '\\1#', 'g') AS r "
        "FROM nation ORDER BY n_name",
    ),
    Probe(
        "regexp_replace_flagless_rejects",
        "SELECT regexp_replace(n_name, 'N', 'X') AS r FROM nation",
        expect=REJECT,
    ),
    Probe(
        "like_vs_regex_escape",
        "SELECT n_name FROM nation WHERE n_name LIKE '%\\_1%' ESCAPE '\\' "
        "ORDER BY n_name",
    ),
    Probe(
        "date_trunc_week_month",
        "SELECT o_orderkey, CAST(date_trunc('week', o_orderdate) AS DATE) AS w, "
        "CAST(date_trunc('month', o_orderdate) AS DATE) AS m "
        "FROM orders WHERE o_orderkey < 100 ORDER BY o_orderkey",
    ),
    Probe(
        "strftime_like_format",
        "SELECT o_orderkey, CAST(year(o_orderdate) AS INT) AS y, "
        "CAST(month(o_orderdate) AS INT) AS mo, CAST(day(o_orderdate) AS INT) AS d "
        "FROM orders WHERE o_orderkey < 100 ORDER BY o_orderkey",
    ),
    Probe(
        "implicit_string_int_compare",
        "SELECT n_name FROM nation WHERE CAST(n_regionkey AS STRING) = '2' "
        "AND n_regionkey = CAST('2' AS INT) ORDER BY n_name",
    ),
    Probe(
        "greatest_least_nulls",
        "SELECT n_nationkey, greatest(n_nationkey, n_regionkey, 5) AS g, "
        "least(n_nationkey, n_regionkey) AS l FROM nation ORDER BY n_nationkey",
    ),
    Probe(
        "nullif_coalesce_chain",
        "SELECT n_nationkey, coalesce(nullif(n_regionkey, 2), -1) AS c "
        "FROM nation ORDER BY n_nationkey",
    ),
    Probe(
        "unicode_substring_docs",
        "SELECT doc_id, length(text) AS len, substring(text, 3, 7) AS s "
        "FROM documents WHERE doc_id < 40 ORDER BY doc_id",
    ),
    Probe(
        "repeat_space_trim",
        "SELECT n_nationkey, repeat('ab', CAST(n_regionkey AS INT)) AS r, "
        "trim('  x  ') AS t FROM nation ORDER BY n_nationkey",
    ),
    Probe(
        "abs_sign_power",
        # CAST the sign: Spark returns DOUBLE where DuckDB returns INT
        "SELECT n_nationkey, abs(n_regionkey - 2) AS a, CAST(sign(n_regionkey - 2) AS INT) AS s, "
        "CAST(power(2, n_regionkey) AS BIGINT) AS p FROM nation ORDER BY n_nationkey",
    ),
    Probe(
        "log_sqrt_floor_ceil",
        "SELECT n_nationkey, round(ln(n_nationkey + 1), 6) AS l, "
        "round(sqrt(n_nationkey), 6) AS sq, CAST(floor(n_nationkey / 3.0) AS DOUBLE) AS f, "
        "CAST(ceil(n_nationkey / 3.0) AS DOUBLE) AS c FROM nation ORDER BY n_nationkey",
    ),

    # ====================================================================
    # Join output semantics, set-operation type coercion, ordinal
    # references, scope corner cases, and the `* EXCLUDE` closure.
    # ====================================================================
    Probe(
        "star_exclude",
        "SELECT * EXCLUDE (n_name) FROM nation ORDER BY n_nationkey",
    ),
    Probe(
        "star_exclude_multi_where",
        "SELECT * EXCLUDE (n_name, n_regionkey) FROM nation "
        "WHERE n_regionkey = 2 ORDER BY n_nationkey",
    ),
    # USING coalesces the join column into ONE output column
    Probe(
        "inner_using_output",
        "SELECT * FROM (SELECT n_regionkey, n_name FROM nation) a "
        "JOIN (SELECT r_regionkey AS n_regionkey, r_name FROM region) b "
        "USING (n_regionkey) ORDER BY n_name",
    ),
    Probe(
        "full_outer_using_coalesced",
        "SELECT n_regionkey, count(*) AS c FROM "
        "(SELECT n_regionkey FROM nation WHERE n_regionkey < 3) a "
        "FULL OUTER JOIN (SELECT r_regionkey AS n_regionkey FROM region "
        "WHERE r_regionkey > 1) b USING (n_regionkey) "
        "GROUP BY n_regionkey ORDER BY n_regionkey",
    ),
    Probe(
        "natural_join_dedup_cols",
        "SELECT * FROM (SELECT n_regionkey FROM nation WHERE n_nationkey < 5) x "
        "NATURAL JOIN (SELECT r_regionkey AS n_regionkey FROM region) y "
        "ORDER BY n_regionkey",
    ),
    # set-operation type coercion: INT union DOUBLE / INT union literal
    Probe(
        "union_type_coercion",
        "SELECT n_regionkey AS v FROM nation WHERE n_nationkey < 3 "
        "UNION ALL SELECT 2.5 ORDER BY v",
    ),
    Probe(
        "values_type_unification",
        "SELECT v FROM (VALUES (1), (2.5), (3)) AS t(v) ORDER BY v",
    ),
    # ordinal references
    Probe(
        "order_by_ordinal",
        "SELECT n_name, n_regionkey FROM nation ORDER BY 2 DESC, 1",
    ),
    Probe(
        "group_by_ordinal",
        "SELECT n_regionkey, count(*) AS c FROM nation GROUP BY 1 ORDER BY 1",
    ),
    # HAVING referencing a select ALIAS (DuckDB allows, Postgres rejects)
    Probe(
        "having_select_alias",
        "SELECT n_regionkey, count(*) AS c FROM nation "
        "GROUP BY n_regionkey HAVING c > 4 ORDER BY n_regionkey",
    ),
    # scalar subquery in a CASE condition (not result)
    Probe(
        "scalar_in_case_condition",
        "SELECT n_name, CASE WHEN n_regionkey = (SELECT min(r_regionkey) + 1 "
        "FROM region) THEN 'x' ELSE 'y' END AS f FROM nation ORDER BY n_name",
    ),
    # nested derived tables 3 deep with filters at each level
    Probe(
        "derived_three_deep",
        "SELECT k FROM (SELECT k + 1 AS k FROM (SELECT n_regionkey AS k "
        "FROM (SELECT * FROM nation WHERE n_nationkey > 2) z "
        "WHERE n_regionkey < 4) y WHERE k > 0) x ORDER BY k",
    ),
    # correlated EXISTS inside a derived table of the outer FROM
    Probe(
        "exists_in_derived",
        "SELECT d.n_name FROM (SELECT n.n_name, n.n_regionkey FROM nation n "
        "WHERE EXISTS (SELECT 1 FROM region r WHERE r.r_regionkey = "
        "n.n_regionkey AND r.r_name LIKE 'A%')) d ORDER BY d.n_name",
    ),
    # division result types: int/int
    Probe(
        "int_division_type",
        "SELECT n_nationkey, n_nationkey / 4 AS d FROM nation ORDER BY n_nationkey",
    ),
    # BETWEEN over strings
    Probe(
        "between_strings",
        "SELECT n_name FROM nation WHERE n_name BETWEEN 'NATION_1' AND "
        "'NATION_3' ORDER BY n_name",
    ),

    # ====================================================================
    # Memberships inside aggregate arguments, QUALIFY x DISTINCT ON,
    # recursion feeding set ops with windows above, CASE-of-grouping() keys,
    # FILTER on ordered-set aggregates, interval arithmetic over month
    # boundaries, comparator ordered-agg with REAL null keys, fractional
    # epoch, and numeric/function parity traps (least/greatest NULLs,
    # negative modulo, float division, round-half).
    # ====================================================================
    # --- memberships inside aggregate ARGUMENTS ---
    Probe(
        "exists_in_agg_argument",
        "SELECT c_nationkey, CAST(sum(CASE WHEN EXISTS (SELECT 1 FROM region r "
        "WHERE r.r_regionkey = 2) THEN 1 ELSE 0 END) AS BIGINT) AS s "
        "FROM customer GROUP BY c_nationkey ORDER BY c_nationkey",
    ),
    Probe(
        "corr_exists_in_agg_argument",
        "SELECT c.c_nationkey, CAST(sum(CASE WHEN EXISTS (SELECT 1 FROM nation n "
        "WHERE n.n_nationkey = c.c_nationkey AND n.n_regionkey > 2) "
        "THEN 1 ELSE 0 END) AS BIGINT) AS s "
        "FROM customer c GROUP BY c.c_nationkey ORDER BY c.c_nationkey",
    ),
    Probe(
        "in_membership_filter_clause",
        "SELECT c.c_nationkey, count(*) FILTER (WHERE c.c_nationkey IN "
        "(SELECT n_nationkey FROM nation WHERE n_regionkey = 1)) AS c "
        "FROM customer c GROUP BY c.c_nationkey ORDER BY c.c_nationkey",
    ),
    # --- QUALIFY x DISTINCT ON interplay ---
    Probe(
        "qualify_after_distinct_on",
        "SELECT * FROM (SELECT DISTINCT ON (c_nationkey) c_nationkey, c_custkey "
        "FROM customer ORDER BY c_nationkey, c_custkey) d "
        "QUALIFY row_number() OVER (ORDER BY c_custkey) <= 5 ORDER BY c_custkey",
    ),
    Probe(
        "distinct_on_expression_key",
        "SELECT DISTINCT ON (c_nationkey % 3) c_nationkey % 3 AS b, c_custkey "
        "FROM customer ORDER BY c_nationkey % 3, c_custkey",
    ),
    # --- recursive CTE feeding a set op with a window above ---
    Probe(
        "recursive_setop_window",
        "WITH RECURSIVE seq(n) AS (SELECT 1 UNION ALL SELECT n + 1 FROM seq "
        "WHERE n < 6) SELECT n, CAST(sum(n) OVER (ORDER BY n) AS BIGINT) AS run "
        "FROM (SELECT n FROM seq UNION ALL SELECT n + 10 FROM seq) u ORDER BY n",
    ),
    Probe(
        "recursive_intersect_above",
        "WITH RECURSIVE seq(n) AS (SELECT 1 UNION ALL SELECT n + 1 FROM seq "
        "WHERE n < 10) SELECT n FROM seq INTERSECT "
        "SELECT n_regionkey + 1 FROM nation ORDER BY n",
    ),
    # --- CASE-of-grouping() as an output over grouping sets ---
    Probe(
        "case_of_grouping_key",
        "SELECT CASE WHEN grouping(n_regionkey) = 1 THEN -1 ELSE n_regionkey END "
        "AS k, count(*) AS c FROM nation "
        "GROUP BY GROUPING SETS ((n_regionkey), ()) ORDER BY k",
    ),
    Probe(
        "grouping_in_having",
        "SELECT n_regionkey, count(*) AS c FROM nation "
        "GROUP BY ROLLUP (n_regionkey) HAVING grouping(n_regionkey) = 0 "
        "ORDER BY n_regionkey",
    ),
    # --- FILTER on ordered-set aggregates ---
    Probe(
        "ordered_set_filter",
        "SELECT c_mktsegment, round(percentile_cont(0.5) WITHIN GROUP "
        "(ORDER BY c_acctbal) FILTER (WHERE c_nationkey < 10), 2) AS med "
        "FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment",
    ),
    Probe(
        "percentile_disc_desc_nulls",
        "SELECT round(percentile_disc(0.25) WITHIN GROUP "
        "(ORDER BY c_acctbal DESC NULLS LAST), 2) AS q FROM customer",
    ),
    # --- interval arithmetic across month boundaries ---
    Probe(
        "interval_month_end",
        "SELECT DATE '1996-01-31' + INTERVAL '1' MONTH AS d1, "
        "DATE '1996-02-29' + INTERVAL '1' YEAR AS d2, "
        "DATE '1995-03-31' - INTERVAL '1' MONTH AS d3",
    ),
    Probe(
        "interval_mixed_units",
        "SELECT o_orderkey, o_orderdate + INTERVAL '2' DAY AS d "
        "FROM orders WHERE o_orderkey < 20 ORDER BY o_orderkey",
    ),
    # --- comparator ordered-agg with REAL null keys ---
    Probe(
        "ordered_agg_null_keys_first",
        "SELECT c_nationkey, string_agg(c_name, ',' ORDER BY "
        "CASE WHEN c_custkey % 3 = 0 THEN NULL ELSE c_custkey END "
        "DESC NULLS FIRST, c_custkey ASC) AS names "
        "FROM customer WHERE c_custkey < 40 GROUP BY c_nationkey "
        "ORDER BY c_nationkey",
    ),
    Probe(
        "ordered_agg_null_keys_default",
        "SELECT c_nationkey, string_agg(c_name, ',' ORDER BY "
        "CASE WHEN c_custkey % 3 = 0 THEN NULL ELSE c_custkey END ASC, "
        "c_custkey DESC) AS names "
        "FROM customer WHERE c_custkey < 40 GROUP BY c_nationkey "
        "ORDER BY c_nationkey",
    ),
    # --- fractional epoch over sub-second timestamps ---
    Probe(
        "epoch_subsecond",
        "SELECT extract(epoch FROM TIMESTAMP '2020-06-01 12:00:00.25') AS e1, "
        "extract(epoch FROM TIMESTAMP '1999-12-31 23:59:59.999') AS e2",
    ),
    # --- numeric / function parity traps ---
    Probe(
        "least_greatest_nulls",
        "SELECT least(n_regionkey, NULL) AS l, greatest(NULL, n_regionkey) AS g "
        "FROM nation WHERE n_nationkey < 3 ORDER BY n_regionkey",
    ),
    Probe(
        "negative_modulo_subtraction",
        "SELECT (0 - n_nationkey) % 3 AS m, n_nationkey % (0 - 4) AS m2 "
        "FROM nation WHERE n_nationkey BETWEEN 1 AND 7 ORDER BY n_nationkey",
    ),
    Probe(
        "float_division_type",
        "SELECT n_nationkey, n_nationkey / 4.0 AS d FROM nation "
        "WHERE n_nationkey < 5 ORDER BY n_nationkey",
    ),
    Probe(
        "round_half_cases",
        "SELECT round(2.5) AS a, round(3.5) AS b, round(0 - 2.5) AS c, "
        "round(2.45, 1) AS d",
    ),
    Probe(
        "power_and_sqrt_types",
        "SELECT CAST(power(n_regionkey, 2) AS BIGINT) AS p, "
        "round(sqrt(n_nationkey), 3) AS s FROM nation "
        "WHERE n_nationkey < 5 ORDER BY n_nationkey",
    ),
    # --- scalar subquery in ORDER BY expression position ---
    Probe(
        "scalar_in_order_by",
        "SELECT n_name FROM nation "
        "ORDER BY abs(n_regionkey - (SELECT avg(r_regionkey) FROM region)), "
        "n_name",
    ),
    # --- correlated LEFT-JOIN scalar + uncorrelated scalar in one conjunct ---
    Probe(
        "mixed_scalars_one_conjunct",
        "SELECT c.c_custkey FROM customer c WHERE "
        "(SELECT count(o.o_orderkey) FROM nation nx LEFT JOIN orders o "
        "ON o.o_custkey = nx.n_nationkey WHERE nx.n_nationkey = c.c_nationkey) "
        "> (SELECT count(*) FROM region) AND c.c_custkey < 12 "
        "ORDER BY c.c_custkey",
    ),

    # ====================================================================
    # Operator-parity landmines — `^` is POWER on DuckDB/Postgres but XOR on
    # Spark, 1-arg log() is base-10 vs natural, array subscripts are 1-based
    # vs 0-based, slices are inclusive `[a:b]` vs slice(start, length) —
    # plus ANSI call forms (substring FROM FOR, trim BOTH, position IN),
    # SIMILAR TO, ILIKE, multi-column DISTINCT aggregates, || coercion,
    # division/modulo edges, and the new top-1 scalar machinery combined
    # with aggregates above.
    # ====================================================================
    # --- operator parity: ^ / log / subscripts / slices ---
    Probe(
        "caret_is_power",
        "SELECT n_nationkey, round(n_regionkey ^ 2, 1) AS p, "
        "round(2 ^ 3 ^ 2, 1) AS chain FROM nation "
        "WHERE n_nationkey < 6 ORDER BY n_nationkey",
    ),
    Probe(
        "log_base10",
        "SELECT n_nationkey, round(log(n_nationkey + 10), 4) AS l10, "
        "round(ln(n_nationkey + 10), 4) AS lnat, "
        "round(log(2, n_nationkey + 2), 4) AS l2 FROM nation "
        "WHERE n_nationkey < 6 ORDER BY n_nationkey",
    ),
    Probe(
        "subscript_one_based",
        "SELECT n_nationkey, (array[n_nationkey, n_regionkey, 99])[1] AS e1, "
        "(array[n_nationkey])[5] AS oob, (array[10,20,30])[-1] AS neg "
        "FROM nation WHERE n_nationkey < 4 ORDER BY n_nationkey",
    ),
    Probe(
        "slice_inclusive",
        "SELECT (array[10,20,30,40])[2:3] AS s1, (array[10,20,30,40])[:2] AS s2, "
        "(array[10,20,30,40])[3:] AS s3 FROM region WHERE r_regionkey = 0",
    ),
    Probe(
        "subscript_expr_index",
        "SELECT n_nationkey, (array[100,200,300])[n_regionkey % 3 + 1] AS e "
        "FROM nation WHERE n_nationkey < 6 ORDER BY n_nationkey",
    ),
    # --- ANSI call forms carried verbatim ---
    Probe(
        "substring_from_for",
        "SELECT n_name, substring(n_name FROM 2 FOR 4) AS mid, "
        "substring(n_name FROM 8) AS tail FROM nation "
        "WHERE n_nationkey < 4 ORDER BY n_name",
    ),
    Probe(
        "trim_both_leading",
        "SELECT trim(BOTH 'N' FROM n_name) AS t1, "
        "trim(LEADING 'N' FROM n_name) AS t2, "
        "trim(TRAILING '0123456789' FROM 'AB129') AS t3 FROM nation "
        "WHERE n_nationkey < 3 ORDER BY n_name",
    ),
    Probe(
        "position_in",
        "SELECT n_name, position('_' IN n_name) AS p, "
        "position('zz' IN n_name) AS missing FROM nation "
        "WHERE n_nationkey < 3 ORDER BY n_name",
    ),
    # --- SIMILAR TO / ILIKE ---
    Probe(
        "similar_to",
        "SELECT n_name FROM nation WHERE n_name SIMILAR TO 'NATION_[0-9]' "
        "ORDER BY n_name",
    ),
    Probe(
        "not_similar_to",
        "SELECT n_name FROM nation WHERE NOT (n_name SIMILAR TO '%1%') "
        "AND n_nationkey < 12 ORDER BY n_name",
    ),
    Probe(
        "ilike_case_fold",
        "SELECT n_name FROM nation WHERE n_name ILIKE 'nation#_1' ESCAPE '#' "
        "ORDER BY n_name",
    ),
    # --- aggregates: multi-column DISTINCT, string concat coercion ---
    # (multi-argument count(DISTINCT a, b) dropped: DuckDB has no such
    # spelling, so the identical-text oracle cannot gate it)
    Probe(
        "concat_coercion",
        "SELECT n_nationkey || '-' || n_name AS tag FROM nation "
        "WHERE n_nationkey < 3 ORDER BY tag",
    ),
    # --- numeric edges ---
    Probe(
        "division_modulo_edges",
        "SELECT n_nationkey, n_nationkey % 4 AS m, "
        "round(n_nationkey / 4, 4) AS d FROM nation "
        "WHERE n_nationkey BETWEEN 1 AND 8 ORDER BY n_nationkey",
    ),
    # --- top-1 scalar machinery x aggregation above ---
    Probe(
        "top1_scalar_in_having",
        "SELECT c.c_nationkey, count(*) AS cnt FROM customer c "
        "GROUP BY c.c_nationkey HAVING count(*) > "
        "(SELECT o.o_orderkey % 40 FROM orders o "
        "WHERE o.o_custkey = c.c_nationkey + 1 "
        "ORDER BY o.o_orderkey LIMIT 1) ORDER BY c.c_nationkey",
    ),
    Probe(
        "top1_lateral_two_rows",
        "SELECT n.n_nationkey, l.ck FROM nation n, LATERAL "
        "(SELECT c.c_custkey AS ck FROM customer c "
        "WHERE c.c_nationkey = n.n_nationkey "
        "ORDER BY c.c_acctbal DESC, c.c_custkey LIMIT 2) l "
        "WHERE n.n_nationkey < 5 ORDER BY n.n_nationkey, l.ck",
    ),
    # --- date_trunc parity ---
    Probe(
        "date_trunc_fields",
        "SELECT o_orderkey, date_trunc('week', o_orderdate) AS w, "
        "date_trunc('quarter', o_orderdate) AS q, "
        "date_trunc('month', o_orderdate) AS m FROM orders "
        "WHERE o_orderkey < 12 ORDER BY o_orderkey",
    ),
    # --- greatest/least over expressions ---
    Probe(
        "greatest_least_exprs",
        "SELECT greatest(n_nationkey, n_regionkey * 5, 7) AS g, "
        "least(n_nationkey, n_regionkey * 5, 7) AS l FROM nation "
        "WHERE n_nationkey < 6 ORDER BY n_nationkey",
    ),

    # ====================================================================
    # Function-library parity sweep — string functions
    # (pad/repeat/translate/left/right/reverse/md5/ascii), math (mod,
    # negative-digit round, exp, cbrt-free forms), date/time (last_day,
    # date_part vs extract, make_date, day arithmetic), and cast edges
    # (string->date, bool->int, float->string).
    # ====================================================================
    Probe(
        "pad_repeat",
        "SELECT n_name, lpad(n_name, 12, '*') AS lp, rpad(n_name, 12, '.') AS rp, "
        "repeat('ab', n_regionkey + 1) AS rep FROM nation "
        "WHERE n_nationkey < 4 ORDER BY n_name",
    ),
    Probe(
        "left_right_reverse",
        "SELECT n_name, left(n_name, 3) AS l3, right(n_name, 2) AS r2, "
        "reverse(n_name) AS rev FROM nation WHERE n_nationkey < 4 ORDER BY n_name",
    ),
    Probe(
        "translate_replace",
        "SELECT translate(n_name, 'NAT', 'xyz') AS tr, "
        "replace(n_name, 'NATION', 'N') AS rp FROM nation "
        "WHERE n_nationkey < 4 ORDER BY tr",
    ),
    Probe(
        "md5_ascii_chr",
        "SELECT md5(n_name) AS h, ascii(n_name) AS a, chr(65 + n_regionkey) AS c "
        "FROM nation WHERE n_nationkey < 4 ORDER BY h",
    ),
    Probe(
        "lpad_truncates",
        "SELECT lpad(n_name, 4, '*') AS lp FROM nation "
        "WHERE n_nationkey < 4 ORDER BY lp",
    ),
    Probe(
        "mod_function",
        "SELECT n_nationkey, mod(n_nationkey, 4) AS m, "
        "mod(0 - n_nationkey, 4) AS mneg FROM nation "
        "WHERE n_nationkey BETWEEN 1 AND 7 ORDER BY n_nationkey",
    ),
    Probe(
        "round_negative_digits",
        "SELECT round(12345.678, -2) AS rneg, round(12345.678, 0) AS r0, "
        "round(12345.678, 2) AS r2 FROM region WHERE r_regionkey = 0",
    ),
    Probe(
        "exp_floor_ceil",
        "SELECT round(exp(n_regionkey), 4) AS e, floor(n_nationkey / 2.0) AS f, "
        "ceil(n_nationkey / 2.0) AS c FROM nation "
        "WHERE n_nationkey < 5 ORDER BY n_nationkey",
    ),
    Probe(
        "abs_sign_cast",
        "SELECT abs(0 - n_nationkey) AS a, CAST(sign(0 - n_nationkey) AS INT) AS s "
        "FROM nation WHERE n_nationkey < 4 ORDER BY a",
    ),
    Probe(
        "last_day_make_date",
        "SELECT o_orderkey, last_day(o_orderdate) AS ld, "
        "make_date(2020, 2, 29) AS md FROM orders "
        "WHERE o_orderkey < 8 ORDER BY o_orderkey",
    ),
    Probe(
        "date_part_vs_extract",
        "SELECT o_orderkey, date_part('year', o_orderdate) AS y, "
        "date_part('month', o_orderdate) AS m, "
        "date_part('day', o_orderdate) AS d FROM orders "
        "WHERE o_orderkey < 8 ORDER BY o_orderkey",
    ),
    Probe(
        "day_add_integer",
        "SELECT o_orderkey, CAST(o_orderdate AS DATE) + 7 AS plus7 FROM orders "
        "WHERE o_orderkey < 8 ORDER BY o_orderkey",
    ),
    Probe(
        "cast_string_date",
        "SELECT CAST('2020-02-29' AS DATE) AS d, "
        "CAST('2020-02-29 10:30:00' AS TIMESTAMP) AS ts "
        "FROM region WHERE r_regionkey = 0",
    ),
    Probe(
        "cast_bool_int_float",
        "SELECT CAST(n_regionkey > 2 AS INT) AS bi, "
        "CAST(1.5 AS INT) AS fi, CAST('12' AS BIGINT) AS si "
        "FROM nation WHERE n_nationkey < 4 ORDER BY bi",
    ),
    Probe(
        "nullif_ifnull_coalesce",
        "SELECT nullif(n_regionkey, 2) AS nf, ifnull(nullif(n_regionkey, 2), -1) AS inf_, "
        "coalesce(nullif(n_regionkey, 2), 99) AS co FROM nation "
        "WHERE n_nationkey < 6 ORDER BY n_nationkey",
    ),
    Probe(
        "greatest_string",
        "SELECT greatest(n_name, 'NATION_5') AS g, least(n_name, 'NATION_5') AS l "
        "FROM nation WHERE n_nationkey < 4 ORDER BY g",
    ),
    Probe(
        "concat_ws_fn",
        "SELECT concat_ws('-', n_name, CAST(n_regionkey AS STRING), 'x') AS cw "
        "FROM nation WHERE n_nationkey < 4 ORDER BY cw",
    ),
    Probe(
        "case_sensitive_like",
        "SELECT n_name FROM nation WHERE lower(n_name) LIKE 'nation%' "
        "AND n_name NOT LIKE 'nation%' ORDER BY n_name LIMIT 3",
    ),

    # ====================================================================
    # The window-function family (ntile, percent_rank, cume_dist, nth_value,
    # lag defaults, lead over DESC, first_value IGNORE NULLS in bounded
    # frames), lateral column aliases, TRY_CAST + if(), OFFSET without
    # LIMIT, scientific-notation and unary-plus literals, empty-string
    # comparison, and the EXCLUDE GROUP/TIES peer-window desugars.
    # ====================================================================
    Probe(
        "ntile",
        "SELECT n_nationkey, ntile(4) OVER (ORDER BY n_nationkey) AS q "
        "FROM nation ORDER BY n_nationkey",
    ),
    Probe(
        "percent_rank_cume_dist",
        "SELECT n_nationkey, round(percent_rank() OVER (ORDER BY n_regionkey), 4) AS pr, "
        "round(cume_dist() OVER (ORDER BY n_regionkey), 4) AS cd "
        "FROM nation ORDER BY n_nationkey",
    ),
    Probe(
        "nth_value_full_frame",
        "SELECT n_nationkey, nth_value(n_name, 2) OVER (PARTITION BY n_regionkey "
        "ORDER BY n_nationkey ROWS BETWEEN UNBOUNDED PRECEDING AND UNBOUNDED "
        "FOLLOWING) AS second FROM nation ORDER BY n_nationkey",
    ),
    Probe(
        "lag_with_default",
        "SELECT n_nationkey, lag(n_name, 2, 'none') OVER (ORDER BY n_nationkey) AS l2 "
        "FROM nation ORDER BY n_nationkey",
    ),
    Probe(
        "lead_over_desc",
        "SELECT n_nationkey, lead(n_name, 1) OVER (ORDER BY n_nationkey DESC) AS nxt "
        "FROM nation ORDER BY n_nationkey",
    ),
    Probe(
        "first_value_ignore_nulls_frame",
        "SELECT c_custkey, first_value(CASE WHEN c_custkey % 3 = 0 THEN NULL "
        "ELSE c_name END IGNORE NULLS) OVER (ORDER BY c_custkey "
        "ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS fv "
        "FROM customer WHERE c_custkey < 60 ORDER BY c_custkey",
    ),
    Probe(
        "exclude_group_running",
        "SELECT n_nationkey, CAST(sum(n_nationkey) OVER (ORDER BY n_regionkey "
        "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE GROUP) "
        "AS BIGINT) AS s FROM nation ORDER BY n_nationkey",
    ),
    Probe(
        "exclude_ties_running",
        "SELECT n_nationkey, CAST(sum(n_nationkey) OVER (ORDER BY n_regionkey "
        "RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW EXCLUDE TIES) "
        "AS BIGINT) AS s FROM nation ORDER BY n_nationkey",
    ),
    Probe(
        "lateral_column_alias_chain",
        "SELECT n_nationkey AS x, x + 1 AS y, y * 2 AS z FROM nation "
        "WHERE n_nationkey < 6 ORDER BY x",
    ),
    Probe(
        "try_cast_edges",
        "SELECT try_cast('12' AS INT) AS a, try_cast('xx' AS INT) AS b, "
        "try_cast('1.5' AS INT) AS r, try_cast(n_name AS INT) AS c "
        "FROM nation WHERE n_nationkey < 3 ORDER BY a",
    ),
    Probe(
        "if_predicate_arg",
        "SELECT if(n_regionkey IN (1, 2) AND n_nationkey < 10, n_nationkey, -1) AS v "
        "FROM nation ORDER BY v, n_nationkey",
    ),
    Probe(
        "offset_without_limit",
        "SELECT n_nationkey FROM nation ORDER BY n_nationkey OFFSET 20",
    ),
    Probe(
        "scientific_and_unary_plus",
        "SELECT n_nationkey, +n_regionkey AS p FROM nation "
        "WHERE n_nationkey < 1e1 ORDER BY n_nationkey",
    ),
    Probe(
        "empty_string_compare",
        "SELECT count(*) AS c FROM nation WHERE n_name > ''",
    ),

    # ====================================================================
    # GROUPS window frames — the SQL:2011 peer-group frame mode DuckDB runs
    # natively and Spark lacks — after the dense_rank/RANGE rewrite
    # (plans/parser.py `_rewrite_groups_frame` / `_desugar_groups`).
    # Duplicate order keys (n_regionkey, o_orderstatus) exercise the actual
    # peer-group semantics; shapes cover both bound forms, DESC and
    # NULL-bearing orderings, frame-sensitive navigation functions, EXCLUDE
    # composition, star selects, named windows, QUALIFY interplay, and
    # subquery scoping.
    # ====================================================================
    # running peer-group sum: each row sees its own full peer group plus
    # the previous one — differs from both ROWS and RANGE-over-values
    Probe(
        "groups_running",
        "SELECT n_nationkey, CAST(sum(n_nationkey) OVER (ORDER BY "
        "n_regionkey GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS "
        "BIGINT) AS s FROM nation ORDER BY n_nationkey",
        oracle=RENDER,
    ),
    Probe(
        "groups_between_pre_fol",
        "SELECT n_nationkey, count(*) OVER (ORDER BY n_regionkey "
        "GROUPS BETWEEN 1 PRECEDING AND 1 FOLLOWING) AS c "
        "FROM nation ORDER BY n_nationkey",
        oracle=RENDER,
    ),
    Probe(
        "groups_unbounded_pre",
        "SELECT n_nationkey, CAST(sum(n_nationkey) OVER (ORDER BY "
        "n_regionkey GROUPS UNBOUNDED PRECEDING) AS BIGINT) AS s "
        "FROM nation ORDER BY n_nationkey",
        oracle=RENDER,
    ),
    Probe(
        "groups_current_row_only",
        # CURRENT ROW..CURRENT ROW in GROUPS mode = the whole peer group
        "SELECT n_nationkey, count(*) OVER (ORDER BY n_regionkey "
        "GROUPS BETWEEN CURRENT ROW AND CURRENT ROW) AS peer_n "
        "FROM nation ORDER BY n_nationkey",
        oracle=RENDER,
    ),
    Probe(
        "groups_current_to_unbounded",
        "SELECT n_nationkey, CAST(sum(n_nationkey) OVER (ORDER BY "
        "n_regionkey GROUPS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) "
        "AS BIGINT) AS s FROM nation ORDER BY n_nationkey",
        oracle=RENDER,
    ),
    Probe(
        "groups_following_only",
        "SELECT n_nationkey, count(*) OVER (ORDER BY n_regionkey "
        "GROUPS BETWEEN 1 FOLLOWING AND 2 FOLLOWING) AS c "
        "FROM nation ORDER BY n_nationkey",
        oracle=RENDER,
    ),
    Probe(
        "groups_desc_order",
        "SELECT n_nationkey, count(*) OVER (ORDER BY n_regionkey DESC "
        "GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS c FROM nation "
        "ORDER BY n_nationkey",
        oracle=RENDER,
    ),
    Probe(
        "groups_partitioned",
        "SELECT o_orderkey, count(*) OVER (PARTITION BY o_orderpriority "
        "ORDER BY o_orderstatus GROUPS BETWEEN 1 PRECEDING AND CURRENT "
        "ROW) AS c FROM orders WHERE o_orderkey < 2000 ORDER BY o_orderkey",
        oracle=RENDER,
    ),
    Probe(
        "groups_null_keys",
        # NULL order keys form ONE peer group; placement must match the
        # engine's NULLS LAST default on both sides
        "SELECT c_custkey, count(*) OVER (ORDER BY CASE WHEN c_custkey % 5 "
        "= 0 THEN NULL ELSE c_nationkey END GROUPS BETWEEN 1 PRECEDING AND "
        "CURRENT ROW) AS c "
        "FROM customer WHERE c_custkey < 80 ORDER BY c_custkey",
        oracle=RENDER,
    ),
    Probe(
        "groups_first_value",
        # navigation over a GROUPS frame — positional, so the peer-index
        # rewrite must preserve within-frame row membership
        "SELECT n_nationkey, min(n_name) OVER (ORDER BY n_regionkey "
        "GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS mn "
        "FROM nation ORDER BY n_nationkey",
        oracle=RENDER,
    ),
    Probe(
        "groups_two_windows",
        # two distinct GROUPS specs → two peer-index columns
        "SELECT n_nationkey, count(*) OVER (ORDER BY n_regionkey GROUPS "
        "BETWEEN 1 PRECEDING AND CURRENT ROW) "
        "AS a, count(*) OVER (ORDER BY n_name GROUPS BETWEEN CURRENT ROW "
        "AND 1 FOLLOWING) AS b FROM nation ORDER BY n_nationkey",
        oracle=RENDER,
    ),
    Probe(
        "groups_shared_spec",
        # same spec reused → ONE peer-index column feeds both calls
        "SELECT n_nationkey, count(*) OVER (ORDER BY n_regionkey GROUPS "
        "BETWEEN 1 PRECEDING AND CURRENT ROW) "
        "AS a, CAST(sum(n_nationkey) OVER (ORDER BY n_regionkey GROUPS "
        "BETWEEN 1 PRECEDING AND CURRENT ROW) "
        "AS BIGINT) AS b FROM nation ORDER BY n_nationkey",
        oracle=RENDER,
    ),
    Probe(
        "groups_star_select",
        "SELECT * , count(*) OVER (ORDER BY r_regionkey GROUPS BETWEEN 1 "
        "PRECEDING AND CURRENT ROW) AS c "
        "FROM region ORDER BY r_regionkey",
        oracle=RENDER,
    ),
    Probe(
        "rows_star_select",
        "SELECT *, count(*) OVER (ORDER BY r_regionkey ROWS BETWEEN 1 "
        "PRECEDING AND CURRENT ROW) AS c FROM region ORDER BY r_regionkey",
    ),
    Probe(
        "groups_named_window",
        "SELECT n_nationkey, count(*) OVER w AS c FROM nation "
        "WINDOW w AS (ORDER BY n_regionkey GROUPS BETWEEN 1 PRECEDING "
        "AND CURRENT ROW) ORDER BY n_nationkey",
        oracle=RENDER,
    ),
    Probe(
        "groups_exclude_current_row",
        "SELECT n_nationkey, CAST(sum(n_nationkey) OVER (ORDER BY "
        "n_regionkey GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW EXCLUDE "
        "CURRENT ROW) AS BIGINT) AS s "
        "FROM nation ORDER BY n_nationkey",
        oracle=RENDER,
    ),
    Probe(
        "groups_exclude_group",
        "SELECT n_nationkey, CAST(sum(n_nationkey) OVER (ORDER BY "
        "n_regionkey GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW EXCLUDE "
        "GROUP) AS BIGINT) AS s "
        "FROM nation ORDER BY n_nationkey",
        oracle=RENDER,
    ),
    Probe(
        "groups_exclude_ties",
        "SELECT n_nationkey, CAST(sum(n_nationkey) OVER (ORDER BY "
        "n_regionkey GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW EXCLUDE "
        "TIES) AS BIGINT) AS s "
        "FROM nation ORDER BY n_nationkey",
        oracle=RENDER,
    ),
    Probe(
        "groups_qualify",
        "SELECT n_nationkey, count(*) OVER (ORDER BY n_regionkey GROUPS "
        "BETWEEN 1 PRECEDING AND CURRENT ROW) "
        "AS c FROM nation QUALIFY c > 6 ORDER BY n_nationkey",
        oracle=RENDER,
    ),
    Probe(
        "groups_in_subquery",
        "SELECT x, c FROM (SELECT n_nationkey AS x, count(*) OVER "
        "(ORDER BY n_regionkey GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) "
        "AS c FROM nation) sub "
        "WHERE c > 6 ORDER BY x",
        oracle=RENDER,
    ),
    Probe(
        "groups_where_filter",
        # peer index must be computed AFTER the WHERE filter
        "SELECT n_nationkey, count(*) OVER (ORDER BY n_regionkey GROUPS "
        "BETWEEN 1 PRECEDING AND CURRENT ROW) "
        "AS c FROM nation WHERE n_nationkey % 2 = 0 ORDER BY n_nationkey",
        oracle=RENDER,
    ),
    Probe(
        "groups_multi_order_keys",
        "SELECT c_custkey, count(*) OVER (ORDER BY c_nationkey, "
        "c_mktsegment GROUPS BETWEEN 1 PRECEDING AND CURRENT ROW) AS c "
        "FROM customer WHERE c_custkey < 120 ORDER BY c_custkey",
        oracle=RENDER,
    ),
    Probe(
        "groups_with_limit",
        # windows evaluate over the FULL filtered set, THEN order/limit
        "SELECT n_nationkey, count(*) OVER (ORDER BY n_regionkey GROUPS "
        "BETWEEN 1 PRECEDING AND CURRENT ROW) "
        "AS c FROM nation ORDER BY n_nationkey LIMIT 7",
        oracle=RENDER,
    ),

    # ====================================================================
    # Built-in FUNCTION parity edges — string and numeric builtins where
    # Spark and DuckDB are known to diverge on NULL handling, boundary
    # arguments, or typing (concat NULL-skipping, negative
    # substr/left/right, split_part bounds, greatest/least NULLs, modulo
    # sign, numeric trunc, keyword substring, integer //).
    # ====================================================================
    # concat(): DuckDB SKIPS NULL arguments, Spark propagates NULL
    Probe(
        "concat_null_skip",
        "SELECT n_nationkey, concat(n_name, NULL, '!') AS c "
        "FROM nation WHERE n_nationkey < 3 ORDER BY n_nationkey",
    ),
    Probe(
        "concat_operator_null",
        "SELECT n_nationkey, n_name || NULL AS c "
        "FROM nation WHERE n_nationkey < 3 ORDER BY n_nationkey",
    ),
    Probe(
        "concat_ws_null",
        "SELECT concat_ws('-', 'a', NULL, 'b') AS c FROM nation "
        "WHERE n_nationkey = 0",
    ),
    # substr boundaries: start 0, negative start, keyword form
    Probe(
        "substr_zero_start",
        "SELECT n_nationkey, substr(n_name, 0, 3) AS s FROM nation "
        "WHERE n_nationkey < 3 ORDER BY n_nationkey",
    ),
    Probe(
        "substr_negative_start",
        "SELECT n_nationkey, substr(n_name, -3) AS s FROM nation "
        "WHERE n_nationkey < 3 ORDER BY n_nationkey",
    ),
    Probe(
        "substring_keyword_form",
        "SELECT n_nationkey, substring(n_name FROM 2 FOR 3) AS s "
        "FROM nation WHERE n_nationkey < 3 ORDER BY n_nationkey",
    ),
    # left/right with negative counts: DuckDB = all-but-|n| semantics
    Probe(
        "left_negative",
        "SELECT n_nationkey, left(n_name, -2) AS s FROM nation "
        "WHERE n_nationkey < 3 ORDER BY n_nationkey",
    ),
    Probe(
        "right_negative",
        "SELECT n_nationkey, right(n_name, -2) AS s FROM nation "
        "WHERE n_nationkey < 3 ORDER BY n_nationkey",
    ),
    Probe(
        "split_part_bounds",
        "SELECT split_part('a-b-c', '-', 2) AS mid, "
        "split_part('a-b-c', '-', 9) AS oob FROM nation WHERE n_nationkey = 0",
    ),
    Probe(
        "lpad_rpad_truncates",
        "SELECT lpad(n_name, 4, '.') AS s, rpad(n_name, 3, '.') AS r "
        "FROM nation WHERE n_nationkey < 3 ORDER BY s",
    ),
    Probe(
        "repeat_zero",
        "SELECT repeat('ab', 0) AS z, repeat('ab', 3) AS r FROM nation "
        "WHERE n_nationkey = 0",
    ),
    Probe(
        "translate_fn",
        "SELECT translate(n_name, 'AEI', 'aei') AS t FROM nation "
        "WHERE n_nationkey < 3 ORDER BY t",
    ),
    Probe(
        "position_keyword",
        "SELECT n_nationkey, position('A' IN n_name) AS p FROM nation "
        "WHERE n_nationkey < 5 ORDER BY n_nationkey",
    ),
    Probe(
        "greatest_least_null_literal",
        "SELECT greatest(1, NULL, 3) AS g, least(2, NULL) AS l "
        "FROM nation WHERE n_nationkey = 0",
    ),
    Probe(
        "mod_sign",
        "SELECT (-7) % 3 AS a, 7 % (-3) AS b, mod(-7, 3) AS c "
        "FROM nation WHERE n_nationkey = 0",
    ),
    Probe(
        "int_div_operator",
        # CAST both sides: DuckDB types `//` INTEGER, the lowering BIGINT
        "SELECT CAST(7 // 2 AS BIGINT) AS a, CAST((-7) // 2 AS BIGINT) "
        "AS b, CAST(n_nationkey // 3 AS BIGINT) AS c FROM nation "
        "WHERE n_nationkey < 5 ORDER BY c, a",
    ),
    Probe(
        "numeric_trunc",
        # CAST both sides: DuckDB types DECIMAL-literal trunc DECIMAL(p,0)
        "SELECT CAST(trunc(2.7) AS DOUBLE) AS a, "
        "CAST(trunc(-2.7) AS DOUBLE) AS b FROM nation WHERE n_nationkey = 0",
    ),
    Probe(
        "round_half_negative",
        "SELECT round(2.5) AS a, round(-2.5) AS b, round(2.345, 2) AS c "
        "FROM nation WHERE n_nationkey = 0",
    ),
    Probe(
        "chr_ascii",
        "SELECT chr(65) AS a, ascii('B') AS b FROM nation "
        "WHERE n_nationkey = 0",
    ),
    Probe(
        "md5_hash",
        "SELECT md5('abc') AS h FROM nation WHERE n_nationkey = 0",
    ),
    Probe(
        "reverse_string",
        "SELECT reverse(n_name) AS r FROM nation WHERE n_nationkey < 3 "
        "ORDER BY r",
    ),
    Probe(
        "length_variants",
        "SELECT length('') AS a, length(CAST(NULL AS STRING)) AS b "
        "FROM nation WHERE n_nationkey = 0",
    ),
    Probe(
        "substr_negative_length",
        "SELECT substr(n_name, 1, -1) AS a, substr(n_name, 3, 0) AS b "
        "FROM nation WHERE n_nationkey < 3 ORDER BY n_nationkey",
    ),
    Probe(
        "substr_expression_start",
        "SELECT n_nationkey, substr(n_name, n_nationkey - 1, 4) AS s "
        "FROM nation WHERE n_nationkey < 4 ORDER BY n_nationkey",
    ),
    Probe(
        "concat_numeric_args",
        "SELECT concat(n_name, '#', n_regionkey) AS c FROM nation "
        "WHERE n_nationkey < 3 ORDER BY c",
    ),
    Probe(
        "left_right_expression_count",
        "SELECT n_nationkey, left(n_name, n_nationkey - 2) AS l, "
        "right(n_name, n_nationkey - 2) AS r FROM nation "
        "WHERE n_nationkey < 5 ORDER BY n_nationkey",
    ),

    # ====================================================================
    # AGGREGATE-function parity — arg_max/arg_min vs max_by/min_by naming,
    # median/quantile typing and interpolation, bool/bit families,
    # multi-column count(DISTINCT), covariance/regression typing, string_agg
    # defaults.
    # ====================================================================
    # DuckDB arg_max(arg, val) == Spark max_by(arg, val); DuckDB also
    # aliases max_by — both spellings must work
    Probe(
        "arg_max_min",
        "SELECT c_nationkey, arg_max(c_name, c_acctbal) AS top, "
        "arg_min(c_name, c_acctbal) AS bot FROM customer "
        "GROUP BY c_nationkey ORDER BY c_nationkey",
    ),
    Probe(
        "max_by_min_by",
        "SELECT c_nationkey, max_by(c_name, c_acctbal) AS top, "
        "min_by(c_name, c_acctbal) AS bot FROM customer "
        "GROUP BY c_nationkey ORDER BY c_nationkey",
    ),
    Probe(
        "median_int_interpolates",
        "SELECT c_nationkey, CAST(median(c_custkey) AS DOUBLE) AS m "
        "FROM customer GROUP BY c_nationkey ORDER BY c_nationkey",
    ),
    Probe(
        "quantile_cont_fn",
        "SELECT c_nationkey, CAST(quantile_cont(c_custkey, 0.25) AS "
        "DOUBLE) AS q FROM customer GROUP BY c_nationkey "
        "ORDER BY c_nationkey",
    ),
    Probe(
        "quantile_disc_fn",
        "SELECT c_nationkey, CAST(quantile_disc(c_custkey, 0.25) AS "
        "DOUBLE) AS q FROM customer GROUP BY c_nationkey "
        "ORDER BY c_nationkey",
    ),
    Probe(
        "bool_families",
        "SELECT n_regionkey, bool_and(n_nationkey > 2) AS ba, "
        "bool_or(n_nationkey > 20) AS bo FROM nation "
        "GROUP BY n_regionkey ORDER BY n_regionkey",
    ),
    Probe(
        "count_distinct_pair_expr",
        # DuckDB has no multi-argument count(DISTINCT a, b) — pin the
        # struct-pair spelling both engines accept
        "SELECT count(DISTINCT o_orderstatus || '|' || o_orderpriority) "
        "AS n FROM orders",
    ),
    Probe(
        "covar_typing",
        "SELECT round(covar_pop(c_custkey, c_nationkey), 4) AS cp, "
        "round(covar_samp(c_custkey, c_nationkey), 4) AS cs "
        "FROM customer",
    ),
    Probe(
        "regr_family",
        "SELECT round(regr_slope(c_acctbal, c_custkey), 6) AS s, "
        "round(regr_intercept(c_acctbal, c_custkey), 4) AS i, "
        "CAST(regr_count(c_acctbal, c_custkey) AS BIGINT) AS n "
        "FROM customer",
    ),
    Probe(
        "avg_int_typing",
        "SELECT c_nationkey, round(avg(c_custkey), 4) AS a "
        "FROM customer GROUP BY c_nationkey ORDER BY c_nationkey",
    ),
    Probe(
        "stddev_int",
        "SELECT round(stddev(c_custkey), 4) AS sd, "
        "round(var_samp(c_custkey), 2) AS vs FROM customer",
    ),
    Probe(
        "string_agg_one_arg",
        "SELECT string_agg(n_name ORDER BY n_name) AS s FROM nation "
        "WHERE n_nationkey < 4",
    ),
    Probe(
        "sum_distinct",
        "SELECT CAST(sum(DISTINCT n_regionkey) AS BIGINT) AS s "
        "FROM nation",
    ),
    Probe(
        "min_max_strings",
        "SELECT n_regionkey, min(n_name) AS mn, max(n_name) AS mx "
        "FROM nation GROUP BY n_regionkey ORDER BY n_regionkey",
    ),
    Probe(
        "product_agg_rejects",
        # no exact lambda-free Spark lowering — must REJECT loud, never
        # a raw AnalysisException (rubric: REJECT is a pass here)
        "SELECT CAST(product(n_regionkey + 1) AS DOUBLE) AS p "
        "FROM nation WHERE n_nationkey < 5",
        expect=REJECT,
    ),
    Probe(
        "any_value_deterministic_group",
        # any_value over a single-valued group is deterministic on both
        "SELECT n_nationkey, any_value(n_name) AS v FROM nation "
        "GROUP BY n_nationkey ORDER BY n_nationkey",
    ),

    # ====================================================================
    # DATE/TIME function parity — strftime/strptime format codes,
    # dayname/monthname, week numbering, date_part aliasing, date
    # subtraction typing, make_date/last_day, interval arithmetic
    # composition.
    # ====================================================================
    Probe(
        "strftime_common_codes",
        "SELECT o_orderkey, strftime(o_orderdate, '%Y-%m-%d') AS ymd, "
        "strftime(o_orderdate, '%Y/%m') AS ym "
        "FROM orders WHERE o_orderkey < 50 ORDER BY o_orderkey",
    ),
    Probe(
        "strptime_roundtrip",
        "SELECT CAST(strptime('2024-03-05', '%Y-%m-%d') AS DATE) AS d "
        "FROM nation WHERE n_nationkey = 0",
    ),
    Probe(
        "dayname_monthname",
        "SELECT o_orderkey, dayname(o_orderdate) AS dn, "
        "monthname(o_orderdate) AS mn "
        "FROM orders WHERE o_orderkey < 50 ORDER BY o_orderkey",
    ),
    Probe(
        "week_numbering",
        "SELECT o_orderkey, CAST(week(o_orderdate) AS BIGINT) AS w "
        "FROM orders WHERE o_orderkey < 100 ORDER BY o_orderkey",
    ),
    Probe(
        "date_part_alias",
        "SELECT o_orderkey, CAST(date_part('month', o_orderdate) AS "
        "BIGINT) AS m, CAST(date_part('dow', o_orderdate) AS BIGINT) "
        "AS dw FROM orders WHERE o_orderkey < 50 ORDER BY o_orderkey",
    ),
    Probe(
        "make_date_fn",
        "SELECT make_date(2024, 2, 29) AS d FROM nation "
        "WHERE n_nationkey = 0",
    ),
    Probe(
        "last_day_fn",
        "SELECT o_orderkey, last_day(CAST(o_orderdate AS DATE)) AS ld "
        "FROM orders WHERE o_orderkey < 50 ORDER BY o_orderkey",
    ),
    Probe(
        "date_subtraction_typing",
        # DATE - DATE: DuckDB yields BIGINT days, Spark an INTERVAL —
        # pin through datediff which both lower identically
        "SELECT CAST(datediff('day', TIMESTAMP '1995-01-01', "
        "o_orderdate) AS BIGINT) AS days FROM orders "
        "WHERE o_orderkey < 50 ORDER BY o_orderkey",
    ),
    Probe(
        "interval_composition",
        "SELECT CAST(o_orderdate + INTERVAL 1 MONTH + INTERVAL 3 DAY "
        "AS DATE) AS d FROM orders WHERE o_orderkey < 50 "
        "ORDER BY o_orderkey",
    ),
    Probe(
        "interval_month_end_clamp",
        "SELECT CAST(TIMESTAMP '2024-01-31' + INTERVAL 1 MONTH AS DATE) "
        "AS d FROM nation WHERE n_nationkey = 0",
    ),
    Probe(
        "date_trunc_week",
        "SELECT o_orderkey, date_trunc('week', o_orderdate) AS w "
        "FROM orders WHERE o_orderkey < 50 ORDER BY o_orderkey",
    ),
    Probe(
        "greatest_of_dates",
        "SELECT greatest(CAST(o_orderdate AS DATE), DATE '1996-06-01') "
        "AS g FROM orders WHERE o_orderkey < 50 ORDER BY g, o_orderkey",
    ),
    Probe(
        "extract_quarter_isoyear",
        "SELECT o_orderkey, CAST(extract(quarter FROM o_orderdate) AS "
        "BIGINT) AS q, CAST(extract(isoyear FROM o_orderdate) AS BIGINT) "
        "AS iy FROM orders WHERE o_orderkey < 50 ORDER BY o_orderkey",
    ),
    Probe(
        "to_char_via_strftime",
        # month-name + literal text mixing
        "SELECT strftime(o_orderdate, '%d %B %Y') AS pretty "
        "FROM orders WHERE o_orderkey < 20 ORDER BY pretty",
    ),
    Probe(
        "epoch_ms_fn",
        "SELECT CAST(epoch_ms(o_orderdate) AS BIGINT) AS ms "
        "FROM orders WHERE o_orderkey < 20 ORDER BY ms",
    ),

    # ====================================================================
    # JSON function parity — json_extract_string/get_json_object, the ->>
    # text-extraction arrow, json_array_length, json_keys, nested and array
    # paths, and the loud rejections for the JSON-quoted forms
    # (json_extract, bare ->).
    # ====================================================================
    Probe(
        "json_extract_string_nested",
        "SELECT json_extract_string('{\"name\": \"ann\", \"age\": 7, \"tags\": "
        "[\"x\", \"y\"], \"addr\": {\"city\": \"oslo\"}}', '$.addr.city') AS city, "
        "json_extract_string('{\"name\": \"ann\", \"age\": 7, \"tags\": [\"x\", "
        "\"y\"], \"addr\": {\"city\": \"oslo\"}}', '$.age') AS age "
        "FROM nation WHERE n_nationkey = 0",
    ),
    Probe(
        "json_extract_string_bare_path",
        "SELECT json_extract_string('{\"name\": \"ann\", \"age\": 7, \"tags\": "
        "[\"x\", \"y\"], \"addr\": {\"city\": \"oslo\"}}', 'name') AS nm "
        "FROM nation WHERE n_nationkey = 0",
    ),
    Probe(
        "arrow_text_key",
        "SELECT '{\"name\": \"ann\", \"age\": 7, \"tags\": [\"x\", \"y\"], \"addr\": "
        "{\"city\": \"oslo\"}}' ->> 'name' AS nm, '{\"name\": \"ann\", \"age\": 7, "
        "\"tags\": [\"x\", \"y\"], \"addr\": {\"city\": \"oslo\"}}' ->> 'age' AS age "
        "FROM nation WHERE n_nationkey = 0",
    ),
    Probe(
        "arrow_array_index",
        "SELECT '[10, 20, 30]' ->> 1 AS second "
        "FROM nation WHERE n_nationkey = 0",
    ),
    Probe(
        "json_array_length_fn",
        "SELECT CAST(json_array_length('{\"name\": \"ann\", \"age\": 7, \"tags\": "
        "[\"x\", \"y\"], \"addr\": {\"city\": \"oslo\"}}', '$.tags') AS BIGINT) AS "
        "n2, "
        "CAST(json_array_length('[1,2,3]') AS BIGINT) AS n "
        "FROM nation WHERE n_nationkey = 0",
    ),
    Probe(
        "json_keys_fn",
        "SELECT CAST(json_keys('{\"a\": 1, \"b\": 2}') AS STRING) AS ks "
        "FROM nation WHERE n_nationkey = 0",
    ),
    Probe(
        "json_missing_key_null",
        "SELECT json_extract_string('{\"name\": \"ann\", \"age\": 7, \"tags\": "
        "[\"x\", \"y\"], \"addr\": {\"city\": \"oslo\"}}', '$.zzz') AS missing "
        "FROM nation WHERE n_nationkey = 0",
    ),
    Probe(
        "json_from_column_expr",
        "SELECT n_nationkey, "
        "concat('{\"k\": ', n_regionkey, '}') ->> 'k' AS v "
        "FROM nation WHERE n_nationkey < 5 ORDER BY n_nationkey",
    ),

    # ====================================================================
    # WINDOW-function edges beyond the family above — negative/zero lag-lead
    # offsets, nth_value FROM LAST/IGNORE NULLS, RANGE frames under DESC
    # ordering, empty OVER(), expression frame bounds, min/max over moving
    # frames, dense_rank ties, windows in CASE and arithmetic composition.
    # ====================================================================
    Probe(
        "lag_negative_offset",
        # lag(x, -1) == lead(x, 1) on both engines
        "SELECT n_nationkey, lag(n_name, -1) OVER (ORDER BY n_nationkey) "
        "AS nxt FROM nation ORDER BY n_nationkey",
    ),
    Probe(
        "lag_zero_offset",
        "SELECT n_nationkey, lag(n_name, 0) OVER (ORDER BY n_nationkey) "
        "AS self FROM nation ORDER BY n_nationkey",
    ),
    Probe(
        "lead_large_offset",
        "SELECT n_nationkey, lead(n_name, 100) OVER (ORDER BY "
        "n_nationkey) AS far FROM nation ORDER BY n_nationkey",
    ),
    Probe(
        "range_frame_desc",
        # RANGE offsets under DESC ordering: preceding = larger values
        "SELECT n_nationkey, CAST(sum(n_nationkey) OVER (ORDER BY "
        "n_nationkey DESC RANGE BETWEEN 2 PRECEDING AND CURRENT ROW) "
        "AS BIGINT) AS s FROM nation ORDER BY n_nationkey",
    ),
    Probe(
        "empty_over",
        "SELECT n_nationkey, count(*) OVER () AS total, "
        "CAST(sum(n_nationkey) OVER () AS BIGINT) AS s "
        "FROM nation ORDER BY n_nationkey",
    ),
    Probe(
        "min_max_moving_frame",
        "SELECT n_nationkey, min(n_name) OVER (ORDER BY n_nationkey "
        "ROWS BETWEEN 2 PRECEDING AND 2 FOLLOWING) AS mn, "
        "max(n_name) OVER (ORDER BY n_nationkey ROWS BETWEEN 2 "
        "PRECEDING AND 2 FOLLOWING) AS mx FROM nation "
        "ORDER BY n_nationkey",
    ),
    Probe(
        "window_in_arithmetic",
        "SELECT n_nationkey, CAST(n_nationkey - avg(n_nationkey) OVER "
        "(PARTITION BY n_regionkey) AS DOUBLE) AS dev FROM nation "
        "ORDER BY n_nationkey",
    ),
    Probe(
        "window_in_case",
        "SELECT n_nationkey, CASE WHEN rank() OVER (ORDER BY "
        "n_nationkey) <= 5 THEN 'top' ELSE 'rest' END AS band "
        "FROM nation ORDER BY n_nationkey",
    ),
    Probe(
        "dense_rank_ties",
        "SELECT n_nationkey, dense_rank() OVER (ORDER BY n_regionkey) "
        "AS dr, rank() OVER (ORDER BY n_regionkey) AS r "
        "FROM nation ORDER BY n_nationkey",
    ),
    Probe(
        "row_number_two_windows",
        "SELECT n_nationkey, row_number() OVER (ORDER BY n_name) AS a, "
        "row_number() OVER (ORDER BY n_name DESC) AS b "
        "FROM nation ORDER BY n_nationkey",
    ),
    Probe(
        "nth_value_from_frame_start",
        "SELECT n_nationkey, nth_value(n_name, 3) OVER (ORDER BY "
        "n_nationkey ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
        "AS third FROM nation ORDER BY n_nationkey",
    ),
    Probe(
        "last_value_default_frame",
        # default frame = RANGE UNBOUNDED PRECEDING..CURRENT ROW: peers!
        "SELECT n_nationkey, last_value(n_nationkey) OVER (ORDER BY "
        "n_regionkey) AS lv FROM nation ORDER BY n_nationkey",
    ),
    Probe(
        "sum_over_partition_order_expr",
        "SELECT c_custkey, CAST(sum(c_custkey) OVER (PARTITION BY "
        "c_nationkey % 3 ORDER BY c_custkey) AS BIGINT) AS s "
        "FROM customer WHERE c_custkey < 120 ORDER BY c_custkey",
    ),
    Probe(
        "avg_over_range_current_group",
        "SELECT n_nationkey, round(avg(n_nationkey) OVER (ORDER BY "
        "n_regionkey RANGE BETWEEN CURRENT ROW AND CURRENT ROW), 4) "
        "AS a FROM nation ORDER BY n_nationkey",
    ),
    Probe(
        "cume_dist_with_partition",
        "SELECT n_nationkey, round(cume_dist() OVER (PARTITION BY "
        "n_regionkey ORDER BY n_nationkey), 4) AS cd FROM nation "
        "ORDER BY n_nationkey",
    ),

    # ====================================================================
    # TYPE COERCION at set operations, comparisons, and CASE — int/double
    # union columns, string/number comparison casts, NULL-typed columns
    # through set ops, CASE branch type unification, IN-list mixed types,
    # implicit cast direction in joins, and division/modulo type results.
    # ====================================================================
    Probe(
        "union_int_double",
        "SELECT x FROM (SELECT n_nationkey AS x FROM nation "
        "UNION ALL SELECT 1.5 AS x) u ORDER BY x",
    ),
    Probe(
        "union_null_column",
        "SELECT x FROM (SELECT NULL AS x FROM nation WHERE n_nationkey=0 "
        "UNION ALL SELECT n_nationkey AS x FROM nation) u "
        "ORDER BY x NULLS LAST",
    ),
    Probe(
        "intersect_int_vs_double_values",
        "SELECT x FROM (SELECT n_regionkey AS x FROM nation "
        "INTERSECT SELECT 2.0 AS x) u",
    ),
    Probe(
        "case_branch_unification",
        "SELECT n_nationkey, CASE WHEN n_regionkey = 0 THEN 1 "
        "WHEN n_regionkey = 1 THEN 2.5 ELSE 3 END AS v "
        "FROM nation ORDER BY n_nationkey",
    ),
    Probe(
        "in_list_mixed_numeric",
        "SELECT count(*) AS c FROM nation WHERE n_regionkey IN (1, 2.0)",
    ),
    Probe(
        "string_number_compare",
        "SELECT count(*) AS c FROM nation WHERE n_nationkey = '7'",
    ),
    Probe(
        "string_number_in_list",
        "SELECT count(*) AS c FROM nation WHERE n_nationkey IN ('3', '5')",
    ),
    Probe(
        "concat_int_string_operator",
        "SELECT n_nationkey || '-' || n_regionkey AS tag FROM nation "
        "WHERE n_nationkey < 5 ORDER BY tag",
    ),
    Probe(
        "nullif_typing",
        "SELECT nullif(n_regionkey, 2) AS a, "
        "coalesce(nullif(n_regionkey, 0), -1) AS b "
        "FROM nation ORDER BY n_nationkey LIMIT 8",
    ),
    Probe(
        "division_result_type",
        "SELECT n_nationkey, round(n_nationkey / 4, 4) AS q "
        "FROM nation WHERE n_nationkey < 8 ORDER BY n_nationkey",
    ),
    Probe(
        "except_after_coercion",
        "SELECT x FROM (SELECT n_regionkey AS x FROM nation "
        "EXCEPT SELECT 0.0 AS x) u ORDER BY x",
    ),
    Probe(
        "greatest_mixed_numeric",
        "SELECT greatest(n_regionkey, 1.5) AS g FROM nation "
        "WHERE n_nationkey < 5 ORDER BY g, n_nationkey",
    ),
    Probe(
        "between_mixed_types",
        "SELECT count(*) AS c FROM nation "
        "WHERE n_nationkey BETWEEN 1.5 AND '8'",
    ),
    Probe(
        "abs_negative_literal_type",
        "SELECT abs(-5) AS a, abs(-5.5) AS b, -abs(3) AS c "
        "FROM nation WHERE n_nationkey = 0",
    ),
    Probe(
        "boolean_to_int_cast",
        "SELECT CAST(n_regionkey > 2 AS INT) AS f FROM nation "
        "ORDER BY n_nationkey LIMIT 8",
    ),

    # ====================================================================
    # TABLE FUNCTIONS and set-returning expressions — stepped/descending
    # generate_series (inclusive→exclusive bound adjustment by step sign),
    # SELECT-position unnest → explode, range(), multi-DISTINCT aggregates,
    # global HAVING (with and without surviving groups).
    # ====================================================================
    Probe(
        "generate_series_step",
        "SELECT x FROM generate_series(1, 10, 3) AS t(x) ORDER BY x",
    ),
    Probe(
        "generate_series_desc",
        "SELECT x FROM generate_series(10, 1, -4) AS t(x) ORDER BY x",
    ),
    Probe(
        "generate_series_exact_hit",
        "SELECT x FROM generate_series(0, 9, 3) AS t(x) ORDER BY x",
    ),
    Probe(
        "generate_series_join",
        "SELECT n_nationkey, g.x FROM nation, generate_series(1, 3) AS "
        "g(x) WHERE n_nationkey < 3 ORDER BY n_nationkey, g.x",
    ),
    Probe(
        "unnest_in_select",
        "SELECT n_nationkey, unnest(array[1, 2]) AS v FROM nation "
        "WHERE n_nationkey < 3 ORDER BY n_nationkey, v",
    ),
    Probe(
        "unnest_select_strings",
        "SELECT unnest(array['x', 'y']) AS s FROM nation "
        "WHERE n_nationkey = 0 ORDER BY s",
    ),
    Probe(
        "unnest_from_position",
        "SELECT u.v FROM unnest(array[3, 1, 2]) AS u(v) ORDER BY u.v",
    ),
    Probe(
        "range_fn",
        "SELECT x FROM range(1, 5) AS t(x) ORDER BY x",
    ),
    Probe(
        "multi_distinct_aggs",
        "SELECT count(DISTINCT n_regionkey) AS a, "
        "CAST(sum(DISTINCT n_regionkey) AS BIGINT) AS b, "
        "count(DISTINCT n_name) AS c FROM nation",
    ),
    Probe(
        "global_having",
        "SELECT count(*) AS n FROM nation HAVING count(*) > 5",
    ),
    Probe(
        "global_having_empty",
        "SELECT count(*) AS n FROM nation HAVING count(*) > 500",
    ),

    # ====================================================================
    # PATTERN-MATCHING and lexical edges — LIKE ESCAPE clauses,
    # regexp_matches/regexp_full_match lowering to RLIKE (partial vs
    # anchored, flags, negation, inside scalar subqueries — the lowered text
    # must re-parse), numeric underscore separators, SIMILAR TO negation,
    # regexp_extract groups. Quoted-identifier mangling is pinned as a
    # parse-time REJECT in tests/test_parser.py.
    # ====================================================================
    Probe(
        "like_escape_clause",
        "SELECT count(*) AS c FROM nation WHERE n_name LIKE '%!_%' "
        "ESCAPE '!'",
    ),
    Probe(
        "like_escape_no_match",
        "SELECT count(*) AS c FROM nation WHERE n_name LIKE '%!%x%' "
        "ESCAPE '!'",
    ),
    Probe(
        "underscore_numeric",
        "SELECT 1_000_000 AS n, 1_0.5 AS d FROM nation "
        "WHERE n_nationkey = 0",
    ),
    Probe(
        "underscore_in_where",
        "SELECT count(*) AS c FROM nation WHERE n_nationkey < 1_2",
    ),
    Probe(
        "regexp_matches_fn",
        "SELECT count(*) AS c FROM nation "
        "WHERE regexp_matches(n_name, 'NATION_[0-9]+')",
    ),
    Probe(
        "regexp_matches_flag_i",
        "SELECT count(*) AS c FROM nation "
        "WHERE regexp_matches(n_name, 'nation', 'i')",
    ),
    Probe(
        "not_regexp_matches",
        "SELECT count(*) AS c FROM nation "
        "WHERE NOT regexp_matches(n_name, '_1')",
    ),
    Probe(
        "regexp_full_match_anchored",
        # single-digit pattern matches only NATION_0..9 under FULL match
        "SELECT count(*) AS c FROM nation "
        "WHERE regexp_full_match(n_name, 'NATION_[0-9]')",
    ),
    Probe(
        "regexp_full_match_in_subquery",
        # the lowered RLIKE text must survive the scalar-subquery
        # re-parse (RLIKE was once missing from the grammar)
        "SELECT count(*) AS a, (SELECT count(*) FROM nation WHERE "
        "regexp_full_match(n_name, 'NATION_[0-9]')) AS b FROM nation "
        "WHERE regexp_full_match(n_name, 'NATION_[0-9]+')",
    ),
    Probe(
        "similar_to_negated",
        "SELECT count(*) AS c FROM nation "
        "WHERE n_name NOT SIMILAR TO 'NATION_[0-9]+'",
    ),
    Probe(
        "regexp_extract_group",
        "SELECT regexp_extract(n_name, 'NATION_([0-9]+)', 1) AS num "
        "FROM nation WHERE n_nationkey < 3 ORDER BY num",
    ),
    Probe(
        "regexp_replace_global",
        "SELECT regexp_replace(n_name, '[0-9]', '#', 'g') AS masked "
        "FROM nation WHERE n_nationkey < 3 ORDER BY masked",
    ),

    # ====================================================================
    # WINDOWS OVER AGGREGATES — window functions whose arguments are
    # aggregate calls (running totals of grouped counts, percent-of-total,
    # rank-of-aggregate), and WINDOW CALLS IN ORDER BY keys (which Spark's
    # Sort operator rejects outright — desugared to helper select items at
    # parse time). Plus the DECIMAL-literal typing trap through `*` chains.
    # ====================================================================
    Probe(
        "window_over_agg_running",
        "SELECT c_nationkey, count(*) AS n, CAST(sum(count(*)) OVER "
        "(ORDER BY c_nationkey) AS BIGINT) AS running FROM customer "
        "GROUP BY c_nationkey ORDER BY c_nationkey",
    ),
    Probe(
        "window_over_agg_partition",
        "SELECT o_orderstatus, o_orderpriority, count(*) AS n, "
        "CAST(sum(count(*)) OVER (PARTITION BY o_orderstatus) AS BIGINT) "
        "AS st_total FROM orders GROUP BY o_orderstatus, o_orderpriority "
        "ORDER BY o_orderstatus, o_orderpriority",
    ),
    Probe(
        "pct_of_total",
        "SELECT c_nationkey, round(100.0 * count(*) / sum(count(*)) "
        "OVER (), 4) AS pct FROM customer GROUP BY c_nationkey "
        "ORDER BY c_nationkey",
    ),
    Probe(
        "rank_of_agg",
        "SELECT c_nationkey, count(*) AS n, rank() OVER (ORDER BY "
        "count(*) DESC, c_nationkey) AS r FROM customer "
        "GROUP BY c_nationkey ORDER BY c_nationkey",
    ),
    Probe(
        "orderby_window_plain",
        "SELECT n_name FROM nation ORDER BY row_number() OVER "
        "(ORDER BY n_regionkey, n_nationkey) DESC LIMIT 3",
    ),
    Probe(
        "orderby_window_agg",
        "SELECT c_nationkey, CAST(sum(c_acctbal) AS BIGINT) AS tot "
        "FROM customer GROUP BY c_nationkey ORDER BY rank() OVER "
        "(ORDER BY sum(c_acctbal) DESC), c_nationkey LIMIT 5",
    ),
    Probe(
        "orderby_window_star",
        "SELECT * FROM nation ORDER BY row_number() OVER "
        "(ORDER BY n_name DESC) LIMIT 4",
    ),
    Probe(
        "orderby_window_mixed_keys",
        "SELECT n_name, n_regionkey FROM nation ORDER BY n_regionkey, "
        "rank() OVER (ORDER BY n_name DESC), n_name LIMIT 6",
    ),
    Probe(
        "decimal_literal_mul_chain",
        "SELECT n_nationkey, 2.5 * n_regionkey AS a, "
        "n_regionkey % 3 * 1.5 AS b FROM nation "
        "WHERE n_nationkey < 5 ORDER BY n_nationkey",
    ),

    # ====================================================================
    # THREE-VALUED LOGIC and boolean expression edges — parenthesized
    # predicates in EXPRESSION position (`(a AND b) AS f`, `(x IN (...)) IS
    # NULL`, IS DISTINCT pairs over NULL), bare-NULL CASE conditions
    # (VOID-typed on Spark), NULL propagation through NOT/IN lists, boolean
    # sorting, ORDER BY constants.
    # ====================================================================
    Probe(
        "paren_bool_expr_select",
        "SELECT (NULL AND FALSE) AS a, (NULL OR TRUE) AS b, "
        "(NULL AND TRUE) IS NULL AS c FROM nation WHERE n_nationkey = 0",
    ),
    Probe(
        "paren_in_is_null",
        "SELECT (NULL IN (1, 2)) IS NULL AS a, "
        "(3 IN (1, NULL)) IS NULL AS b, (1 IN (1, NULL)) AS c "
        "FROM nation WHERE n_nationkey = 0",
    ),
    Probe(
        "is_distinct_null_pairs",
        "SELECT (NULL IS DISTINCT FROM NULL) AS a, "
        "(NULL IS NOT DISTINCT FROM NULL) AS b, "
        "(1 IS DISTINCT FROM NULL) AS c FROM nation "
        "WHERE n_nationkey = 0",
    ),
    Probe(
        "case_bare_null_condition",
        "SELECT CASE NULL WHEN NULL THEN 'eq' ELSE 'ne' END AS a, "
        "CASE WHEN NULL THEN 'y' ELSE 'n' END AS b FROM nation "
        "WHERE n_nationkey = 0",
    ),
    Probe(
        "not_of_null_comparison",
        "SELECT count(*) AS c FROM nation WHERE NOT (n_regionkey = NULL)",
    ),
    Probe(
        "not_in_list_with_null",
        "SELECT count(*) AS c FROM nation WHERE n_regionkey NOT IN (1, NULL)",
    ),
    Probe(
        "coalesce_chain",
        "SELECT coalesce(NULL, NULL, n_regionkey, 99) AS v FROM nation "
        "ORDER BY n_nationkey LIMIT 5",
    ),
    Probe(
        "boolean_column_sort",
        "SELECT n_nationkey, n_regionkey > 2 AS f FROM nation "
        "ORDER BY f, n_nationkey LIMIT 8",
    ),
    Probe(
        "order_by_constant",
        "SELECT n_nationkey FROM nation ORDER BY 'x', n_nationkey LIMIT 5",
    ),
    Probe(
        "nullif_self_is_null",
        "SELECT nullif(n_regionkey, n_regionkey) AS z FROM nation "
        "WHERE n_nationkey < 3 ORDER BY n_nationkey",
    ),
    Probe(
        "paren_arithmetic_unchanged",
        "SELECT (n_nationkey + 1) * 2 AS v FROM nation "
        "WHERE n_nationkey < 3 ORDER BY v",
    ),
    Probe(
        "bool_expr_in_group_by",
        "SELECT n_regionkey > 2 AS big, count(*) AS n FROM nation "
        "GROUP BY n_regionkey > 2 ORDER BY big NULLS LAST",
    ),

    # ====================================================================
    # The LIST/ARRAY function family — DuckDB bracket literals (`[1,2,3]`),
    # list_value, list_sort / list_reverse_sort null placement, len() over
    # lists and strings, append/prepend/concat and the array `||` overload,
    # position/indexof missing-element encodings, list_distinct
    # NULL-dropping, list_unique, list_has_any/list_has_all,
    # list_min/max/sum/avg, flatten, list_reverse, array_slice function
    # spelling, array comparisons and arrays as GROUP BY keys.
    # ====================================================================
    Probe(
        "bracket_list_literal",
        "SELECT [1, 2, 3] AS a, ['x', 'y'] AS b FROM nation "
        "WHERE n_nationkey = 0",
    ),
    Probe(
        "bracket_list_of_columns",
        "SELECT n_nationkey, [n_nationkey, n_regionkey] AS pair "
        "FROM nation WHERE n_nationkey < 3 ORDER BY n_nationkey",
    ),
    Probe(
        "list_value_ctor",
        "SELECT list_value(1, 2, NULL) AS a FROM nation "
        "WHERE n_nationkey = 0",
    ),
    Probe(
        "list_sort_nulls_last",
        "SELECT list_sort([3, 1, NULL, 2]) AS a FROM nation "
        "WHERE n_nationkey = 0",
    ),
    Probe(
        "list_reverse_sort",
        "SELECT list_reverse_sort([3, 1, NULL, 2]) AS a FROM nation "
        "WHERE n_nationkey = 0",
    ),
    Probe(
        "list_sort_direction_args",
        "SELECT list_sort([3, 1, NULL], 'DESC') AS a, "
        "list_sort([3, 1, NULL], 'ASC') AS b FROM nation "
        "WHERE n_nationkey = 0",
    ),
    Probe(
        "len_list_and_string",
        "SELECT len([1, 2, 3]) AS a, len(n_name) AS b FROM nation "
        "WHERE n_nationkey = 0",
    ),
    Probe(
        "list_append_prepend_concat",
        "SELECT list_append([1, 2], 3) AS a, "
        "list_prepend(0, [1, 2]) AS b, "
        "list_concat([1], [2, 3]) AS c FROM nation WHERE n_nationkey = 0",
    ),
    Probe(
        "array_pipe_concat",
        "SELECT [1, 2] || [3] AS a, [n_nationkey] || [n_regionkey] AS b "
        "FROM nation WHERE n_nationkey = 0",
    ),
    Probe(
        "list_position_missing",
        "SELECT list_position([4, 5, 6], 5) AS a, "
        "list_indexof([4, 5, 6], 7) AS b FROM nation "
        "WHERE n_nationkey = 0",
    ),
    Probe(
        "list_contains_null_probe",
        "SELECT list_contains([1, 2], 2) AS a, "
        "list_contains([1, 2], 3) AS b, "
        "list_contains([1, NULL], 3) AS c FROM nation "
        "WHERE n_nationkey = 0",
    ),
    Probe(
        "list_distinct_drops_nulls",
        "SELECT list_sort(list_distinct([1, 1, NULL, 2, NULL])) AS a "
        "FROM nation WHERE n_nationkey = 0",
    ),
    Probe(
        "list_unique_count",
        "SELECT list_unique([1, 1, NULL, 2]) AS a, "
        "list_unique([NULL, NULL]) AS b FROM nation "
        "WHERE n_nationkey = 0",
    ),
    Probe(
        "list_has_any_all",
        "SELECT list_has_any([1, 2], [2, 3]) AS a, "
        "list_has_any([1, 2], [3, 4]) AS b, "
        "list_has_all([1, 2, 3], [2, 3]) AS c, "
        "list_has_all([1, 2], [2, 9]) AS d FROM nation "
        "WHERE n_nationkey = 0",
    ),
    Probe(
        "list_min_max",
        "SELECT list_min([3, 1, NULL]) AS a, list_max([3, 1, NULL]) AS b "
        "FROM nation WHERE n_nationkey = 0",
    ),
    Probe(
        "list_sum_avg",
        "SELECT list_sum([1, 2, NULL]) AS a, list_avg([1, 2, NULL]) AS b "
        "FROM nation WHERE n_nationkey = 0",
    ),
    Probe(
        "flatten_nested",
        "SELECT flatten([[1], [2, 3], []]) AS a FROM nation "
        "WHERE n_nationkey = 0",
    ),
    Probe(
        "list_reverse_fn",
        "SELECT list_reverse([1, 2, 3]) AS a FROM nation "
        "WHERE n_nationkey = 0",
    ),
    Probe(
        "array_slice_fn",
        "SELECT array_slice([1, 2, 3, 4], 2, 3) AS a, "
        "array_slice([1, 2, 3, 4], 2, 99) AS b FROM nation "
        "WHERE n_nationkey = 0",
    ),
    Probe(
        "array_comparisons",
        "SELECT ([1, 2] < [1, 3]) AS a, ([1, 2] = [1, 2]) AS b, "
        "([2] > [1, 9]) AS c FROM nation WHERE n_nationkey = 0",
    ),
    Probe(
        "group_by_array_key",
        "SELECT [n_regionkey] AS k, count(*) AS n FROM nation "
        "GROUP BY [n_regionkey] ORDER BY k",
    ),
    Probe(
        "order_by_array",
        "SELECT n_nationkey FROM nation "
        "ORDER BY [n_regionkey, n_nationkey] LIMIT 5",
    ),
    Probe(
        "subscript_still_works",
        "SELECT ([10, 20, 30])[2] AS a, [10, 20][9] AS b FROM nation "
        "WHERE n_nationkey = 0",
    ),
    Probe(
        "list_lambda_rejects",
        "SELECT list_transform([1, 2], x -> x + 1) AS a FROM nation "
        "WHERE n_nationkey = 0",
        expect=REJECT,
    ),
    Probe(
        "unnest_bracket_literal",
        "SELECT unnest([7, 8, 9]) AS v FROM nation WHERE n_nationkey = 0",
    ),

    # ====================================================================
    # PIVOT / UNPIVOT — the FROM-postfix spelling Spark and DuckDB share.
    # Coverage: count/sum/avg/min pivots, implicit group-by-everything-else
    # (incl. the count(*) form, which keeps ALL non-key columns as groups),
    # no-remaining-groups global pivots, IN items that match no rows,
    # aliased items, numeric items (alias required — both engines derive
    # result names from item text), aliased sources, pivot over derived
    # tables, UNPIVOT with/without INCLUDE NULLS, unpivot aliases, and a
    # pivot→unpivot chain.
    # ====================================================================
    Probe(
        "pivot_count_base_table",
        "SELECT * FROM nation PIVOT (count(n_name) FOR n_regionkey "
        "IN (0 AS r0, 1 AS r1, 2 AS r2)) ORDER BY n_nationkey",
    ),
    Probe(
        "pivot_sum_groups",
        "SELECT o_orderpriority, CAST(o AS BIGINT) AS o, "
        "CAST(f AS BIGINT) AS f FROM ("
        "SELECT * FROM (SELECT o_orderpriority, o_orderstatus, "
        "o_orderkey % 10 AS d FROM orders) PIVOT (sum(d) "
        "FOR o_orderstatus IN ('O' AS o, 'F' AS f))) "
        "ORDER BY o_orderpriority",
    ),
    Probe(
        "pivot_avg",
        "SELECT * FROM (SELECT n_regionkey, n_name, n_nationkey "
        "FROM nation) PIVOT (avg(n_nationkey) FOR n_regionkey "
        "IN (0 AS r0, 1 AS r1)) ORDER BY n_name LIMIT 6",
    ),
    Probe(
        "pivot_min_string",
        "SELECT * FROM (SELECT n_regionkey, n_name FROM nation) "
        "PIVOT (min(n_name) FOR n_regionkey IN (0 AS r0, 3 AS r3))",
    ),
    Probe(
        "pivot_no_groups_global",
        "SELECT CAST(o AS BIGINT) AS o, CAST(p AS BIGINT) AS p FROM ("
        "SELECT * FROM (SELECT o_orderstatus FROM orders) "
        "PIVOT (count(*) FOR o_orderstatus IN ('O' AS o, 'P' AS p)))",
    ),
    Probe(
        "pivot_missing_item_null",
        "SELECT * FROM (SELECT n_regionkey, n_nationkey FROM nation) "
        "PIVOT (sum(n_nationkey) FOR n_regionkey IN (77 AS nope, "
        "1 AS one))",
    ),
    Probe(
        "pivot_count_star_keeps_values",
        "SELECT * FROM (SELECT n_regionkey, n_nationkey FROM nation "
        "WHERE n_nationkey < 4) PIVOT (count(*) FOR n_regionkey "
        "IN (0 AS r0, 1 AS r1)) ORDER BY n_nationkey",
    ),
    Probe(
        "pivot_aliased_source",
        "SELECT * FROM nation AS n PIVOT (count(n_name) FOR "
        "n_regionkey IN (4 AS r4)) ORDER BY n_nationkey LIMIT 5",
    ),
    Probe(
        "pivot_then_where",
        "SELECT n_nationkey, CAST(r2 AS BIGINT) AS r2 FROM ("
        "SELECT * FROM nation PIVOT (count(n_name) FOR n_regionkey "
        "IN (2 AS r2))) WHERE r2 > 0 ORDER BY n_nationkey",
    ),
    Probe(
        "unpivot_basic",
        "SELECT * FROM (SELECT n_nationkey AS id, n_nationkey * 2 AS x, "
        "n_regionkey AS y FROM nation) UNPIVOT (v FOR k IN (x, y)) "
        "ORDER BY id, k",
    ),
    Probe(
        "unpivot_excludes_nulls",
        "SELECT * FROM (SELECT n_nationkey AS id, CASE WHEN "
        "n_regionkey = 0 THEN NULL ELSE n_regionkey END AS x, "
        "n_regionkey AS y FROM nation) UNPIVOT (v FOR k IN (x, y)) "
        "ORDER BY id, k",
    ),
    Probe(
        "unpivot_include_nulls",
        "SELECT * FROM (SELECT n_nationkey AS id, CASE WHEN "
        "n_regionkey = 0 THEN NULL ELSE n_regionkey END AS x, "
        "n_regionkey AS y FROM nation) UNPIVOT INCLUDE NULLS "
        "(v FOR k IN (x, y)) ORDER BY id, k",
    ),
    Probe(
        "unpivot_item_aliases",
        "SELECT * FROM (SELECT n_nationkey AS id, n_regionkey AS a, "
        "n_nationkey AS b FROM nation) UNPIVOT (amount FOR metric IN "
        "(a AS alpha, b AS beta)) ORDER BY id, metric LIMIT 8",
    ),
    Probe(
        "unpivot_single_column",
        "SELECT * FROM (SELECT n_nationkey AS id, n_regionkey AS x "
        "FROM nation) UNPIVOT (v FOR k IN (x)) ORDER BY id",
    ),
    Probe(
        "pivot_unpivot_roundtrip",
        "SELECT * FROM (SELECT n_regionkey, n_nationkey "
        "FROM nation) PIVOT (count(n_nationkey) FOR n_regionkey IN "
        "(0 AS r0, 1 AS r1)) UNPIVOT (cnt FOR region IN (r0, r1)) "
        "ORDER BY region",
    ),

    # ====================================================================
    # STRUCT family — DuckDB brace literals ({'a': 1}), struct_pack(k := v),
    # struct_extract, dot field access (parenthesized-expression base,
    # derived-table column base, and the three-part t.s.k spelling), nested
    # structs, structs in comparisons / GROUP BY / ORDER BY, struct arrays
    # through unnest, and the loud rejections (MAP literals, non-identifier
    # keys). Structs are never selected raw (DuckDB fetches dicts, Spark
    # Rows — formats diverge); probes always extract fields.
    # ====================================================================
    Probe(
        "struct_literal_fields",
        "SELECT ({'a': 1, 'b': 'x'}).a AS a, ({'a': 1, 'b': 'x'}).b AS b "
        "FROM nation WHERE n_nationkey = 0",
    ),
    Probe(
        "struct_pack_fields",
        "SELECT (struct_pack(a := n_nationkey, b := n_name)).a AS a "
        "FROM nation WHERE n_nationkey < 3 ORDER BY a",
    ),
    Probe(
        "struct_extract_fn",
        "SELECT struct_extract({'k': n_regionkey}, 'k') AS v "
        "FROM nation WHERE n_nationkey < 3 ORDER BY v",
    ),
    Probe(
        "nested_struct_access",
        "SELECT ({'o': {'i': n_nationkey + 1}}).o.i AS v FROM nation "
        "WHERE n_nationkey < 3 ORDER BY v",
    ),
    Probe(
        "derived_column_field_access",
        "SELECT t.id, t.s.k AS k FROM (SELECT n_nationkey AS id, "
        "{'k': n_name} AS s FROM nation) t ORDER BY t.id LIMIT 4",
    ),
    Probe(
        "two_part_field_access",
        "SELECT s.k AS k FROM (SELECT {'k': n_nationkey} AS s "
        "FROM nation) t ORDER BY k LIMIT 4",
    ),
    Probe(
        "struct_comparison",
        "SELECT count(*) AS n FROM nation "
        "WHERE {'a': n_regionkey} = {'a': 2}",
    ),
    Probe(
        "struct_ordering",
        "SELECT n_nationkey FROM nation "
        "WHERE {'a': n_regionkey, 'b': n_nationkey} < {'a': 2, 'b': 99} "
        "ORDER BY n_nationkey LIMIT 5",
    ),
    Probe(
        "struct_group_by_key",
        "SELECT ({'r': n_regionkey}).r AS r, count(*) AS n FROM nation "
        "GROUP BY {'r': n_regionkey} ORDER BY r",
    ),
    Probe(
        "struct_in_case",
        "SELECT CASE WHEN n_regionkey > 2 THEN {'v': 1} ELSE {'v': 0} "
        "END.v AS v FROM nation WHERE n_nationkey < 4 "
        "ORDER BY n_nationkey",
    ),
    Probe(
        "unnest_struct_array_two_step",
        "SELECT d.id, d.u.k AS k, d.u.v AS v FROM ("
        "SELECT n_nationkey AS id, unnest([{'k': 'a', 'v': n_regionkey}, "
        "{'k': 'b', 'v': n_nationkey}]) AS u FROM nation "
        "WHERE n_nationkey < 2) d ORDER BY d.id, k",
    ),
    Probe(
        "unnest_field_access_rejects",
        "SELECT (unnest([{'v': n_regionkey}])).v AS v FROM nation "
        "WHERE n_nationkey < 2",
        expect=REJECT,
    ),
    Probe(
        "struct_is_null",
        "SELECT ({'a': 1}) IS NULL AS a, "
        "(CASE WHEN n_regionkey < 0 THEN {'a': 1} END) IS NULL AS b "
        "FROM nation WHERE n_nationkey = 0",
    ),
    Probe(
        "map_literal_rejects",
        "SELECT map {1: 'a'} AS m FROM nation WHERE n_nationkey = 0",
        expect=REJECT,
    ),
    Probe(
        "bad_struct_key_rejects",
        "SELECT {'not a key!': 1} AS s FROM nation WHERE n_nationkey = 0",
        expect=REJECT,
    ),

    # ====================================================================
    # STRING-function edges — unicode case folding / reverse / length,
    # keyword TRIM(BOTH|LEADING|TRAILING ... FROM ...) and POSITION(x IN y)
    # and SUBSTRING(s FROM i FOR n) forms, 2-arg ltrim/rtrim ARGUMENT ORDER
    # (Spark's is reversed — keyword-form lowering), 2-arg regexp_extract
    # DEFAULT GROUP (DuckDB 0 = whole match, Spark 1 — silent divergence),
    # empty-pattern replace, negative/overflow split_part, pad/repeat
    # boundary arguments, chr/ascii/unicode codepoints, contains/ends_with
    # naming, levenshtein, printf parity, and the loud rejections
    # (format-fmt, jaro/jaccard/hamming).
    # ====================================================================
    Probe(
        "unicode_case_fold",
        "SELECT upper('héllo') AS a, lower('ÉØ') AS b, "
        "reverse('héllo') AS c, length('héllo') AS d "
        "FROM nation WHERE n_nationkey = 0",
    ),
    Probe(
        "keyword_trim_forms",
        "SELECT TRIM(BOTH 'x' FROM 'xxaxx') AS a, "
        "TRIM(LEADING 'xy' FROM 'yxab') AS b, "
        "TRIM(TRAILING 'x' FROM 'axx') AS c, trim('  a  ') AS d "
        "FROM nation WHERE n_nationkey = 0",
    ),
    Probe(
        "ltrim_rtrim_arg_order",
        "SELECT ltrim('xxabxx', 'x') AS a, rtrim('xxabxx', 'x') AS b, "
        "ltrim('  a') AS c FROM nation WHERE n_nationkey = 0",
    ),
    Probe(
        "position_keyword_and_strpos",
        "SELECT position('l' IN 'hello') AS a, strpos('hello', 'l') AS b, "
        "instr('hello', 'z') AS c, position('T' IN n_name) AS d "
        "FROM nation WHERE n_nationkey < 3 ORDER BY n_nationkey",
    ),
    Probe(
        "substring_from_for_unicode",
        "SELECT substring('héllo' FROM 2 FOR 3) AS a, "
        "substring(n_name FROM 8) AS b FROM nation "
        "WHERE n_nationkey < 3 ORDER BY n_nationkey",
    ),
    Probe(
        "regexp_extract_default_group",
        "SELECT regexp_extract('a1b22', '([a-z])([0-9]+)') AS whole, "
        "regexp_extract('a1b22', '([a-z])([0-9]+)', 2) AS g2, "
        "regexp_extract('zzz', '([0-9]+)') AS miss "
        "FROM nation WHERE n_nationkey = 0",
    ),
    Probe(
        "replace_empty_pattern",
        "SELECT replace('abc', '', '-') AS a, replace('aaa', 'a', '') AS b "
        "FROM nation WHERE n_nationkey = 0",
    ),
    Probe(
        "split_part_negative_index",
        "SELECT split_part('a,b,c', ',', -1) AS a, "
        "split_part('a,b,c', ',', 9) AS b, "
        "split_part('abc', ',', 1) AS c FROM nation WHERE n_nationkey = 0",
    ),
    Probe(
        "pad_repeat_bounds",
        "SELECT lpad('ab', 5, 'xy') AS a, rpad('ab', 1, 'x') AS b, "
        "lpad('ab', 0, 'x') AS c, lpad('abc', -1, 'x') AS d, "
        "repeat('ab', 0) AS e, repeat('ab', -1) AS f "
        "FROM nation WHERE n_nationkey = 0",
    ),
    Probe(
        "chr_ascii_unicode",
        "SELECT chr(65) AS a, ascii('A') AS b, unicode('é') AS c "
        "FROM nation WHERE n_nationkey = 0",
    ),
    Probe(
        "contains_ends_with",
        "SELECT contains('hello', 'ell') AS a, ends_with('hello', 'lo') "
        "AS b, starts_with('hello', 'he') AS c "
        "FROM nation WHERE n_nationkey = 0",
    ),
    Probe(
        "levenshtein_distance",
        "SELECT levenshtein('kitten', 'sitting') AS a, "
        "levenshtein(n_name, 'NATION_1') AS b FROM nation "
        "WHERE n_nationkey < 3 ORDER BY n_nationkey",
    ),
    Probe(
        "printf_parity",
        "SELECT printf('%s-%d', n_name, n_nationkey) AS a FROM nation "
        "WHERE n_nationkey < 3 ORDER BY n_nationkey",
    ),
    Probe(
        "translate_dup_chars",
        "SELECT translate('abcba', 'ab', 'x') AS a, "
        "translate('abc', 'abc', 'cba') AS b "
        "FROM nation WHERE n_nationkey = 0",
    ),
    Probe(
        "concat_ws_nulls_literal",
        "SELECT concat_ws('-', 'a', NULL, 'b') AS a "
        "FROM nation WHERE n_nationkey = 0",
    ),
    Probe(
        "format_fmt_rejects",
        "SELECT format('{} and {}', 1, 'x') AS a FROM nation "
        "WHERE n_nationkey = 0",
        expect=REJECT,
    ),
    Probe(
        "jaro_rejects",
        "SELECT jaro_winkler_similarity('duck', 'luck') AS a FROM nation "
        "WHERE n_nationkey = 0",
        expect=REJECT,
    ),

    # ====================================================================
    # ASOF JOIN — the DuckDB dialect operator, compiled via the union-window
    # composition. Coverage: backward inclusive/strict, forward, ASOF LEFT
    # vs inner null-dropping, expression probes, derived tables on both
    # sides, NULL ordering values (right NULLs never match; left NULLs match
    # nothing), keyless asof, qualified stars over the struct-shaped output,
    # aggregation above the join, and the loud rejections (no/two
    # inequalities, bare star, asof after another join, non-column right
    # side).
    # ====================================================================
    Probe(
        "asof_backward_strict",
        "SELECT o.o_orderkey, p.o_orderkey AS prev_key FROM orders o "
        "ASOF JOIN orders p ON p.o_custkey = o.o_custkey AND "
        "o.o_orderdate > p.o_orderdate WHERE o.o_orderkey < 60 "
        "ORDER BY o.o_orderkey",
    ),
    Probe(
        "asof_backward_inclusive",
        "SELECT o.o_orderkey, p.o_orderkey AS prev_key, p.o_orderdate AS "
        "pd FROM orders o ASOF JOIN orders p ON p.o_custkey = "
        "o.o_custkey AND o.o_orderdate >= p.o_orderdate "
        "WHERE o.o_orderkey < 40 ORDER BY o.o_orderkey",
    ),
    Probe(
        "asof_left_keeps_matchless",
        "SELECT o.o_orderkey, p.o_orderkey AS prev_key FROM orders o "
        "ASOF LEFT JOIN orders p ON p.o_custkey = o.o_custkey AND "
        "o.o_orderdate > p.o_orderdate WHERE o.o_orderkey < 60 "
        "ORDER BY o.o_orderkey",
    ),
    Probe(
        "asof_forward",
        "SELECT o.o_orderkey, n.o_orderkey AS next_key FROM orders o "
        "ASOF JOIN orders n ON n.o_custkey = o.o_custkey AND "
        "o.o_orderdate < n.o_orderdate WHERE o.o_orderkey < 40 "
        "ORDER BY o.o_orderkey",
    ),
    Probe(
        "asof_expression_probe",
        "SELECT o.o_orderkey, p.o_orderkey AS prev_key FROM orders o "
        "ASOF LEFT JOIN orders p ON p.o_custkey = o.o_custkey AND "
        "o.o_orderdate - INTERVAL 30 DAY > p.o_orderdate "
        "WHERE o.o_orderkey < 40 ORDER BY o.o_orderkey",
    ),
    Probe(
        "asof_derived_sides",
        "SELECT e.k, e.ts, px.ts AS pts FROM "
        "(SELECT o_custkey AS k, o_orderkey AS ts FROM orders "
        " WHERE o_orderkey < 200) e "
        "ASOF JOIN (SELECT o_custkey AS k, o_orderkey AS ts FROM orders "
        " WHERE o_orderkey % 3 = 0) px "
        "ON px.k = e.k AND e.ts > px.ts ORDER BY e.k, e.ts",
    ),
    Probe(
        "asof_qualified_stars",
        "SELECT e.*, px.pts FROM "
        "(SELECT o_orderkey AS id, o_custkey AS k, o_orderkey AS ts "
        " FROM orders WHERE o_orderkey < 150) e "
        "ASOF JOIN (SELECT o_custkey AS k, o_orderkey AS pts FROM orders "
        " WHERE o_orderkey % 2 = 0) px "
        "ON px.k = e.k AND e.ts > px.pts ORDER BY e.id",
    ),
    Probe(
        "asof_agg_above",
        "SELECT count(*) AS n, CAST(sum(o.o_orderkey - p.o_orderkey) "
        "AS BIGINT) AS gap_sum FROM orders o ASOF JOIN orders p ON "
        "p.o_custkey = o.o_custkey AND o.o_orderkey > p.o_orderkey "
        "WHERE o.o_orderkey < 500",
    ),
    Probe(
        "asof_keyless",
        "SELECT e.id, px.pts FROM "
        "(SELECT o_orderkey AS id FROM orders WHERE o_orderkey < 20) e "
        "ASOF JOIN (SELECT o_orderkey * 7 AS pts FROM orders "
        " WHERE o_orderkey < 5) px ON e.id >= px.pts ORDER BY e.id",
    ),
    Probe(
        "asof_right_nulls_never_match",
        "SELECT e.id, px.pts FROM "
        "(SELECT o_orderkey AS id, o_custkey AS k FROM orders "
        " WHERE o_orderkey < 100) e "
        "ASOF LEFT JOIN (SELECT o_custkey AS k, CASE WHEN o_orderkey "
        "% 2 = 0 THEN NULL ELSE o_orderkey END AS pts FROM orders "
        " WHERE o_orderkey < 300) px "
        "ON px.k = e.k AND e.id >= px.pts ORDER BY e.id",
    ),
    Probe(
        "asof_rejects_no_inequality",
        "SELECT o.o_orderkey FROM orders o ASOF JOIN orders p ON "
        "p.o_custkey = o.o_custkey",
        expect=ORACLE_INVALID,
    ),
    Probe(
        "asof_rejects_two_inequalities",
        "SELECT o.o_orderkey FROM orders o ASOF JOIN orders p ON "
        "o.o_orderdate > p.o_orderdate AND o.o_orderkey > p.o_orderkey",
        expect=ORACLE_INVALID,
    ),
    Probe(
        "asof_rejects_bare_star",
        "SELECT * FROM orders o ASOF JOIN orders p ON p.o_custkey = "
        "o.o_custkey AND o.o_orderdate > p.o_orderdate",
        expect=REJECT,
    ),
    Probe(
        "asof_rejects_after_join",
        "SELECT o.o_orderkey FROM customer c JOIN orders o ON "
        "o.o_custkey = c.c_custkey ASOF JOIN orders p ON p.o_custkey = "
        "o.o_custkey AND o.o_orderdate > p.o_orderdate",
        expect=REJECT,
    ),

    # ====================================================================
    # DuckDB CONVENIENCE DIALECT — FROM-first syntax (`FROM t [SELECT
    # ...]`), `* REPLACE (expr AS col)` in-place star replacement,
    # `COLUMNS('regex')` expansion (partial-search semantics, verified),
    # `USING SAMPLE n ROWS` (exact-count reservoir → the TABLESAMPLE
    # machinery), ORDER BY ALL composition with the new forms, and the loud
    # rejections (percent LIMIT, USING SAMPLE method parens, COLUMNS in
    # expression position, * REPLACE over a join).
    # ====================================================================
    Probe(
        "from_first_full",
        "FROM nation SELECT n_nationkey WHERE n_nationkey < 3 "
        "ORDER BY n_nationkey",
    ),
    Probe(
        "from_first_bare",
        "FROM region",
    ),
    Probe(
        "from_first_where_only",
        "FROM nation WHERE n_regionkey = 2 ORDER BY n_nationkey",
    ),
    Probe(
        "from_first_subquery",
        "SELECT t.n_nationkey FROM (FROM nation SELECT n_nationkey, "
        "n_regionkey WHERE n_regionkey < 2) t ORDER BY t.n_nationkey",
    ),
    Probe(
        "star_replace_inplace",
        "SELECT * REPLACE (n_regionkey + 100 AS n_regionkey) "
        "FROM nation WHERE n_nationkey < 3 ORDER BY n_nationkey",
    ),
    Probe(
        "star_replace_two_cols",
        "SELECT * REPLACE (upper(n_name) AS n_name, n_regionkey * 2 AS "
        "n_regionkey) FROM nation WHERE n_nationkey < 3 "
        "ORDER BY n_nationkey",
    ),
    Probe(
        "star_replace_derived",
        "SELECT * REPLACE (k + 1 AS k) FROM (SELECT n_nationkey AS k, "
        "n_name FROM nation) d ORDER BY k LIMIT 4",
    ),
    Probe(
        "columns_regex_partial",
        "SELECT columns('key') FROM nation WHERE n_nationkey < 3 "
        "ORDER BY n_nationkey",
    ),
    Probe(
        "columns_regex_anchored",
        "SELECT n_nationkey, columns('^n_name$') FROM nation "
        "WHERE n_nationkey < 3 ORDER BY n_nationkey",
    ),
    Probe(
        "using_sample_rows_count",
        "SELECT count(*) AS n FROM (SELECT * FROM nation "
        "USING SAMPLE 7 ROWS) t",
    ),
    Probe(
        "using_sample_bare_number",
        "SELECT count(*) AS n FROM (SELECT * FROM nation USING SAMPLE 5) t",
    ),
    Probe(
        "order_by_all_from_first",
        "FROM nation SELECT n_regionkey, n_nationkey "
        "WHERE n_nationkey < 6 ORDER BY ALL",
    ),
    Probe(
        "limit_percent_rejects",
        "SELECT n_nationkey FROM nation ORDER BY n_nationkey LIMIT 10%",
        expect=REJECT,
    ),
    Probe(
        "columns_in_expression_rejects",
        "SELECT min(columns('key')) FROM nation",
        expect=REJECT,
    ),
    Probe(
        "star_replace_join_rejects",
        "SELECT * REPLACE (n_regionkey + 1 AS n_regionkey) FROM nation "
        "LEFT JOIN region ON r_regionkey = n_regionkey",
        expect=REJECT,
    ),

    # ====================================================================
    # NUMERIC EXCEPTIONAL VALUES — division/modulo by zero (DuckDB reads
    # NULL; Spark's ANSI mode raises — the NULLIF(divisor, 0) lowering
    # restores the NULL contract in a spelling both engines parse), integer
    # `//` with zero divisors, inf/nan literals and propagation, NaN
    # ordering/equality (both engines treat NaN as equal-to-itself and
    # greater-than-everything), NaN through max/greatest, exp/power overflow
    # to inf, and round typing. Domain errors (sqrt(-1), ln(0)) and
    # integer-overflow are LOUD on both engines or documented loud-vs-silent
    # (see parser.py log lowering comment).
    # ====================================================================
    Probe(
        "div_by_zero_reads_null",
        "SELECT n_nationkey, n_nationkey / n_regionkey AS q "
        "FROM nation WHERE n_nationkey < 6 ORDER BY n_nationkey",
    ),
    Probe(
        "mod_by_zero_reads_null",
        "SELECT n_nationkey, n_nationkey % n_regionkey AS m, "
        "n_nationkey % 0 AS z FROM nation WHERE n_nationkey < 6 "
        "ORDER BY n_nationkey",
    ),
    Probe(
        "intdiv_by_zero_reads_null",
        "SELECT n_nationkey, n_nationkey // n_regionkey AS d "
        "FROM nation WHERE n_nationkey < 6 ORDER BY n_nationkey",
    ),
    Probe(
        "literal_zero_division",
        "SELECT 1 / 0 AS a, 1.0 / 0 AS b, 5 % 0 AS c "
        "FROM nation WHERE n_nationkey = 0",
    ),
    Probe(
        "inf_nan_literals",
        "SELECT CAST('inf' AS DOUBLE) AS a, CAST('-inf' AS DOUBLE) AS b, "
        "CAST(isnan(CAST('nan' AS DOUBLE)) AS STRING) AS c "
        "FROM nation WHERE n_nationkey = 0",
    ),
    Probe(
        "exp_power_overflow_inf",
        "SELECT exp(1000) AS a, power(0, -1) AS b, "
        "CAST(1e300 * 1e300 AS DOUBLE) AS c "
        "FROM nation WHERE n_nationkey = 0",
    ),
    Probe(
        "nan_equality_and_ordering",
        "SELECT CAST(CAST('nan' AS DOUBLE) = CAST('nan' AS DOUBLE) "
        "AS STRING) AS eq, "
        "CAST(CAST('nan' AS DOUBLE) > 1e308 AS STRING) AS gt "
        "FROM nation WHERE n_nationkey = 0",
    ),
    Probe(
        "nan_through_aggregates",
        "SELECT CAST(isnan(max(x)) AS STRING) AS m, "
        "CAST(isnan(greatest(min(x), CAST('nan' AS DOUBLE))) AS STRING) "
        "AS g FROM (SELECT CAST(CASE WHEN n_nationkey = 0 THEN 'nan' "
        "ELSE '1.5' END AS DOUBLE) AS x FROM nation) t",
    ),
    Probe(
        "nan_sorts_last_over_values",
        # CAST(inf/nan AS STRING) formats DIVERGE ('Infinity'/'NaN' on
        # Spark vs 'inf'/'nan' on DuckDB) — compare via predicates; the
        # ORDER BY pins the shared ordering: values < inf < nan
        "SELECT CASE WHEN isnan(x) THEN 'nan' "
        "WHEN x = CAST('inf' AS DOUBLE) THEN 'inf' "
        "ELSE CAST(CAST(x AS BIGINT) AS STRING) END AS xs "
        "FROM (SELECT CAST(CASE WHEN "
        "n_nationkey = 0 THEN 'nan' WHEN n_nationkey = 1 THEN 'inf' "
        "ELSE CAST(n_nationkey AS STRING) END AS DOUBLE) AS x "
        "FROM nation WHERE n_nationkey < 5) t ORDER BY x",
    ),
    Probe(
        "round_half_and_typing",
        "SELECT round(0.5) AS a, round(-0.5) AS b, round(2.675, 2) AS c, "
        "round(CAST(2.5 AS DOUBLE)) AS d FROM nation WHERE n_nationkey = 0",
    ),
    Probe(
        "float_mod_by_zero",
        "SELECT CAST(5.0 AS DOUBLE) % 0 AS a, "
        "CAST(5.5 AS DOUBLE) % CAST(2.0 AS DOUBLE) AS b "
        "FROM nation WHERE n_nationkey = 0",
    ),
    Probe(
        "div_zero_inside_aggregate",
        "SELECT CAST(count(n_nationkey / n_regionkey) AS BIGINT) AS n "
        "FROM nation",
    ),

    # ====================================================================
    # CROSS-FEATURE COMPOSITION — the round's new operators combined with
    # each other and with the existing surface, where integration bugs live:
    # PIVOT over a CTE, UNPIVOT feeding a window, ASOF over a pivot output,
    # pivot of an asof output, struct arrays with subscript-then-field
    # access, lists of structs, list functions inside join conditions,
    # FROM-first + pivot, dialect expansions under set operations, asof +
    # QUALIFY, pivot + grouping above, structs through UNION.
    # ====================================================================
    Probe(
        "pivot_over_cte",
        "WITH src AS (SELECT o_orderpriority, o_orderstatus, o_orderkey "
        "FROM orders WHERE o_orderkey < 5000) "
        "SELECT o_orderpriority, CAST(o AS BIGINT) AS o FROM ("
        "SELECT * FROM (SELECT * FROM src) "
        "PIVOT (count(o_orderkey) FOR o_orderstatus IN ('O' AS o))) "
        "ORDER BY o_orderpriority",
    ),
    Probe(
        "unpivot_feeding_window",
        "SELECT id, k, v, CAST(sum(v) OVER (PARTITION BY k ORDER BY id) "
        "AS BIGINT) AS running FROM ("
        "SELECT * FROM (SELECT n_nationkey AS id, n_regionkey AS a, "
        "n_nationkey * 3 AS b FROM nation) "
        "UNPIVOT (v FOR k IN (a, b))) "
        "ORDER BY k, id LIMIT 12",
    ),
    Probe(
        "asof_over_pivot_output",
        "SELECT e.id, CAST(px.o AS STRING) AS o_cnt FROM "
        "(SELECT o_orderkey AS id, o_custkey AS k FROM orders "
        " WHERE o_orderkey < 100) e "
        "ASOF LEFT JOIN (SELECT * FROM (SELECT o_custkey, o_orderstatus, "
        "o_orderkey FROM orders) PIVOT (max(o_orderkey) FOR "
        "o_orderstatus IN ('O' AS o))) px "
        "ON px.o_custkey = e.k AND e.id >= px.o "
        "ORDER BY e.id",
    ),
    Probe(
        "pivot_of_unpivot_roundtrip_cte",
        "WITH base AS (SELECT n_nationkey AS id, n_regionkey AS a, "
        "n_nationkey + 10 AS b FROM nation WHERE n_nationkey < 4) "
        "SELECT * FROM (SELECT * FROM base) "
        "UNPIVOT (v FOR k IN (a, b)) "
        "PIVOT (sum(v) FOR k IN ('a' AS a2, 'b' AS b2)) "
        "ORDER BY id",
    ),
    Probe(
        "struct_array_subscript_field",
        "SELECT ([{'a': n_nationkey}, {'a': n_regionkey}])[2].a AS v "
        "FROM nation WHERE n_nationkey < 3 ORDER BY v",
    ),
    Probe(
        "list_of_structs_in_case",
        "SELECT CASE WHEN n_regionkey > 2 THEN [{'x': 1}] "
        "ELSE [{'x': 0}] END[1].x AS v FROM nation "
        "WHERE n_nationkey < 4 ORDER BY n_nationkey",
    ),
    Probe(
        "list_fn_in_join_condition",
        "SELECT n.n_nationkey, r.r_regionkey FROM nation n "
        "JOIN region r ON list_contains([0, 1, n.n_regionkey], "
        "r.r_regionkey) AND r.r_regionkey = n.n_regionkey "
        "ORDER BY n.n_nationkey",
    ),
    Probe(
        "from_first_pivot",
        "FROM (SELECT n_regionkey, n_nationkey FROM nation) "
        "PIVOT (count(n_nationkey) FOR n_regionkey IN (0 AS r0, 1 AS r1)) "
        "SELECT CAST(r0 AS BIGINT) AS r0, CAST(r1 AS BIGINT) AS r1",
    ),
    Probe(
        "columns_under_union",
        "SELECT columns('key') FROM nation WHERE n_nationkey < 2 "
        "UNION ALL SELECT columns('key') FROM nation "
        "WHERE n_nationkey BETWEEN 5 AND 6 ORDER BY 1, 2",
    ),
    Probe(
        "asof_then_qualify",
        "SELECT o.o_orderkey, CAST(p.o_orderkey AS STRING) AS prev_key "
        "FROM orders o ASOF JOIN orders p ON p.o_custkey = o.o_custkey "
        "AND o.o_orderdate > p.o_orderdate "
        "QUALIFY row_number() OVER (PARTITION BY o.o_custkey "
        "ORDER BY o.o_orderkey) = 1 "
        "ORDER BY o.o_orderkey LIMIT 10",
    ),
    Probe(
        "grouping_above_pivot",
        "SELECT CAST(sum(o) AS BIGINT) AS total_open FROM ("
        "SELECT CAST(o AS DOUBLE) AS o FROM ("
        "SELECT * FROM (SELECT o_orderpriority, o_orderstatus, "
        "o_orderkey FROM orders) PIVOT (count(o_orderkey) FOR "
        "o_orderstatus IN ('O' AS o))))",
    ),
    Probe(
        "structs_through_union",
        "SELECT s.a AS a FROM (SELECT {'a': n_nationkey} AS s FROM "
        "nation WHERE n_nationkey < 2 UNION ALL "
        "SELECT {'a': n_nationkey + 100} FROM nation "
        "WHERE n_nationkey < 2) t ORDER BY a",
    ),
    Probe(
        "list_sum_of_unpivot_group",
        "SELECT k, CAST(list_sum(list_sort(array_agg(v))) AS BIGINT) "
        "AS s FROM (SELECT * FROM (SELECT n_nationkey AS id, "
        "n_regionkey AS a, n_nationkey AS b FROM nation) "
        "UNPIVOT (v FOR k IN (a, b))) GROUP BY k ORDER BY k",
    ),

    # ====================================================================
    # ORDERED/STATISTICAL aggregates — first/last with in-call ORDER BY (→
    # min_by/max_by over a null-marker struct; NULL keys sort LAST so they
    # LOSE for the traversal-start picker and WIN for the traversal-end one,
    # matching DuckDB's in-call default), kurtosis_pop (≡ Spark's kurtosis —
    # verified), the SAMPLE-vs-POPULATION skewness/kurtosis divergence (loud
    # rejections: 4.27 vs 0.068 on a 5-row probe), mad/entropy/favg
    # rejections, any_value/bit_count/approx_count_distinct parity, and
    # list(... ORDER BY) FILTER.
    # ====================================================================
    Probe(
        "first_last_ordered",
        "SELECT n_regionkey, first(n_name ORDER BY n_nationkey) AS f, "
        "last(n_name ORDER BY n_nationkey) AS l FROM nation "
        "GROUP BY n_regionkey ORDER BY n_regionkey",
    ),
    Probe(
        "first_last_ordered_desc",
        "SELECT n_regionkey, first(n_name ORDER BY n_nationkey DESC) "
        "AS f, last(n_name ORDER BY n_nationkey DESC) AS l FROM nation "
        "GROUP BY n_regionkey ORDER BY n_regionkey",
    ),
    Probe(
        "first_multikey",
        "SELECT first(o_orderkey ORDER BY o_orderdate, o_orderkey) AS f, "
        "last(o_orderkey ORDER BY o_orderdate, o_orderkey) AS l "
        "FROM orders",
    ),
    Probe(
        "first_last_null_keys",
        # exactly ONE NULL key — the tie-free shape (ties among equal
        # keys are arbitrary on BOTH engines)
        "SELECT last(n_name ORDER BY CASE WHEN n_nationkey = 7 THEN "
        "NULL ELSE n_nationkey END) AS l, first(n_name ORDER BY CASE "
        "WHEN n_nationkey = 7 THEN NULL ELSE n_nationkey END) AS f "
        "FROM nation",
    ),
    Probe(
        "first_last_null_keys_desc",
        "SELECT last(n_name ORDER BY CASE WHEN n_nationkey = 7 THEN "
        "NULL ELSE n_nationkey END DESC) AS l, first(n_name ORDER BY "
        "CASE WHEN n_nationkey = 7 THEN NULL ELSE n_nationkey END DESC) "
        "AS f FROM nation",
    ),
    Probe(
        "kurtosis_pop_parity",
        "SELECT round(kurtosis_pop(n_nationkey), 8) AS k FROM nation",
    ),
    Probe(
        "any_value_bitcount",
        "SELECT any_value(n_regionkey) AS av, "
        "CAST(bit_count(CAST(7 AS BIGINT)) AS BIGINT) AS bc "
        "FROM nation WHERE n_nationkey = 3",
    ),
    Probe(
        "approx_distinct_small_exact",
        # both sketches are exact at tiny cardinalities
        "SELECT CAST(approx_count_distinct(n_regionkey) AS BIGINT) AS a "
        "FROM nation",
    ),
    Probe(
        "list_ordered_filter",
        "SELECT CAST(list(n_nationkey ORDER BY n_nationkey DESC) "
        "FILTER (WHERE n_regionkey = 0) AS STRING) AS l FROM nation",
        expect=REJECT,
    ),
    Probe(
        "kurtosis_sample_rejects",
        "SELECT kurtosis(n_nationkey) AS k FROM nation",
        expect=REJECT,
    ),
    Probe(
        "skewness_sample_rejects",
        "SELECT skewness(n_nationkey) AS s FROM nation",
        expect=REJECT,
    ),
    Probe(
        "mad_rejects",
        "SELECT mad(n_nationkey) AS m FROM nation",
        expect=REJECT,
    ),
    Probe(
        "entropy_rejects",
        "SELECT entropy(n_regionkey) AS e FROM nation",
        expect=REJECT,
    ),
)
