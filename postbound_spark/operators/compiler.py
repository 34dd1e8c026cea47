"""Compile a :mod:`postbound_spark.plans.relalg` tree to a Spark DataFrame.

The compiler is deliberately thin: each logical node maps to exactly one
DataFrame transformation (the mapping table of SURVEY.md §2.1), and every
declarative decision — predicate pushdown, column pruning, join algorithm,
exchange placement — is left to Catalyst. The reference's equivalent step is
the inverse direction (SQL → algebra, relalg.py:4266 ``parse_relalg``); here
the algebra is the user-facing plan language and Spark is the executor.

Join order is preserved *by construction*: the tree shape IS the join order,
which is exactly how the optimizer-instrumentation layer
(:mod:`postbound_spark.optimizer`) enforces a ``JoinTree`` decision
(ref: PostBOUND enforces order via pg_hint_plan ``Leading`` hints,
postgres.py:2210 — in Spark we simply build in order and optionally pin the
algorithm with a per-join hint).
"""

from __future__ import annotations

import re

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from postbound_spark.plans import relalg as ra


def _to_spark_array_calls(text: str) -> str:
    """Postgres ``ARRAY[...]`` constructors → Spark ``array(...)`` calls.

    The IR keeps the Postgres spelling (DuckDB-ready, reference parity:
    ArrayExpression qal/_qal.py:1099); Spark's parser only accepts the
    call form. Single literal-aware scan with a bracket stack, so nested
    constructors, subscripts inside a constructor (``array[x[1], y]``)
    and ``]`` inside string literals all convert correctly — the flat
    regex the unnest path used could not see through those."""
    if "[" not in text:
        return text
    out: list[str] = []
    stack: list[str] = []  # "array" | "plain" per open bracket
    i, n = 0, len(text)
    low = text.lower()
    while i < n:
        ch = text[i]
        if ch == "'":  # string literal with '' escapes — copy verbatim
            j = i + 1
            while j < n:
                if text[j] == "'":
                    if j + 1 < n and text[j + 1] == "'":
                        j += 2
                        continue
                    break
                j += 1
            out.append(text[i : j + 1])
            i = j + 1
            continue
        if (
            low.startswith("array[", i)
            and (i == 0 or not (text[i - 1].isalnum() or text[i - 1] in "_$"))
        ):
            out.append("array(")
            stack.append("array")
            i += 6
            continue
        if ch == "[":
            out.append("[")
            stack.append("plain")
            i += 1
            continue
        if ch == "]" and stack:
            out.append(")" if stack.pop() == "array" else "]")
            i += 1
            continue
        out.append(ch)
        i += 1
    return "".join(out)


_STRING_LIT_RE = re.compile(r"'(?:[^']|'')*'")
#: length-less character types: ANSI/Postgres/DuckDB treat bare VARCHAR /
#: TEXT as an unbounded string; Spark's parser demands VARCHAR(n), so the
#: bare spellings map to STRING at the expression boundary. The rewrite is
#: anchored to cast-target position ONLY — ``CAST(… AS text)`` at the
#: cast's own paren depth and the ``x::text`` spelling — so a column named
#: ``text``/``varchar`` or an ``… AS text`` output alias is left alone.
_BARE_CHARTYPE_RE = re.compile(r"\b(varchar|text)\b(?!\s*\()", re.I)
_CAST_OPEN_RE = re.compile(r"\b(?:try_)?cast\s*\(", re.I)
_COLONCOLON_TYPE_RE = re.compile(r"(::\s*)(varchar|text)\b(?!\s*\()", re.I)
_AS_TYPE_RE = re.compile(r"\bas\s+(varchar|text)\b(?!\s*\()", re.I)


def _to_spark_chartypes(text: str) -> str:
    if not _BARE_CHARTYPE_RE.search(text) and "::" not in text:
        return text
    # positions come from the literal-blanked shadow (same length, literal
    # bodies spaced out) so quoted 'text' never matches and cast-body scans
    # can still cross a literal argument; replacements apply to the original
    blanked = _STRING_LIT_RE.sub(lambda m: " " * len(m.group(0)), text)
    spans: set[tuple[int, int]] = set()
    for m in _COLONCOLON_TYPE_RE.finditer(blanked):
        spans.add((m.start(2), m.end(2)))
    for m in _CAST_OPEN_RE.finditer(blanked):
        start = m.end()  # just past the cast's open paren
        depth, i = 1, start
        while i < len(blanked):
            c = blanked[i]
            if c == "(":
                depth += 1
            elif c == ")":
                depth -= 1
                if depth == 0:
                    break
            i += 1
        body = blanked[start:i]
        for t in _AS_TYPE_RE.finditer(body):
            prefix = body[: t.start()]
            # depth 0 relative to this cast's parens — an ``AS text`` in a
            # nested subquery (an alias) is deeper and stays untouched;
            # nested casts get their own pass from the outer finditer
            if prefix.count("(") == prefix.count(")"):
                spans.add((start + t.start(1), start + t.end(1)))
    if not spans:
        return text
    out: list[str] = []
    pos = 0
    for s, e in sorted(spans):
        out.append(text[pos:s])
        out.append("STRING")
        pos = e
    out.append(text[pos:])
    return "".join(out)


def _to_spark_ansi_literals(text: str) -> str:
    """ANSI string literals → Spark's escaped literals: double every
    backslash INSIDE a string literal. The IR's literal semantics are
    ANSI (backslash is an ordinary character, '' is the only escape —
    what DuckDB/Postgres read), while Spark's parser applies Java-style
    backslash escapes by default, so `'\\s+'` silently became `'s+'`
    and a trailing `'\\'` broke the parse (wave-6 probe find)."""
    if "\\" not in text:
        return text
    out: list[str] = []
    pos = 0
    for m in _STRING_LIT_RE.finditer(text):
        out.append(text[pos : m.start()])
        out.append(m.group(0).replace("\\", "\\\\"))
        pos = m.end()
    out.append(text[pos:])
    return "".join(out)


def _expr(text: str):
    """``F.expr`` over IR expression text (applies the array-literal,
    length-less-character-type, and ANSI-literal spelling conversions —
    the Spark-dialect gaps in the IR's otherwise ANSI expression
    surface)."""
    return F.expr(
        _to_spark_chartypes(
            _to_spark_array_calls(_to_spark_ansi_literals(text))
        )
    )


def _contains_recursive_ref(node: ra.RelNode) -> bool:
    """True when any descendant is a RecursiveRef — such a subtree reads
    the recursion's working table and must never be memoized."""
    if isinstance(node, ra.RecursiveRef):
        return True
    return any(_contains_recursive_ref(c) for c in node.children())


class _Compiler(ra.RelNodeVisitor):
    def __init__(
        self,
        spark: SparkSession,
        catalog: dict[str, DataFrame] | None,
        selection=None,
        materialized_memo: dict | None = None,
        leaves: dict | None = None,
    ):
        self.spark = spark
        self.catalog = catalog or {}
        #: optional caller-owned memo of filtered base-table leaves
        #: (Selection over a named Relation), keyed by node value: the
        #: plans a caller compiles for one query share each leaf frame
        self._leaves = leaves
        #: optional per-join build-side policy (e.g. MeasuredJoinPolicy) —
        #: the PhysicalOperatorSelection hook of the compile path; explicit
        #: node hints always win over the policy
        self.selection = selection
        #: MATERIALIZED-CTE share table: compiled frames memoized by node
        #: VALUE (frozen dataclasses hash structurally), so every reference
        #: to the same CTE returns the SAME cached DataFrame object and the
        #: cache is populated once. A caller-supplied memo extends the
        #: sharing across compilations (the facade's opt-in session cache)
        self._materialized: dict[ra.Materialize, DataFrame] = (
            materialized_memo if materialized_memo is not None else {}
        )
        #: WITH RECURSIVE working tables, keyed by CTE name — bound by
        #: visit_recursiveunion around each step compilation so that
        #: RecursiveRef leaves resolve to the previous iteration's rows
        self._recursive_frames: dict[str, DataFrame] = {}

    def _compile(self, node: ra.RelNode) -> DataFrame:
        return node.accept(self)

    # --- leaves -----------------------------------------------------------
    def visit_relation(self, node: ra.Relation) -> DataFrame:
        if node.table is not None:
            df = self.catalog.get(node.table)
            if df is None:
                df = self.spark.table(node.table)
        else:
            df = self._compile(node.subquery)
        return df.alias(node.alias) if node.alias else df

    def visit_values(self, node: ra.Values) -> DataFrame:
        rendered = ", ".join("(" + ", ".join(row) + ")" for row in node.rows)
        cols = f"({', '.join(node.columns)})" if node.columns else ""
        alias = node.alias or "v"
        df = self.spark.sql(f"SELECT * FROM (VALUES {rendered}) AS {alias}{cols}")
        return df.alias(alias)

    def visit_tablefunction(self, node: ra.TableFunction) -> DataFrame:
        alias = node.alias or "t"
        inner = ", ".join(node.args)
        if node.function == "range":
            # range() is Spark's TVF — a distributed generator, arguments
            # may be constant-foldable expressions (the generate_series hi+1)
            sql = f"SELECT * FROM range({inner}) AS {alias}({node.column})"
        elif node.function == "unnest":
            # ANSI/Postgres unnest → Spark's explode TVF (same set-returning
            # semantics; ref FunctionTableSource qal/_qal.py:6584). The IR
            # keeps the Postgres ARRAY[...] literal spelling (DuckDB-ready);
            # Spark spells it array(...) — the literal-aware converter
            # handles nested constructors and string-literal elements the
            # old flat regex had to refuse
            inner = _to_spark_array_calls(inner)
            sql = f"SELECT * FROM explode({inner}) AS {alias}({node.column})"
        else:
            raise NotImplementedError(f"table function {node.function!r}")
        return self.spark.sql(sql).alias(alias)

    def visit_singlerow(self, node: ra.SingleRow) -> DataFrame:
        return self.spark.range(1).select()

    def visit_materialize(self, node: ra.Materialize) -> DataFrame:
        # `WITH name AS MATERIALIZED (…)` → df.cache(): lazy like the
        # reference's flag (nothing runs until a consumer does), shared
        # across references via the value-keyed memo, and executor-local
        # after the first action — at cluster scale this is what stops a
        # reused CTE from being recomputed per reference
        if _contains_recursive_ref(node.child):
            # a materialized subtree that reads the recursive WORKING
            # TABLE must re-evaluate every iteration — the value-keyed
            # memo would freeze iteration 1's rows (same node value each
            # pass) and silently corrupt the fixpoint
            return self._compile(node.child)
        cached = self._materialized.get(node)
        if cached is None:
            cached = self._compile(node.child).cache()
            self._materialized[node] = cached
        return cached

    # --- unary ------------------------------------------------------------
    def visit_selection(self, node: ra.Selection) -> DataFrame:
        leaf = (
            self._leaves is not None
            and isinstance(node.child, ra.Relation)
            and node.child.table is not None
        )
        if leaf and node in self._leaves:
            return self._leaves[node]
        df = self._compile(node.child).filter(_expr(node.predicate))
        if leaf:
            self._leaves[node] = df
        return df

    def visit_projection(self, node: ra.Projection) -> DataFrame:
        return self._compile(node.child).select(*(_expr(c) for c in node.columns))

    def visit_map(self, node: ra.Map) -> DataFrame:
        df = self._compile(node.child)
        return df.withColumns({name: _expr(expr) for name, expr in node.expressions})

    def visit_rename(self, node: ra.Rename) -> DataFrame:
        return self._compile(node.child).withColumnsRenamed(dict(node.mapping))

    def visit_duplicateelimination(self, node: ra.DuplicateElimination) -> DataFrame:
        return self._compile(node.child).distinct()

    def visit_sort(self, node: ra.Sort) -> DataFrame:
        cols = []
        for key in node.keys:
            col = _expr(key.expression)
            # DEFAULT null placement is NULLS LAST for BOTH directions —
            # DuckDB's documented default (default_null_order), and what
            # the oracle gate compares against. Spark's own default for
            # ASC is NULLS FIRST, which returned the NULL rows under
            # `ORDER BY k LIMIT n` where DuckDB returns values (silent
            # wrong results — round-10 probe find, pinned). Known,
            # documented divergence: Postgres defaults DESC to NULLS
            # FIRST; spell NULLS FIRST explicitly for that behavior.
            nulls_first = (
                key.nulls_first if key.nulls_first is not None else False
            )
            if key.ascending:
                col = (
                    col.asc_nulls_first() if nulls_first else col.asc_nulls_last()
                )
            else:
                col = (
                    col.desc_nulls_first() if nulls_first else col.desc_nulls_last()
                )
            cols.append(col)
        return self._compile(node.child).orderBy(*cols)

    def visit_grouping(self, node: ra.Grouping) -> DataFrame:
        df = self._compile(node.child)
        aggs = [_expr(expr).alias(name) for name, expr in node.aggregates]
        if not node.keys:
            return df.agg(*aggs)
        if not aggs:
            # pure dedup-grouping (ref: relalg.py:1386-1389)
            return df.select(*(_expr(k) for k in node.keys)).distinct()
        return df.groupBy(*(_expr(k) for k in node.keys)).agg(*aggs)

    def visit_subqueryscan(self, node: ra.SubqueryScan) -> DataFrame:
        df = self._compile(node.child)
        return df.alias(node.alias) if node.alias else df

    def visit_limit(self, node: ra.Limit) -> DataFrame:
        df = self._compile(node.child)
        if node.offset:
            df = df.offset(node.offset)
        if node.limit is not None:
            df = df.limit(node.limit)
        return df

    # --- binary -----------------------------------------------------------
    def _join_sides(self, node) -> tuple[DataFrame, DataFrame]:
        left = self._compile(node.left)
        right = self._compile(node.right)
        if getattr(node, "hint", None):
            # hint-side placement IS build-side forcing: Spark builds on
            # the hinted child (ref DirectionalJoinAssignment)
            if getattr(node, "hint_side", "right") == "left":
                left = left.hint(node.hint)
            else:
                right = right.hint(node.hint)
        return left, right

    def visit_thetajoin(self, node: ra.ThetaJoin) -> DataFrame:
        left, right = self._join_sides(node)
        # the selection policy only speaks when the node carries no explicit
        # hint, and only for inner joins (Spark can only broadcast the
        # non-null-producing side of an outer join — let Catalyst police that)
        if (
            self.selection is not None
            and not getattr(node, "hint", None)
            and node.how == "inner"
        ):
            side = self.selection.decide(node, left, right)
            if side == "left":
                left = left.hint("broadcast")
            elif side == "right":
                right = right.hint("broadcast")
            elif side == "shuffle":
                # neither side measured small but the static planner might
                # still broadcast one from a stale estimate — pin the
                # shuffle family (Spark ignores merge on non-equi joins
                # with a warning, which is the right degradation)
                right = right.hint("merge")
        return left.join(right, on=_expr(node.predicate), how=node.how)

    def visit_asofjoin(self, node: ra.AsofJoin) -> DataFrame:
        """ASOF [LEFT] JOIN via the union–window composition (the same
        algorithm as ``operators/temporal.asof_join``): tag both sides,
        union, ONE shuffle on the match keys, per-partition sort,
        ``last(payload, ignorenulls)`` — never an inequality
        BroadcastNestedLoop, never a within-key pairs blow-up.

        Output shape: one STRUCT column per side, named by its alias —
        downstream qualified references (``probe.c``, ``right.c``) and
        qualified stars resolve as Spark struct-field access. Right rows
        with a NULL ordering value or NULL key can never match (SQL ASOF
        contract) and are excluded up front. Tie handling: at an exactly
        equal ordering value the right row is visible unless the
        inequality is strict; ties among right rows resolve by the
        payload struct (deterministic, where DuckDB's pick is
        scan-order-dependent). A keyless ASOF (no equality conjuncts)
        degrades to a single-partition window — correct, but partition
        by a key at scale."""
        from pyspark.sql import Window

        left = self._compile(node.left)
        right = self._compile(node.right)
        lcols = list(left.columns)
        rcols = list(right.columns)
        keys = [f"__ak{i}" for i in range(len(node.eqs))]

        not_null = F.expr(node.right_ord).isNotNull()
        for _p, r_sql in node.eqs:
            not_null = not_null & F.expr(r_sql).isNotNull()
        payload = F.struct(*[F.col(c) for c in rcols])
        # right rows sort before left at equal ordering values (tag 0 <
        # 1) so an exactly-simultaneous right row IS visible; a STRICT
        # inequality flips the right tag past the left instead (2 > 1)
        r2 = right.filter(not_null).select(
            *[
                F.expr(r_sql).alias(k)
                for k, (_p, r_sql) in zip(keys, node.eqs)
            ],
            F.expr(node.right_ord).alias("__ats"),
            F.lit(2 if node.strict else 0).alias("__tag"),
            payload.alias("__payload"),
            *[
                F.lit(None).cast(f.dataType).alias(f"__l_{f.name}")
                for f in left.schema.fields
            ],
        )
        l2 = left.select(
            *[
                F.expr(p_sql).alias(k)
                for k, (p_sql, _r) in zip(keys, node.eqs)
            ],
            F.expr(node.probe).alias("__ats"),
            F.lit(1).alias("__tag"),
            F.lit(None)
            .cast(r2.schema["__payload"].dataType)
            .alias("__payload"),
            *[F.col(c).alias(f"__l_{c}") for c in lcols],
        )
        # FORWARD asof (probe <= right.ord) traverses time reversed: the
        # running "last seen right" is then the EARLIEST at-or-after
        order = [
            F.desc("__ats") if node.forward else F.asc("__ats"),
            F.col("__tag"),
            F.col("__payload"),
        ]
        w = (
            Window.partitionBy(*keys)
            .orderBy(*order)
            .rowsBetween(Window.unboundedPreceding, 0)
        )
        matched = (
            l2.unionByName(r2)
            .withColumn("__m", F.last("__payload", ignorenulls=True).over(w))
            .filter(F.col("__tag") == 1)
        )
        if node.how == "inner":
            matched = matched.filter(F.col("__m").isNotNull())
        elif node.how != "left":
            raise ValueError(f"ASOF join how={node.how!r} is not supported")
        left_struct = F.struct(
            *[F.col(f"__l_{c}").alias(c) for c in lcols]
        ).alias(node.left_alias)
        return matched.select(left_struct, F.col("__m").alias(node.right_alias))

    def visit_naturaljoin(self, node: ra.NaturalJoin) -> DataFrame:
        left, right = self._join_sides(node)
        if node.using:
            missing = [
                c for c in node.using
                if c not in left.columns or c not in right.columns
            ]
            if missing:
                raise ValueError(f"USING columns absent from a join side: {missing}")
            common = list(node.using)
        else:
            common = [c for c in left.columns if c in set(right.columns)]
            if not common:
                raise ValueError("NATURAL JOIN requires shared column names")
        # joining on a name list makes Spark emit the shared keys once —
        # exactly SQL's NATURAL/USING output column rules
        return left.join(right, on=common, how=node.how)

    def visit_drop(self, node: ra.Drop) -> DataFrame:
        return self._compile(node.child).drop(*node.columns)

    def visit_crossproduct(self, node: ra.CrossProduct) -> DataFrame:
        left, right = self._join_sides(node)
        return left.crossJoin(right)

    def visit_semijoin(self, node: ra.SemiJoin) -> DataFrame:
        left, right = self._join_sides(node)
        return left.join(right, on=_expr(node.predicate), how="left_semi")

    def visit_antijoin(self, node: ra.AntiJoin) -> DataFrame:
        left, right = self._join_sides(node)
        return left.join(right, on=_expr(node.predicate), how="left_anti")

    def visit_sample(self, node: ra.Sample) -> DataFrame:
        df = self._compile(node.child)
        if node.rows is not None:
            # TABLESAMPLE (n ROWS) — Spark's own SQL semantics: an n-row
            # cut, not a randomized pick
            return df.limit(node.rows)
        return df.sample(
            fraction=(node.percent or 0.0) / 100.0, seed=node.seed
        )

    def visit_recursiveref(self, node: ra.RecursiveRef) -> DataFrame:
        df = self._recursive_frames.get(node.name)
        if df is None:
            raise RuntimeError(
                f"recursive reference {node.name!r} outside its fixpoint"
            )
        return df.alias(node.alias) if node.alias else df

    def visit_recursiveunion(self, node: ra.RecursiveUnion) -> DataFrame:
        """WITH RECURSIVE fixpoint — the iterative driver loop that is
        Spark's canonical recursion shape (same pattern as the engine's
        connected-components rollup, queries/pipeline.py). Scale notes:
        every intermediate is ``localCheckpoint(eager=True)``-ed so
        lineage stays O(1) per iteration instead of growing into an
        exponential re-execution tree; the UNION-distinct dedup
        (``step.distinct().subtract(seen)``) is the ANSI cycle guard and
        shuffles only the step's output, never the accumulated result's
        lineage. Termination: empty step (both forms) or no NEW rows
        (UNION); ``max_iterations`` turns a non-converging UNION ALL
        into a loud error instead of a silent truncation."""
        seed = self._compile(node.base)
        if node.distinct:
            seed = seed.distinct()
        seed = seed.localCheckpoint(eager=True)
        result = seed
        working = seed
        # the +1th pass is the convergence CHECK: after exactly
        # max_iterations productive steps the fixpoint may already have
        # closed, which only the next step's emptiness can prove — raise
        # solely when that extra step still produces rows
        for i in range(node.max_iterations + 1):
            if working.isEmpty():
                break
            prev = self._recursive_frames.get(node.name)
            self._recursive_frames[node.name] = working
            try:
                step = self._compile(node.step)
            finally:
                if prev is None:
                    self._recursive_frames.pop(node.name, None)
                else:
                    self._recursive_frames[node.name] = prev
            # ANSI set-operation semantics: operands combine BY POSITION,
            # and the working table keeps the base term's column names —
            # without this a step like `SELECT n + 1 FROM seq` would feed
            # iteration 2 a column named `(n + 1)`
            step = step.toDF(*seed.columns)
            if node.distinct:
                step = step.distinct().subtract(result)
            new = step.localCheckpoint(eager=True)
            if new.isEmpty():
                break
            if i == node.max_iterations:
                raise RuntimeError(
                    f"recursive CTE {node.name!r} did not converge within "
                    f"{node.max_iterations} iterations — raise "
                    "RecursiveUnion.max_iterations if the depth is intended"
                )
            result = result.union(new)
            working = new
        return result

    def visit_union(self, node: ra.Union) -> DataFrame:
        out = self._compile(node.left).union(self._compile(node.right))
        return out.distinct() if node.distinct else out

    def visit_intersection(self, node: ra.Intersection) -> DataFrame:
        left, right = self._compile(node.left), self._compile(node.right)
        # bag semantics (INTERSECT ALL, extension) → native intersectAll;
        # both forms are a single left-semi-style hash join under Catalyst
        return left.intersect(right) if node.distinct else left.intersectAll(right)

    def visit_difference(self, node: ra.Difference) -> DataFrame:
        # set semantics (ref: relalg.py:893) — Spark's subtract == EXCEPT DISTINCT;
        # bag semantics (EXCEPT ALL, extension) → count-difference form
        left, right = self._compile(node.left), self._compile(node.right)
        if node.distinct:
            return left.subtract(right)
        return _bag_except_all(left, right)


def _bag_except_all(left: DataFrame, right: DataFrame) -> DataFrame:
    """EXCEPT ALL via the count-difference form (round-10, verdict item 5
    measured at ×100: median 1.59 s vs 2.34 s for Spark's union-rewrite —
    experiments/results/bag_setops_countform.json + the interleaved A/B
    rerun). Spark's own RewriteExceptAll unions BOTH inputs' full rows
    into one exchange before counting; this form partial-aggregates each
    side to (value, count) FIRST, so the value-keyed join moves two
    already-compacted frames, and a skewed duplicate value rides the
    aggregation (map-side combine) instead of replicating join rows.
    Replication back to bag multiplicities is a two-level explode so the
    materialized sequence array stays bounded even for a value duplicated
    10^8 times (Spark's replicaterows streams; one flat sequence() would
    materialize the whole array per row). NULL rows compare equal, same
    as the native op (groupBy groups them; the join is null-safe)."""
    cols = list(left.columns)
    if len(set(cols)) != len(cols):
        # duplicate output names make the per-column join ambiguous —
        # fall back to the native rewrite for this (degenerate) shape
        return left.exceptAll(right)
    right = right.toDF(*cols)  # ANSI: set operands combine BY POSITION
    lc = left.groupBy(*cols).agg(F.count(F.lit(1)).alias("__ea_lc"))
    rc = right.groupBy(*cols).agg(F.count(F.lit(1)).alias("__ea_rc"))
    cond = lc[cols[0]].eqNullSafe(rc[cols[0]])
    for c in cols[1:]:
        cond = cond & lc[c].eqNullSafe(rc[c])
    j = lc.join(rc, cond, "left").select(
        *[lc[c] for c in cols], lc["__ea_lc"], rc["__ea_rc"]
    )
    j = j.withColumn(
        "__ea_n", F.col("__ea_lc") - F.coalesce(F.col("__ea_rc"), F.lit(0))
    ).where(F.col("__ea_n") > 0)
    batch = 10_000
    j = j.withColumn(
        "__ea_o",
        F.explode(
            F.sequence(F.lit(0), F.floor((F.col("__ea_n") - 1) / batch))
        ),
    )
    j = j.withColumn(
        "__ea_i",
        F.explode(
            F.sequence(
                F.lit(1),
                F.least(
                    F.lit(batch),
                    F.col("__ea_n") - F.col("__ea_o") * batch,
                ),
            )
        ),
    )
    return j.select(*cols)


def compile_plan(
    node: ra.RelNode,
    spark: SparkSession,
    catalog: dict[str, DataFrame] | None = None,
    selection=None,
    materialized_out: list[DataFrame] | None = None,
    materialized_memo: dict | None = None,
    leaves: dict | None = None,
) -> DataFrame:
    """Compile ``node`` to a DataFrame. ``catalog`` maps table names to
    DataFrames; missing names fall back to ``spark.table`` (temp views).
    ``selection`` optionally supplies a per-join build-side policy (e.g.
    :class:`postbound_spark.optimizer.selection.MeasuredJoinPolicy`) — the
    operator-selection stage of the compile path; explicit node hints
    always take precedence.

    ``materialized_out``, if given, receives the ``cache()``\\ d frames of
    any MATERIALIZED CTEs in the plan so the CALLER can ``unpersist()``
    them once the result is consumed — statement-scoped cache lifecycle
    (the facade does this per execute_query); without it the caches live
    until Spark's LRU eviction, which creeps executor memory in
    long-lived sessions issuing many MATERIALIZED-CTE statements.

    ``materialized_memo`` instead SHARES the MATERIALIZED-CTE cache table
    across compile_plan calls (value-keyed Materialize nodes): identical
    CTEs in later statements reuse the cached frame — the multi-action
    case where ``cache()`` actually pays. The memo's owner is
    responsible for unpersisting (the facade's ``release()``).

    ``leaves``, if given, memoizes each filtered base-table leaf (a
    Selection directly over a named Relation) by node value across
    compile_plan calls: a caller compiling several plans of ONE query
    (the optimizer loop's strategies) builds each leaf frame once. The
    frames depend on ``catalog``, so keep one memo per query and
    catalog."""
    bind = getattr(selection, "bind_root", None)
    if bind is not None:
        # pruning-aware build-side widths: the policy sizes each side at
        # the width of the columns referenced OUTSIDE its subtree (what
        # the broadcast relation will actually store after Catalyst's
        # column pruning), which needs the whole plan, not just the join
        bind(node)
    compiler = _Compiler(spark, catalog, selection, materialized_memo, leaves)
    df = compiler._compile(node)
    if materialized_out is not None:
        materialized_out.extend(compiler._materialized.values())
    return df
