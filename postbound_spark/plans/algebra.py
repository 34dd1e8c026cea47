"""qal IR → relational algebra: the engine's ``parse_relalg``.

Re-expresses the reference's SQL→algebra conversion
(rbergm/PostBOUND ``postbound/relalg.py``: ``parse_relalg`` :4266,
``_ImplicitRelalgParser`` :3288, subquery detection ``_SubqueryDetector``
:2866, expression-phase placement ``EvaluationPhase`` :2813-3287) for this
engine's compact IR. Combined with :mod:`postbound_spark.plans.parser` and
:mod:`postbound_spark.operators.compiler`, it completes the fully native
pipeline::

    SQL text --parse_query--> qal IR --parse_relalg--> RelNode tree
             --compile_plan--> DataFrame --Catalyst--> execution

i.e. a query runs through the engine without ever calling ``spark.sql`` on
the original text; Catalyst still performs expression analysis and physical
planning (Spark-first: the algebra is *logical* structure, never a
hand-scheduled physical plan).

Placement rules mirror the reference's phase machinery:

- single-table conjuncts → ``Selection`` directly above the base relation
  (BaseTable phase — the placement that lets Catalyst push filters into the
  parquet scan before any join);
- two-table conjuncts → ``ThetaJoin`` conditions, folded left-deep in FROM
  order (or a caller-provided join order — the enforcement hook the
  optimizer stages use);
- remaining conjuncts → post-join ``Selection`` (Join/PostJoin phase);
- ``IN (subquery)`` / ``EXISTS`` conjuncts → ``SemiJoin``; negated forms →
  ``AntiJoin``, with NOT IN phrased null-aware (``(l = r) OR isnull(l = r)``
  — Catalyst plans this as a null-aware anti join);
- group keys are pre-computed by a ``Map`` when they are expressions
  (the reference inserts Map before Grouping the same way,
  relalg.py:2719-2812); aggregate calls inside SELECT/HAVING/ORDER BY are
  computed in ``Grouping`` under synthetic names and the consuming texts
  rewritten (PostAggregation phase).

Scope: implicit-FROM SELECT queries (the research-workload shape the
reference's relalg layer itself supports — inner semantics only,
relalg.py:1550). Set queries compile via ``Union``/``Intersection``/
``Difference`` over their operand trees.
"""

from __future__ import annotations

import itertools
import re
import threading
from dataclasses import replace

from postbound_spark.plans import qal as Q
from postbound_spark.plans import relalg as ra
from postbound_spark.plans.parser import UnsupportedSqlError

__all__ = ["parse_relalg", "AGGREGATE_FUNCTIONS"]

# The reference's recognized aggregate set (AggregateFunctions,
# qal/_qal.py:770-792) plus the Spark spellings the engine maps them to.
AGGREGATE_FUNCTIONS = frozenset({
    "count", "sum", "min", "max", "avg", "every", "corr", "stddev",
    "any_value", "array_agg", "collect_list", "collect_set", "bit_and",
    "bit_or", "bit_xor", "bool_and", "bool_or", "string_agg", "json_agg",
    "stddev_pop", "stddev_samp", "var_pop", "var_samp", "variance",
    "approx_count_distinct", "first", "last", "mean", "median", "mode",
    "percentile", "percentile_approx", "percentile_cont",
    "percentile_disc", "kurtosis", "skewness", "max_by", "min_by",
    "covar_pop", "covar_samp", "regr_slope", "regr_intercept",
    "regr_count", "regr_r2", "regr_avgx", "regr_avgy",
    # xml_agg resolves to the registered GROUPED_AGG UDAF
    # (functions/udf.py) — call register_all(spark) before compiling
    "xml_agg",
})

_AGG_CALL_RE = re.compile(
    r"\b(" + "|".join(sorted(AGGREGATE_FUNCTIONS)) + r")\s*\(", re.I
)


def _balanced_end(text: str, open_idx: int) -> int | None:
    """Index just past the ``)`` matching the ``(`` at/after ``open_idx``."""
    depth = 0
    for i in range(open_idx, len(text)):
        ch = text[i]
        if ch == "(":
            depth += 1
        elif ch == ")":
            depth -= 1
            if depth == 0:
                return i + 1
    return None


#: words that may legally END just before an IN keyword but are not an
#: operand atom — seeing one means the operand extraction walked out of
#: the expression, so the caller keeps the clean rejection
_IN_OPERAND_STOPWORDS = frozenset(
    "when then else and or not where select case on in between like is "
    "end by from having escape all any some".split()
)


def _operand_start(text: str, end: int) -> int | None:
    """Start index of the single expression ATOM ending at ``end``
    (exclusive), scanning backwards: a parenthesized group / function
    call, a string literal, or a (qualified) identifier / number. Wider
    expressions (arithmetic chains, a preceding tighter-binding operator)
    return ``None`` — the caller falls back to the clean rejection rather
    than mis-slicing an operand."""
    i = end
    while i > 0 and text[i - 1].isspace():
        i -= 1
    if i == 0:
        return None
    ch = text[i - 1]
    if ch == ")":
        depth = 0
        j = i - 1
        while j >= 0:
            if text[j] == ")":
                depth += 1
            elif text[j] == "(":
                depth -= 1
                if depth == 0:
                    break
            j -= 1
        if j < 0:
            return None
        k = j  # include a function name directly before the parens
        while k > 0 and (text[k - 1].isalnum() or text[k - 1] in "_$."):
            k -= 1
        start = k
    elif ch == "'":
        # scan back to the OPENING quote, treating '' as the SQL escape
        # (advisor-found: "'it''s' IN (…)" must not slice at the inner
        # escaped quote and glue "'it" before the rewritten operand)
        j = i - 2
        while j >= 0:
            if text[j] != "'":
                j -= 1
            elif j > 0 and text[j - 1] == "'":
                j -= 2  # escaped quote pair — still inside the literal
            else:
                break
        if j < 0:
            return None
        start = j
    elif ch.isalnum() or ch in "_$.":
        j = i
        while j > 0 and (text[j - 1].isalnum() or text[j - 1] in "_$."):
            j -= 1
        start = j
        if text[start:i].lower() in _IN_OPERAND_STOPWORDS:
            return None
    else:
        return None
    before = text[:start].rstrip()
    if before and before[-1] in "+-*/%^|&~":
        return None  # operand is a larger arithmetic/concat expression
    return start


def _find_agg_calls(text: str) -> list[str]:
    """Outermost aggregate-call substrings of ``text`` (balanced-paren
    spans), skipping window invocations (``... OVER (...)``).

    A trailing ``FILTER (WHERE ...)`` clause is part of the captured call:
    Spark SQL parses the combined form natively, so carrying it keeps the
    filter semantics in the Grouping aggregate — capturing only the bare
    call would compute the UNFILTERED aggregate and leave an unparseable
    ``__aggN FILTER (...)`` fragment in the projection."""
    calls: list[str] = []
    spans: list[tuple[int, int]] = []
    for m in _AGG_CALL_RE.finditer(text):
        start = m.start()
        if any(s <= start < e for s, e in spans):
            continue  # nested inside an already-captured call
        end = _balanced_end(text, m.end() - 1)
        if end is None:
            continue
        # ordered-set aggregates carry their WITHIN GROUP clause in the
        # captured call (ANSI order: WITHIN GROUP before FILTER)
        wm = re.match(r"\s*within\s+group\s*\(", text[end:], re.I)
        if wm:
            wg_end = _balanced_end(text, end + wm.end() - 1)
            if wg_end is not None:
                end = wg_end
        fm = re.match(r"\s*filter\s*\(", text[end:], re.I)
        if fm:
            filter_end = _balanced_end(text, end + fm.end() - 1)
            if filter_end is not None:
                end = filter_end
        # window function, not a grouping aggregate (OVER may follow the
        # FILTER clause — check after any extension)
        if re.match(r"\s*over\s*\(", text[end:], re.I):
            continue
        calls.append(text[start:end])
        spans.append((start, end))
    return calls


#: string literals (with '' escapes) — stripped before scanning rendered
#: SQL for structural markers, so literal DATA containing "(select " can
#: never be mistaken for a scalar subquery (advisor-found false positive:
#: SELECT '(select ' AS s FROM t was rejected by the algebra path)
_STRING_LITERAL_RE = re.compile(r"'(?:[^']|'')*'")


def _sub_outside_literals(pattern, repl, text: str) -> str:
    """``re.sub`` applied only to the segments of ``text`` outside string
    literals — identifier/alias rewrites must never touch quoted data
    (advisor-found: an alias named ``n`` inside ``... = 'n'`` was
    rewritten, silently changing the literal)."""
    out: list[str] = []
    pos = 0
    for m in _STRING_LITERAL_RE.finditer(text):
        out.append(re.sub(pattern, repl, text[pos : m.start()]))
        out.append(m.group(0))
        pos = m.end()
    out.append(re.sub(pattern, repl, text[pos:]))
    return "".join(out)


def _has_scalar_subquery(text: str) -> bool:
    return "(select " in _STRING_LITERAL_RE.sub("''", text).lower()


def _scalar_subquery_spans(text: str) -> list[str]:
    """The outermost ``(SELECT …)`` balanced-paren spans of ``text``
    (string literals blanked first so literal data can never look like a
    subquery; nested subqueries stay inside their enclosing span)."""
    blanked = _STRING_LITERAL_RE.sub(
        lambda m: " " * len(m.group(0)), text
    ).lower()
    spans: list[str] = []
    pos = 0
    while True:
        j = blanked.find("(select ", pos)
        if j < 0:
            return spans
        # balance over the BLANKED text too — a ')' inside a string
        # literal within the subquery must not truncate the span
        # (advisor-found: "(SELECT max(y) FROM t WHERE s = ':)')").
        # Blanking is same-length, so indices map 1:1 to the original.
        end = _balanced_end(blanked, j)
        if end is None:
            return spans
        spans.append(text[j:end])
        pos = end


def _cte_flag(cte) -> bool | str:
    """CTE execution flag carried through the scope dict: ``True`` =
    MATERIALIZED (shared cache), ``False`` = plain inline, ``"recursive"``
    = WITH RECURSIVE fixpoint (extension — ref excludes recursion,
    qal/_qal.py:8436). The step term's scope additionally carries
    ``"recursive-ref"``, resolving the self-reference to the working
    table instead of inlining the body (which would never terminate)."""
    if getattr(cte, "recursive", False):
        return "recursive"
    return bool(getattr(cte, "materialized", False))


#: recursive CTE names currently being converted — re-entering one means
#: MUTUAL recursion (a's body reads b, b's body reads a), which neither
#: the reference nor Postgres models; without the guard the conversion
#: itself would recurse forever. Thread-local so concurrent parses on
#: different threads cannot see each other's in-flight names (the nested
#: same-thread entries ARE the guard's signal).
_TLS = threading.local()


def _recursion_stack() -> set[str]:
    stack = getattr(_TLS, "recursion_stack", None)
    if stack is None:
        stack = _TLS.recursion_stack = set()
    return stack


def _convert_recursive_cte(
    name: str, body, scope: dict
) -> ra.RecursiveUnion:
    """WITH RECURSIVE body → RecursiveUnion. ANSI shape: the body is a
    set query ``base UNION [ALL] step`` where only the step references
    ``name``; the base seeds the working table, the step converts with
    the self-reference bound to a :class:`ra.RecursiveRef` leaf."""
    if name in _recursion_stack():
        raise UnsupportedSqlError(
            f"mutually recursive CTEs are not modeled (re-entered "
            f"{name!r} while converting its own body) — fold the mutual "
            "step into a single recursive CTE"
        )
    if not isinstance(body, Q.SetQuery) or body.operator not in (
        Q.SetOperator.UNION,
        Q.SetOperator.UNION_ALL,
    ):
        raise UnsupportedSqlError(
            f"recursive CTE {name!r} must be 'base UNION [ALL] step'"
        )
    if body.order_by or body.limit is not None or body.offset is not None:
        raise UnsupportedSqlError(
            f"ORDER BY/LIMIT on the recursive CTE body {name!r} is not "
            "modeled — apply them in the consuming query"
        )
    if Q.references_table(body.left, name):
        raise UnsupportedSqlError(
            f"recursive CTE {name!r} references itself in the BASE term — "
            "only the step (right) operand may recurse"
        )
    _recursion_stack().add(name)
    try:
        base = parse_relalg(body.left, scope_ctes=scope)
        step_scope = dict(scope)
        step_scope[name] = (None, "recursive-ref")
        step = parse_relalg(body.right, scope_ctes=step_scope)
    finally:
        _recursion_stack().discard(name)
    return ra.RecursiveUnion(
        base=base,
        step=step,
        name=name,
        distinct=body.operator is Q.SetOperator.UNION,
    )


#: helper-column uniquifier for the ties cutoff — ``next()`` on an
#: itertools.count is atomic under the GIL, so concurrent parses never
#: mint the same tag (names only need uniqueness within one query tree)
_TIES_COUNTER = itertools.count(1)


def _ties_cutoff(
    tree: ra.RelNode,
    sort_keys: tuple[ra.SortKey, ...],
    limit: int,
    offset: int | None = None,
) -> ra.RelNode:
    """FETCH FIRST n ROWS WITH TIES — rank()-window cutoff (extension
    beyond the reference's Limit clause, which models ONLY). The rank is
    computed over the exact presentation order (null placement made
    explicit to match the Sort compilation's Spark defaults), rows with
    rank <= n survive (ties of the last row included), the helper column
    is dropped, and presentation order is restored on top. Spark's
    InferWindowGroupLimit turns the rank-filter-over-window shape into a
    WindowGroupLimit — a per-partition partial top-n before the single
    exchange — so the cutoff scales like any other top-n, not like a
    global sort.

    With OFFSET m (Postgres-legal): skip the first m rows, return the
    next n plus every row tied with the one at position m+n. The tie
    threshold is the RANK at ROW_NUMBER m+n (a global-window max over a
    single marked row; NULL when fewer than m+n rows exist → no upper
    cut, ANSI short-result semantics). This form needs true row
    positions, so it costs one single-partition window pass — inherent
    to deep OFFSET pagination on any engine; keyset pagination remains
    the documented scale path."""
    if not sort_keys:
        raise UnsupportedSqlError(
            "FETCH ... WITH TIES requires ORDER BY for a tie group"
        )
    # a Sort directly below the rank window is semantically dead (the
    # window defines its own order) but Catalyst keeps its global
    # range-exchange — unwrap it so the plan is Partial-WindowGroupLimit →
    # single exchange → Final, with no extra global sort underneath
    if isinstance(tree, ra.Sort):
        tree = tree.child
    rendered = []
    for k in sort_keys:
        direction = "ASC" if k.ascending else "DESC"
        nulls_first = (
            k.nulls_first if k.nulls_first is not None else False
        )  # default NULLS LAST both directions (DuckDB default_null_order;
        # matches the Sort compilation, compiler.py visit_sort)
        nulls = "NULLS FIRST" if nulls_first else "NULLS LAST"
        rendered.append(f"{k.expression} {direction} {nulls}")
    order = ", ".join(rendered)
    tag = next(_TIES_COUNTER)
    rank_col = f"__ties_rank{tag}"
    if not offset:
        tree = ra.Map(tree, ((rank_col, f"rank() OVER (ORDER BY {order})"),))
        tree = ra.Selection(tree, f"{rank_col} <= {limit}")
        tree = ra.Drop(tree, (rank_col,))
        return ra.Sort(tree, sort_keys)
    rn_col = f"__ties_rn{tag}"
    thr_col = f"__ties_thr{tag}"
    cut = offset + limit
    tree = ra.Map(
        tree,
        (
            (rank_col, f"rank() OVER (ORDER BY {order})"),
            (rn_col, f"row_number() OVER (ORDER BY {order})"),
        ),
    )
    tree = ra.Map(
        tree,
        (
            (
                thr_col,
                f"max(CASE WHEN {rn_col} = {cut} THEN {rank_col} END) "
                "OVER ()",
            ),
        ),
    )
    tree = ra.Selection(
        tree,
        f"{rn_col} > {offset} AND "
        f"({thr_col} IS NULL OR {rank_col} <= {thr_col})",
    )
    tree = ra.Drop(tree, (rank_col, rn_col, thr_col))
    return ra.Sort(tree, sort_keys)


_SIMPLE_COL_RE = re.compile(r"^[a-z_][\w$]*$")
_QUALIFIED_COL_RE = re.compile(r"^([a-z_][\w$]*)\.([a-z_][\w$]*)$")


def _output_name(text: str) -> str | None:
    """Column name an expression would surface under, if derivable."""
    if _SIMPLE_COL_RE.match(text):
        return text
    m = _QUALIFIED_COL_RE.match(text)
    return m.group(2) if m else None


_STAR_ITEM_RE = re.compile(r"^\*(?:\s+except\s*\((.*)\))?$", re.I | re.S)


def _star_passes(text: str, column: str) -> bool:
    """Whether the select item ``text`` is a bare ``*`` (or a ``* EXCEPT
    (...)`` not listing ``column``) and so carries the plain FROM column
    ``column`` through the projection unchanged."""
    m = _STAR_ITEM_RE.match(text)
    if m is None or not _SIMPLE_COL_RE.match(column):
        return False
    excluded = (m.group(1) or "").split(",")
    return column not in {c.strip().rsplit(".", 1)[-1] for c in excluded}


# ---------------------------------------------------------------------------
# conversion
# ---------------------------------------------------------------------------


def parse_relalg(
    query: Q.SqlQuery | Q.SetQuery,
    *,
    join_order: list[str] | None = None,
    scope_ctes: dict | None = None,
) -> ra.RelNode:
    """Convert a qal query to a relational-algebra tree (ref ``parse_relalg``
    relalg.py:4266). ``join_order`` optionally overrides FROM order with a
    table-identifier sequence — the hook the optimizer's JoinTree enforcement
    uses. ``scope_ctes`` carries enclosing CTE definitions into nested
    conversions (a CTE referencing a sibling CTE, or a subquery referencing
    any CTE, must resolve it instead of scanning a nonexistent base table)."""
    if isinstance(query, Q.SetQuery):
        if query.ctes:
            # a WITH over the whole set query scopes over BOTH operands
            # (ref SetQuery cte_clause, qal/_qal.py:9423); local CTEs
            # shadow enclosing-scope ones, same as the SqlQuery path
            scope_ctes = {
                **{
                    k: v if isinstance(v, tuple) else (v, False)
                    for k, v in (scope_ctes or {}).items()
                },
                **{
                    cte[0]: (cte[1], _cte_flag(cte))
                    for cte in query.ctes
                },
            }
        left = parse_relalg(query.left, scope_ctes=scope_ctes)
        right = parse_relalg(query.right, scope_ctes=scope_ctes)
        node: ra.RelNode
        if query.operator is Q.SetOperator.UNION:
            node = ra.Union(left, right, distinct=True)
        elif query.operator is Q.SetOperator.UNION_ALL:
            node = ra.Union(left, right, distinct=False)
        elif query.operator is Q.SetOperator.INTERSECT:
            node = ra.Intersection(left, right)
        elif query.operator is Q.SetOperator.INTERSECT_ALL:
            node = ra.Intersection(left, right, distinct=False)
        elif query.operator is Q.SetOperator.EXCEPT_ALL:
            node = ra.Difference(left, right, distinct=False)
        else:
            node = ra.Difference(left, right)
        set_keys = tuple(
            ra.SortKey(o.expr.sql, o.ascending, o.nulls_first)
            for o in query.order_by
        )
        if query.fetch_ties and query.limit is not None:
            return _ties_cutoff(node, set_keys, query.limit, query.offset)
        if set_keys:
            node = ra.Sort(node, set_keys)
        if query.limit is not None or query.offset is not None:
            node = ra.Limit(node, limit=query.limit, offset=query.offset)
        return node
    return _Converter(query, join_order, scope_ctes).convert()


class _Converter:
    def __init__(
        self,
        query: Q.SqlQuery,
        join_order: list[str] | None,
        scope_ctes: dict | None = None,
    ):
        self.q = query
        self.join_order = join_order
        self.counter = 0
        # local CTEs shadow enclosing-scope ones of the same name. Values
        # are (body, materialized) pairs; bare bodies from external callers
        # are normalized so the scope dict can be passed down opaquely.
        self.ctes = {
            k: v if isinstance(v, tuple) else (v, False)
            for k, v in (scope_ctes or {}).items()
        }
        self.ctes.update(
            {
                cte[0]: (cte[1], _cte_flag(cte))
                for cte in query.ctes
            }
        )
        # text substitutions consuming clauses must apply (e.g. LATERAL
        # count columns → coalesce(col, 0) after the decorrelating left join)
        self.text_subs: dict[str, str] = {}
        #: lifted UNCORRELATED scalar subqueries: 1-row subplans cross-
        #: joined onto the tree; `preagg` before the residual Selection
        #: (WHERE references), `postagg` after the Grouping (SELECT/
        #: HAVING/ORDER BY references — Grouping would drop a pre-agg
        #: column)
        self._scalar_preagg: list[ra.RelNode] = []
        self._scalar_postagg: list[ra.RelNode] = []
        #: CORRELATED scalar aggregate subqueries from WHERE, rewritten as
        #: synthetic LATERAL sources (decorrelated by _apply_lateral into
        #: GROUP-BY-correlation-keys + LEFT join, counts coalesced to 0)
        self._scalar_laterals: list[Q.SubqueryTableSource] = []
        #: decorrelated membership-count laterals whose OUTER is an
        #: aggregated query: applied in _finish ABOVE the Grouping, with
        #: the correlation keys degrouped to the aggregate's output
        #: columns (round-10 wave-4 closure)
        self._agg_member_laterals: list[Q.SubqueryTableSource] = []
        #: span → phase ("pre"/"post") of its lift: the SAME subquery text
        #: reused across the aggregation boundary needs a SECOND lift (the
        #: Grouping drops the pre-agg constant column — fuzzer-found)
        self._span_phase: dict[str, str] = {}

    def _gensym(self, prefix: str) -> str:
        self.counter += 1
        return f"__{prefix}{self.counter}"

    # -- scalar subqueries ----------------------------------------------------

    def _lift_scalar_spans(
        self,
        text: str,
        plans: list[ra.RelNode],
        laterals: list | None = None,
        phase: str = "pre",
        relift_pre: bool = False,
        subs_out: dict[str, str] | None = None,
    ) -> None:
        """Lift every ``(SELECT …)`` span of ``text`` into a subplan +
        a text substitution to its synthetic column.

        UNCORRELATED subqueries with a structural single-row guarantee —
        a FROM-less SELECT, or a global aggregate (single projection
        containing an aggregate call, no GROUP BY / HAVING / OFFSET) —
        become 1-row subplans appended to ``plans`` (cross-joined by the
        caller; Catalyst broadcasts one row, a map-side constant attach
        at any scale).

        CORRELATED scalar AGGREGATES — ``(SELECT agg(…) FROM t WHERE
        t.k = outer.k)`` with table-QUALIFIED outer references — are
        rewritten as synthetic LATERAL sources when ``laterals`` is
        given: :meth:`_apply_lateral` decorrelates them into GROUP BY
        correlation keys + LEFT join (counts coalesced to 0), Catalyst's
        own DecorrelateInnerQuery rewrite expressed in the IR. Per-group
        one row = the scalar guarantee.

        Everything else keeps the clean rejection + the spark.sql route
        (registry entry ``expr_scalar_subquery``). An UNQUALIFIED column
        inside the subquery binds to the INNER scope first (ANSI); a
        genuinely outer unqualified reference fails loudly at Spark
        analysis, never silently.

        ``subs_out`` redirects the span→column substitutions into a
        LOCAL dict instead of :attr:`text_subs` — the occurrence-scoped
        mode for spans inside aggregate ARGUMENTS, where the same span
        text may need a different (pre-agg) column than its post-agg
        uses elsewhere in the query."""
        from postbound_spark.plans.parser import parse_query as _parse

        subs = self.text_subs if subs_out is None else subs_out

        # EXISTS over a PARENTHESIZED argument (the renderer wraps set-query
        # bodies as `((SELECT …) UNION (SELECT …))`): the span scanner below
        # only sees the inner operands, so membership-handle the whole
        # balanced group here and mask its region from the span loop
        handled: list[tuple[int, int]] = []
        blanked_text = _STRING_LITERAL_RE.sub(
            lambda m: " " * len(m.group(0)), text
        )
        for m_ex in re.finditer(r"(?i)\bexists\s*\(", blanked_text):
            open_idx = m_ex.end() - 1
            end = _balanced_end(blanked_text, open_idx)
            if end is None:
                continue
            grp = text[open_idx:end]
            if not grp[1:-1].strip().startswith("("):
                continue  # plain `(SELECT …` argument: the span loop's case
            self._lift_membership_span(
                text,
                grp,
                "exists",
                plans,
                laterals=laterals,
                phase=phase,
                relift_pre=relift_pre,
                subs=subs,
                subs_out=subs_out,
                span_at=open_idx,
            )
            handled.append((open_idx, end))

        # spans arrive in appearance order (the scanner advances a cursor),
        # so a running cursor here recovers each span's ACTUAL offset —
        # `text.find(span)` would return the FIRST occurrence and wrongly
        # skip/misprefix a repeated subquery text (advisor-found: identical
        # text inside a handled EXISTS group and again elsewhere)
        cursor = 0
        for span in _scalar_subquery_spans(text):
            start = text.find(span, cursor)
            cursor = start + len(span)
            if handled and any(s <= start < e for s, e in handled):
                continue
            # a span preceded by a quantifier / membership keyword is NOT
            # a scalar expression — `x > ALL (…)`, `y IN (…)` inside an OR
            # branch, `EXISTS (…)` under a compound — substituting it
            # would leave invalid SQL, so these keep the clean rejection
            prefix = text[:start].rstrip().lower()
            last_word = re.search(r"(\w+)\s*$", prefix)
            if last_word and last_word.group(1) in (
                "in", "exists", "any", "all", "some",
            ):
                # EXISTS / IN in EXPRESSION position (CASE branches, OR
                # arms, boolean select items) — compiled via the count-form
                # rewrite onto the existing scalar-lift / decorrelating-
                # lateral machinery (the reference parses these as ordinary
                # predicates: parser.py:764-808, :1121)
                self._lift_membership_span(
                    text,
                    span,
                    last_word.group(1),
                    plans,
                    laterals=laterals,
                    phase=phase,
                    relift_pre=relift_pre,
                    subs=subs,
                    subs_out=subs_out,
                    span_at=start,
                )
                continue
            if span in subs:
                if not (
                    subs_out is None
                    and phase == "post"
                    and relift_pre
                    and self._span_phase.get(span) == "pre"
                ):
                    # already lifted in a phase the consumer can see
                    continue
                # the SAME subquery reused ACROSS the aggregation
                # boundary (WHERE + SELECT/HAVING of a grouped query):
                # the pre-agg constant column is dropped by the
                # Grouping, so lift a SECOND 1-row subplan post-agg.
                # Re-pointing text_subs is safe — the residual WHERE
                # text was already rendered with the pre-agg name.
                # (A CORRELATED pre-agg span cannot reach here: an
                # aggregated outer rejects correlated post-agg
                # references before lifting.)
            try:
                inner = _parse(span[1:-1])
            except Exception as exc:
                raise UnsupportedSqlError(
                    f"cannot re-parse scalar subquery {span!r}: {exc}"
                ) from exc
            if not isinstance(inner, Q.SqlQuery):
                raise UnsupportedSqlError(
                    "scalar set-query subqueries are not compilable by the "
                    "algebra path; execute via spark.sql"
                )
            if len(inner.select) != 1:
                raise UnsupportedSqlError(
                    "a scalar subquery must project exactly one column"
                )
            # LIMIT/OFFSET break the structural single-row guarantee in
            # BOTH branches: '(SELECT max(b) FROM s LIMIT 0)' and
            # '(SELECT 5 OFFSET 1)' are zero-row, and lifting them as a
            # cross product would silently empty the outer result where
            # SQL says the scalar is NULL (advisor-found, round 8).
            unclamped = inner.limit is None and inner.offset is None
            single_row = unclamped and (
                not inner.from_tables
                or (
                    not inner.group_by
                    and inner.having is None
                    and bool(_find_agg_calls(inner.select[0].expr.sql))
                )
            )
            # the as-of / top-1 shape (round-11): `(SELECT x FROM t WHERE
            # corr ORDER BY k LIMIT 1)` yields AT MOST one row per outer
            # tuple — compiled as a row_number-per-correlation-key lateral
            # LEFT join (match-less outer rows read NULL, per scalar
            # semantics). Only the CORRELATED form routes here; an
            # uncorrelated ORDER BY/LIMIT scalar keeps the rejection (a
            # 0-row cross product would drop outer rows).
            topone = (
                not single_row
                and bool(inner.from_tables)
                and bool(inner.order_by)
                and inner.limit == 1
                and not inner.group_by
                and inner.having is None
                and not inner.distinct
                and not inner.distinct_on
                and not _find_agg_calls(inner.select[0].expr.sql)
            )
            inner_ids = {t.identifier for t in inner.from_tables} | {
                j.source.identifier for j in inner.joins
            } | {name for name, _sub in inner.ctes} | set(self.ctes)
            refs = list(inner.select[0].expr.columns)
            if inner.where is not None:
                refs.extend(inner.where.columns())
            correlated = any(
                c.table is not None and c.table.identifier not in inner_ids
                for c in refs
            )
            if not single_row and not topone:
                raise UnsupportedSqlError(
                    "scalar subqueries without a structural single-row "
                    "guarantee (FROM-less, global aggregate, or "
                    "ORDER BY … LIMIT 1) are not "
                    "compilable by the algebra path; execute via "
                    "spark.sql / the registry SQL path "
                    "(e.g. expr_scalar_subquery)"
                )
            if correlated:
                lat_sink = laterals
                if lat_sink is None and relift_pre:
                    # AGGREGATED outer (HAVING / grouped SELECT): the
                    # decorrelated lateral attaches above the Grouping in
                    # _finish, correlation keys degrouped to the output
                    # columns (round-10 wave-5 closure). Above the
                    # aggregate only GROUP KEYS survive — a correlation on
                    # any other outer column keeps the clean rejection
                    # instead of a confusing analysis failure.
                    key_bare = set()
                    alias_exprs = {
                        p.alias: p.expr.sql
                        for p in self.q.select
                        if p.alias and p.expr.sql != p.alias
                    }
                    for g in self.q.group_by:
                        g_text = g.sql
                        if re.fullmatch(r"\w+", g_text):
                            key_bare.add(g_text)
                            g_text = alias_exprs.get(g_text, g_text)
                        m = re.fullmatch(r"(?:[\w$]+\.)?([\w$]+)", g_text)
                        if m:
                            key_bare.add(m.group(1))
                    outer_refs = [
                        c
                        for c in refs
                        if c.table is not None
                        and c.table.identifier not in inner_ids
                    ]
                    if any(c.name not in key_bare for c in outer_refs):
                        raise UnsupportedSqlError(
                            "correlated scalar subqueries above an "
                            "aggregate may only correlate on GROUP KEYS; "
                            "this position is not compilable by the "
                            "algebra path — execute via spark.sql / the "
                            "registry SQL path"
                        )
                    lat_sink = self._agg_member_laterals
                if (
                    lat_sink is None
                    or not inner.from_tables
                    or not (
                        topone
                        or _find_agg_calls(inner.select[0].expr.sql)
                    )
                ):
                    raise UnsupportedSqlError(
                        "correlated scalar subqueries in this position are "
                        "not compilable by the algebra path; execute via "
                        "spark.sql / the registry SQL path "
                        "(e.g. expr_scalar_subquery)"
                    )
                name = self._gensym("scalar")
                alias = self._gensym("lat")
                sub_q = replace(
                    inner,
                    select=(Q.BaseProjection(inner.select[0].expr, name),),
                )
                lat_sink.append(
                    Q.SubqueryTableSource(
                        sub_q, alias, lateral=True, scalar_left=topone
                    )
                )
                col = f"{alias}.{name}"
                if lat_sink is self._agg_member_laterals and re.match(
                    r"\s*count\s*\(", inner.select[0].expr.sql, re.I
                ):
                    # laterals applied in _finish attach AFTER the
                    # consuming-clause rewrite — _apply_lateral's own
                    # coalesce mapping comes too late, so bake it in
                    col = f"coalesce({col}, 0)"
                subs[span] = col
                if subs_out is None:
                    self._span_phase[span] = phase
                continue
            name = self._gensym("scalar")
            inner = replace(
                inner,
                select=(Q.BaseProjection(inner.select[0].expr, name),),
            )
            if not single_row:
                # UNCORRELATED ORDER BY … LIMIT 1 (round-11): the derived
                # table yields ≤1 row, and a cross product with an EMPTY
                # subplan would drop every outer row where SQL says the
                # scalar is NULL. A global min() over the ≤1-row derived
                # table restores the exactly-one-row guarantee (min of a
                # single value IS the value; min of none is NULL) — the
                # lift then rides the ordinary 1-row broadcast attach.
                t1 = self._gensym("t1")
                from postbound_spark.plans.parser import (
                    parse_query as _reparse,
                )
                inner = _reparse(
                    f"SELECT min({name}) AS {name} "
                    f"FROM ({inner.to_sql()}) {t1}"
                )
            plans.append(parse_relalg(inner, scope_ctes=self.ctes))
            subs[span] = name
            if subs_out is None:
                self._span_phase[span] = phase

    # -- membership predicates in expression position -------------------------

    def _membership_correlated(self, inner) -> bool:
        """Top-level correlation scan of a membership subquery body —
        same depth the scalar lift uses (a DEEPER outer reference compiles
        into a standalone subplan whose unknown qualifier fails loudly at
        Spark analysis)."""
        if isinstance(inner, Q.SetQuery):
            return self._membership_correlated(
                inner.left
            ) or self._membership_correlated(inner.right)
        inner_ids = (
            {t.identifier for t in inner.from_tables}
            | {j.source.identifier for j in inner.joins}
            | {n for n, _s in inner.ctes}
            | set(self.ctes)
        )
        refs = [c for p in inner.select for c in p.expr.columns]
        if inner.where is not None:
            refs.extend(inner.where.columns())
        for e in inner.group_by:
            refs.extend(e.columns)
        if inner.having is not None:
            refs.extend(inner.having.columns())
        for o in inner.order_by:
            refs.extend(o.expr.columns)
        for j in inner.joins:
            if j.condition is not None:
                refs.extend(j.condition.columns())
        return any(
            c.table is not None and c.table.identifier not in inner_ids
            for c in refs
        )

    def _lift_membership_span(
        self,
        text: str,
        span: str,
        kw: str,
        plans: list,
        laterals: list | None,
        phase: str,
        relift_pre: bool,
        subs: dict,
        subs_out: dict | None,
        span_at: int | None = None,
    ) -> None:
        """``EXISTS (sub)`` / ``x [NOT] IN (sub)`` in expression position →
        boolean text over lifted COUNT-form scalar subqueries, riding the
        existing machinery end-to-end: an uncorrelated count lifts as a
        1-row cross-joined subplan, an equi-correlated count decorrelates
        via :meth:`_apply_lateral` (GROUP BY correlation keys + LEFT join,
        count coalesced to 0 — per-key group counts, one shuffle, no
        per-row subquery at any scale).

        EXISTS is two-valued, so ``count > 0`` is exact. IN keeps full
        three-valued semantics: TRUE on a match, NULL when the probe is
        NULL against a non-empty set or when the set holds a NULL and no
        match, FALSE otherwise; NOT IN negates through the CASE so NULLs
        stay NULL. The probe operand must be literal or OUTER-qualified —
        transplanting its text into the subquery must never capture an
        inner binding (bare identifiers reject cleanly)."""
        from postbound_spark.plans.parser import parse_query as _parse

        def reject() -> UnsupportedSqlError:
            return UnsupportedSqlError(
                "quantified / membership subqueries in this predicate "
                "position are not compilable by the algebra path; "
                "execute via spark.sql / the registry SQL path"
            )

        idx = text.find(span) if span_at is None else span_at
        pre = text[:idx]
        kw_m = re.search(r"(?i)\b(exists|in|any|all|some)\s*$", pre)
        if kw_m is None:  # defensive: caller matched on lowered text
            raise reject()
        full_start = kw_m.start()
        operand: str | None = None
        quant_op: str | None = None
        negated = False
        if kw == "in":
            not_m = re.search(r"(?i)\bnot\s*$", pre[: kw_m.start()])
            op_end = not_m.start() if not_m else kw_m.start()
            negated = not_m is not None
            op_start = _operand_start(pre, op_end)
            if op_start is None:
                raise reject()
            operand = pre[op_start:op_end].strip()
            full_start = op_start
        elif kw in ("any", "all", "some"):
            # quantified comparison: <operand> <op> ANY/ALL (sub)
            op_m = re.search(r"(=|<>|!=|<=|>=|<|>)\s*$", pre[: kw_m.start()])
            if op_m is None:
                raise reject()
            quant_op = "<>" if op_m.group(1) == "!=" else op_m.group(1)
            op_start = _operand_start(pre, op_m.start())
            if op_start is None:
                raise reject()
            operand = pre[op_start : op_m.start()].strip()
            full_start = op_start
        full = text[full_start : idx + len(span)]
        if full in subs and not (
            subs_out is None
            and phase == "post"
            and relift_pre
            and self._span_phase.get(full) == "pre"
        ):
            return
        try:
            inner = _parse(span[1:-1])
        except Exception as exc:
            raise UnsupportedSqlError(
                f"cannot re-parse membership subquery {span!r}: {exc}"
            ) from exc

        lat_sink = laterals
        if lat_sink is None and relift_pre:
            # aggregated outer query: the decorrelated count lateral
            # attaches ABOVE the Grouping in _finish, its correlation
            # keys degrouped to the aggregate's output columns — the
            # membership may only correlate on GROUP KEYS (anything else
            # fails loudly at Spark analysis, never silently)
            lat_sink = self._agg_member_laterals

        def lift_one(new_span: str, coalesce_zero: bool = True) -> str:
            local: dict[str, str] = {}
            self._lift_scalar_spans(
                new_span, plans, laterals=lat_sink, phase=phase, subs_out=local
            )
            if not coalesce_zero:  # min/max extremes: NULL means "no rows"
                return local[new_span]
            # COUNT quantities: a match-less outer row of the
            # decorrelating left join must read 0, not NULL — coalesce
            # inline, because laterals applied in _finish attach after
            # the consuming-clause rewrite has already run
            return f"coalesce({local[new_span]}, 0)"

        def count_form(
            extra_sql: str | None, select_sql: str = "count(*)"
        ) -> str:
            conds: list[Q.AbstractPredicate] = []
            if inner.where is not None:
                conds.append(inner.where)
            if extra_sql is not None:
                conds.append(
                    Q.UnaryPredicate(
                        Q.UnaryOperation.BARE, Q.SqlExpression(extra_sql)
                    )
                )
            mod = replace(
                inner,
                select=(
                    Q.BaseProjection(Q.SqlExpression(select_sql), None),
                ),
                where=Q.and_(*conds) if conds else None,
                group_by=(),
                order_by=(),
                distinct=False,
                distinct_on=(),
                fetch_ties=False,
            )
            return f"({mod.to_sql()})"

        if kw == "exists":
            if not self._membership_correlated(inner):
                # emptiness probe with an early-out: LIMIT 1 inside the
                # derived table caps the scan at the first qualifying row
                a1, a2 = self._gensym("exi"), self._gensym("exq")
                new_span = (
                    f"(SELECT count(*) FROM (SELECT 1 AS __one FROM "
                    f"{span} {a1} LIMIT 1) {a2})"
                )
            else:
                if (
                    isinstance(inner, Q.SetQuery)
                    or inner.ctes
                    or inner.having is not None
                    or inner.limit is not None
                    or inner.offset is not None
                ):
                    raise reject()
                # GROUP BY without HAVING is droppable: >=1 group iff
                # >=1 row; DISTINCT and ORDER BY never change emptiness
                new_span = count_form(None)
            repl = f"({lift_one(new_span)} > 0)"
        elif kw in ("any", "all", "some"):
            if (
                isinstance(inner, Q.SetQuery)
                or inner.ctes
                or inner.having is not None
                or inner.limit is not None
                or inner.offset is not None
                or len(inner.select) != 1
            ):
                raise reject()
            y_sql = inner.select[0].expr.sql
            if y_sql.strip() == "*" or _find_agg_calls(y_sql):
                raise reject()
            is_all = kw == "all"
            if (quant_op == "=" and not is_all) or (
                quant_op == "<>" and is_all
            ):
                # the = ANY ≡ IN and <> ALL ≡ NOT IN identities are
                # applied at parse time; raw text reaching here keeps the
                # rejection with the actionable spelling
                raise UnsupportedSqlError(
                    "spell = ANY (subquery) as IN and <> ALL (subquery) "
                    "as NOT IN — the identities compile natively"
                )
            # min/max form: the quantified comparison reduces to the
            # subquery's extremes plus row/null counts — four 1-row
            # aggregates instead of a per-row nested-loop, with exact
            # ANSI three-valued semantics (empty set, NULL probe, NULL
            # elements). min/max ignore NULLs, matching "non-null y".
            cnt = lift_one(count_form(None))
            nulls = lift_one(count_form(f"(({y_sql}) IS NULL)"))
            lo = lift_one(
                count_form(None, select_sql=f"min({y_sql})"),
                coalesce_zero=False,
            )
            hi = lift_one(
                count_form(None, select_sql=f"max({y_sql})"),
                coalesce_zero=False,
            )
            nonnull = f"({cnt} - {nulls})"
            if quant_op in ("<", "<="):
                ext_any, ext_all = hi, lo  # x < ANY ⟺ x < max; ALL ⟺ < min
            elif quant_op in (">", ">="):
                ext_any, ext_all = lo, hi
            else:
                ext_any = ext_all = None
            if is_all:
                if quant_op == "=":
                    holds = f"((({operand}) = {lo}) AND ({lo} = {hi}))"
                else:
                    holds = f"(({operand}) {quant_op} {ext_all})"
                repl = (
                    f"(CASE WHEN {cnt} = 0 THEN TRUE "
                    f"WHEN ({operand}) IS NULL THEN CAST(NULL AS BOOLEAN) "
                    f"WHEN {nonnull} > 0 AND NOT {holds} THEN FALSE "
                    f"WHEN {nulls} > 0 THEN CAST(NULL AS BOOLEAN) "
                    f"ELSE TRUE END)"
                )
            else:
                if quant_op == "<>":
                    holds = f"(({lo} <> {hi}) OR (({operand}) <> {lo}))"
                else:
                    holds = f"(({operand}) {quant_op} {ext_any})"
                repl = (
                    f"(CASE WHEN {cnt} = 0 THEN FALSE "
                    f"WHEN ({operand}) IS NULL THEN CAST(NULL AS BOOLEAN) "
                    f"WHEN {nonnull} > 0 AND {holds} THEN TRUE "
                    f"WHEN {nulls} > 0 THEN CAST(NULL AS BOOLEAN) "
                    f"ELSE FALSE END)"
                )
        else:
            if (
                isinstance(inner, Q.SetQuery)
                or inner.ctes
                or inner.having is not None
                or inner.limit is not None
                or inner.offset is not None
                or len(inner.select) != 1
            ):
                raise reject()
            y_sql = inner.select[0].expr.sql
            if y_sql.strip() == "*" or _find_agg_calls(y_sql):
                raise reject()
            inner_ids = {t.identifier for t in inner.from_tables} | {
                j.source.identifier for j in inner.joins
            }
            blanked_op = _STRING_LITERAL_RE.sub("''", operand)
            for m in re.finditer(
                r"(?<![\w$.])([\w$]+)(\.[\w$]+)?\s*(\()?", blanked_op
            ):
                word, qual, call = m.group(1), m.group(2), m.group(3)
                if call or not word:
                    continue  # function name
                if word[0].isdigit() or word.lower() in (
                    "true", "false", "null", "date", "timestamp",
                    "interval", "as", "int", "integer", "bigint",
                    "smallint", "tinyint", "double", "float", "decimal",
                    "string", "boolean", "case", "when", "then", "else",
                    "end", "and", "or", "not", "is", "in", "between",
                    "like", "from", "distinct", "escape",
                ):
                    continue
                if qual is None:
                    raise reject()  # bare identifier: scope would change
                if word in inner_ids:
                    raise reject()  # qualifier captured by the inner FROM
            match_c = lift_one(count_form(f"(({y_sql}) = ({operand}))"))
            nonempty_c = lift_one(count_form(None))
            hasnull_c = lift_one(count_form(f"(({y_sql}) IS NULL)"))
            in_bool = (
                f"(CASE WHEN {match_c} > 0 THEN TRUE "
                f"WHEN ({operand}) IS NULL AND {nonempty_c} > 0 "
                f"THEN CAST(NULL AS BOOLEAN) "
                f"WHEN {hasnull_c} > 0 THEN CAST(NULL AS BOOLEAN) "
                f"ELSE FALSE END)"
            )
            repl = f"(NOT {in_bool})" if negated else in_bool
        subs[full] = repl
        if subs_out is None:
            self._span_phase[full] = phase

    # -- leaves -------------------------------------------------------------

    def _leaf(self, tab) -> ra.RelNode:
        if isinstance(tab, Q.ValuesTableSource):
            return ra.Values(
                rows=tuple(
                    tuple(v.to_sql() for v in row) for row in tab.rows
                ),
                columns=tab.columns,
                alias=tab.alias,
            )
        if isinstance(tab, Q.FunctionTableSource):
            column = tab.columns[0] if tab.columns else "id"
            return ra.TableFunction(
                function=tab.function,
                args=tuple(a.to_sql() for a in tab.args),
                column=column,
                alias=tab.alias,
            )
        if tab.full_name in self.ctes:
            # siblings must stay visible inside the CTE body (minus the
            # body's own name — self-reference would be recursion)
            scope = {k: v for k, v in self.ctes.items() if k != tab.full_name}
            body, flag = self.ctes[tab.full_name]
            if flag == "recursive-ref":
                # self-reference inside a recursive step term: a leaf the
                # compiler binds to the working table each iteration
                return ra.RecursiveRef(
                    name=tab.full_name, alias=tab.identifier
                )
            if flag == "recursive":
                sub: ra.RelNode = _convert_recursive_cte(
                    tab.full_name, body, scope
                )
                return ra.Relation(subquery=sub, alias=tab.identifier)
            sub = parse_relalg(body, scope_ctes=scope)
            if flag:
                sub = ra.Materialize(sub, name=tab.full_name)
            return ra.Relation(subquery=sub, alias=tab.identifier)
        node: ra.RelNode = ra.Relation(
            table=tab.full_name, alias=tab.identifier
        )
        if (
            getattr(tab, "sample_percent", None) is not None
            or getattr(tab, "sample_rows", None) is not None
        ):
            node = ra.Sample(
                node,
                percent=tab.sample_percent,
                rows=tab.sample_rows,
                seed=tab.sample_seed,
            )
        return node

    # -- WHERE conjunct classification ---------------------------------------

    def _conjuncts(self) -> list[Q.AbstractPredicate]:
        if self.q.where is None:
            return []
        w = self.q.where
        if isinstance(w, Q.CompoundPredicate) and w.operation is Q.CompoundOperator.AND:
            return list(w.children)
        return [w]

    def convert(self) -> ra.RelNode:
        # HAVING-position membership subqueries (EXISTS / IN and their
        # negations) compile as semi/anti joins ABOVE the aggregate — carve
        # them out of the HAVING conjunction before the scalar-lift scan
        # (which would otherwise reject the whole clause) and apply them
        # in _finish once the grouped frame exists
        self._having_memberships: list[tuple[str, Q.AbstractPredicate]] = []
        if self.q.having is not None:
            h = self.q.having
            conjs = (
                list(h.children)
                if isinstance(h, Q.CompoundPredicate)
                and h.operation is Q.CompoundOperator.AND
                else [h]
            )
            rest = [c for c in conjs if self._subquery_kind(c) is None]
            self._having_memberships = [
                (self._subquery_kind(c), c)
                for c in conjs
                if self._subquery_kind(c) is not None
            ]
            if self._having_memberships:
                self.q = self.q.with_clause(
                    having=Q.and_(*rest) if rest else None
                )
        plain_tables = [
            t for t in self.q.from_tables
            if not (isinstance(t, Q.SubqueryTableSource) and t.lateral)
        ]
        laterals = [
            t for t in self.q.from_tables
            if isinstance(t, Q.SubqueryTableSource) and t.lateral
        ]
        own_ids = {t.identifier for t in plain_tables}
        all_ids = own_ids | {t.identifier for t in laterals} | {
            j.source.identifier for j in self.q.joins
        }
        # WHERE pushdown below an outer join is only legal on the preserved
        # side — rather than replicate Catalyst's null-semantics rules here,
        # keep every conjunct post-join when outer links exist and let
        # Catalyst (which has those rules) do the pushing
        has_outer = any(
            j.join_type.spark_how != "inner" for j in self.q.joins
        )
        filters: dict[str, list[Q.AbstractPredicate]] = {}
        joins: list[Q.AbstractPredicate] = []
        residual: list[Q.AbstractPredicate] = []
        subquery_preds: list[tuple[str, Q.AbstractPredicate]] = []

        for conj in self._conjuncts():
            kind = self._subquery_kind(conj)
            if kind is not None:
                subquery_preds.append((kind, conj))
                continue
            conj_text = conj.to_sql()
            if _has_scalar_subquery(conj_text):
                # scalar subquery in expression position: F.expr cannot
                # evaluate it in place, so LIFT it — each uncorrelated
                # single-row subquery becomes a 1-row cross-joined subplan
                # and the conjunct a residual filter over its synthetic
                # column (unsupported shapes keep the clean rejection and
                # the spark.sql route)
                self._lift_scalar_spans(
                    conj_text, self._scalar_preagg, laterals=self._scalar_laterals
                )
                residual.append(conj)
                continue
            tabs = conj.tables() & all_ids
            # fail-safe placement under PARTIAL binding: a conjunct whose
            # column set contains ANY unbound column (no table resolved —
            # e.g. an incomplete caller schema) must never be classified
            # by its *bound* columns alone. NOT(o_orderdate < … OR
            # c_custkey IN (0)) with o_orderdate unbound collapses to
            # {customer} and was pushed onto the customer scan, where
            # o_orderdate cannot resolve (fuzzer-found, round 7). Residual
            # placement is always correct — the filter sits on the joined
            # frame where every column resolves — and costs nothing
            # physically: Catalyst re-pushes it to the right scan.
            unbound = any(c.table is None for c in conj.columns())
            if has_outer or unbound or (tabs and not tabs <= own_ids):
                residual.append(conj)
            elif len(tabs) == 1:
                filters.setdefault(next(iter(tabs)), []).append(conj)
            elif len(tabs) == 2:
                joins.append(conj)
            else:
                residual.append(conj)

        # base relations with their filters (BaseTable phase)
        bases: dict[str, ra.RelNode] = {}
        for tab in plain_tables:
            node: ra.RelNode = self._leaf(tab)
            preds = filters.get(tab.identifier)
            if preds:
                node = ra.Selection(node, Q.and_(*preds).to_sql())
            bases[tab.identifier] = node

        # left-deep fold in connectivity-refined FROM order (or the
        # caller-forced order, which is an enforcement hook and stays exact)
        order = self.join_order or self._connected_order(plain_tables, joins)
        if set(order) != set(bases):
            raise UnsupportedSqlError(
                f"join order {order} does not cover FROM tables {sorted(bases)}"
            )
        tree: ra.RelNode | None = None
        joined: set[str] = set()
        pending = list(joins)
        for ident in order:
            if tree is None:
                tree = bases[ident]
                joined.add(ident)
                continue
            applicable = [
                p
                for p in pending
                if p.tables() & {ident} and (p.tables() & own_ids) <= (joined | {ident})
            ]
            for p in applicable:
                pending.remove(p)
            if applicable:
                tree = ra.ThetaJoin(
                    tree, bases[ident], Q.and_(*applicable).to_sql()
                )
            else:
                tree = ra.CrossProduct(tree, bases[ident])
            joined.add(ident)
        if tree is None:
            tree = ra.SingleRow()  # FROM-less scalar SELECT

        # correlated LATERAL subqueries → decorrelated joins; synthetic
        # LATERALs from correlated scalar subqueries in WHERE ride the
        # same machinery (GROUP BY correlation keys + LEFT join)
        for lat in laterals:
            tree = self._apply_lateral(tree, lat, own_ids)
        for src in self._scalar_laterals:
            tree = self._apply_lateral(tree, src, own_ids)

        # explicit outer/natural/cross join chain (ref ExplicitFromClause
        # qal/_qal.py:7074) — joined in written order onto the implicit tree
        joined_ids = set(own_ids)
        for j in self.q.joins:
            tree = self._apply_explicit_join(tree, j, joined_ids)
            joined_ids.add(j.source.identifier)

        # lifted scalar subqueries referenced by WHERE: 1-row cross
        # products attached before the residual filter that consumes them
        for sub in self._scalar_preagg:
            tree = ra.CrossProduct(tree, sub)

        # residual predicates (PostJoin phase) — substituted, so WHERE
        # conditions over LATERAL count columns see coalesce(…, 0), not the
        # null-extended raw column
        leftovers = pending + residual
        if leftovers:
            tree = ra.Selection(tree, self._subst(Q.and_(*leftovers).to_sql()))

        # IN/EXISTS subqueries → semi/anti joins. The OUTER scope here
        # is all_ids, not own_ids: explicit-join sources (LEFT JOIN
        # orders ...) are already in the tree at this point, and a
        # subquery correlating to one is ordinary one-level correlation
        # (the skip-level guard false-positived on own_ids — caught by
        # the generated-query corpus)
        for kind, pred in subquery_preds:
            tree = self._apply_subquery(tree, kind, pred, all_ids)

        # scalar subqueries in SELECT / HAVING / ORDER BY lift to
        # post-aggregation cross products (_finish attaches them — the
        # Grouping would drop a pre-agg constant column). In a
        # NON-aggregated query, correlated spans may additionally lift as
        # LATERAL left joins attached right here; an AGGREGATED outer
        # query would need the decorrelated join above its own Grouping
        # on possibly-non-key columns — kept on the clean-rejection path.
        def _span_free(t: str) -> str:
            for s in _scalar_subquery_spans(t):
                t = t.replace(s, "__span")
            return t

        consuming = (
            [p.expr.sql for p in self.q.select]
            + ([self.q.having.to_sql()] if self.q.having is not None else [])
            + [o.expr.sql for o in self.q.order_by]
        )
        is_aggregated = bool(self.q.group_by) or any(
            _find_agg_calls(_span_free(t)) for t in consuming
        )
        # pass 1 — spans INSIDE aggregate arguments (sum(x + (SELECT …))):
        # the Grouping evaluates the call, so these columns must exist
        # pre-aggregation. They lift under DEDICATED names (occurrence-
        # scoped: the SAME span text outside any aggregate still gets its
        # own post-agg lift in pass 2), and the agg-call substrings are
        # rewritten in the query up front.
        if is_aggregated and any(_has_scalar_subquery(t) for t in consuming):
            agg_subs: dict[str, str] = {}
            pre_plans: list[ra.RelNode] = []
            pre_laterals: list[Q.SubqueryTableSource] = []
            seen_calls: set[str] = set()
            for text in consuming:
                for call in _find_agg_calls(text):
                    # the WHOLE call text goes in (round-11): memberships
                    # inside aggregate arguments — `sum(CASE WHEN EXISTS
                    # (…) …)`, `count(*) FILTER (WHERE k IN (…))` — need
                    # their EXISTS/IN prefix visible to route onto the
                    # count-form lift; a bare span would mis-classify as
                    # a scalar subquery. These evaluate PRE-aggregation,
                    # so correlated forms decorrelate below the Grouping.
                    if call in seen_calls or not _has_scalar_subquery(call):
                        continue
                    seen_calls.add(call)
                    self._lift_scalar_spans(
                        call,
                        pre_plans,
                        laterals=pre_laterals,
                        subs_out=agg_subs,
                    )
            if pre_plans or pre_laterals:
                for sub in pre_plans:
                    tree = ra.CrossProduct(tree, sub)
                for src in pre_laterals:
                    tree = self._apply_lateral(tree, src, own_ids)

                def fix_calls(text: str) -> str:
                    out = text
                    for call in _find_agg_calls(text):
                        new_call = call
                        for s, name in agg_subs.items():
                            new_call = new_call.replace(s, name)
                        if new_call != call:
                            out = out.replace(call, new_call)
                    return out

                self.q = self.q.with_clause(
                    select=tuple(
                        Q.BaseProjection(
                            Q.SqlExpression(
                                fix_calls(p.expr.sql), p.expr.columns
                            ),
                            p.alias,
                        )
                        for p in self.q.select
                    ),
                    having=(
                        Q.UnaryPredicate(
                            Q.UnaryOperation.BARE,
                            Q.SqlExpression(fix_calls(self.q.having.to_sql())),
                        )
                        if self.q.having is not None
                        and fix_calls(self.q.having.to_sql())
                        != self.q.having.to_sql()
                        else self.q.having
                    ),
                    order_by=tuple(
                        Q.OrderByExpression(
                            Q.SqlExpression(
                                fix_calls(o.expr.sql), o.expr.columns
                            ),
                            o.ascending,
                            o.nulls_first,
                        )
                        for o in self.q.order_by
                    ),
                )
                consuming = (
                    [p.expr.sql for p in self.q.select]
                    + (
                        [self.q.having.to_sql()]
                        if self.q.having is not None
                        else []
                    )
                    + [o.expr.sql for o in self.q.order_by]
                )

        # pass 1.5 — spans inside GROUP BY KEY texts evaluate
        # PRE-aggregation (the key is an input to the Grouping), so their
        # lifts — including decorrelated membership laterals (GROUP BY
        # over an EXISTS boolean) — attach below the aggregate. Phase
        # "key" keeps pass 2 from re-lifting them post-agg: a group key
        # SURVIVES the Grouping, unlike a pre-agg constant column.
        if is_aggregated:
            gb_plans: list[ra.RelNode] = []
            gb_laterals: list[Q.SubqueryTableSource] = []
            # GROUP BY <select alias> keys resolve to the aliased
            # expression (same rule _finish applies) — the SPAN lives in
            # the select text, but the KEY is what evaluates pre-agg
            alias_exprs = {
                p.alias: p.expr.sql
                for p in self.q.select
                if p.alias and p.expr.sql != p.alias
            }
            for e in self.q.group_by:
                text = e.sql
                if re.fullmatch(r"\w+", text) and text in alias_exprs:
                    text = alias_exprs[text]
                if _has_scalar_subquery(text):
                    self._lift_scalar_spans(
                        text, gb_plans, laterals=gb_laterals, phase="key"
                    )
            for sub in gb_plans:
                tree = ra.CrossProduct(tree, sub)
            for src in gb_laterals:
                tree = self._apply_lateral(tree, src, own_ids)

        # pass 2 — spans OUTSIDE aggregates lift post-aggregation (or as
        # LATERAL left joins in a non-aggregated query)
        postagg_laterals: list[Q.SubqueryTableSource] = []
        for text in consuming:
            if _has_scalar_subquery(text):
                self._lift_scalar_spans(
                    text,
                    self._scalar_postagg,
                    laterals=None if is_aggregated else postagg_laterals,
                    phase="post",
                    relift_pre=is_aggregated,
                )
        for src in postagg_laterals:
            tree = self._apply_lateral(tree, src, own_ids)

        if self.text_subs:
            self._rewrite_consuming_clauses()
        return self._finish(tree)

    @staticmethod
    def _connected_order(plain_tables, joins) -> list[str]:
        """FROM order refined to avoid ACCIDENTAL cross products: the next
        table folded into the left-deep tree must share a join predicate
        with the already-joined set whenever any such table remains (greedy;
        FROM order breaks ties, so a FROM list that is already connected at
        every step keeps its exact order). Real-world workloads — JOB lists
        its dimension tables alphabetically with no predicates between them
        (``FROM company_type ct, info_type it, movie_companies mc, ...``) —
        would otherwise cross-product every dimension pair before the first
        fact table arrives, which is catastrophic at any scale and times out
        even on test fixtures. Deliberately cartesian queries still work:
        a disconnected component falls back to the next table in FROM order.
        Inner joins over a conjunctive WHERE are freely reorderable, so the
        result set is unchanged (the reference's optimizer makes the same
        connectivity guarantee via its join-graph traversal,
        ``opt/_joingraph.py``)."""
        idents = [t.identifier for t in plain_tables]
        if len(idents) < 3 or not joins:
            return idents
        adj: dict[str, set[str]] = {i: set() for i in idents}
        for p in joins:
            tabs = [t for t in p.tables() if t in adj]
            for a in tabs:
                for b in tabs:
                    if a != b:
                        adj[a].add(b)
        remaining = list(idents)
        order = [remaining.pop(0)]
        connected = set(adj[order[0]])
        while remaining:
            nxt = next((t for t in remaining if t in connected), remaining[0])
            remaining.remove(nxt)
            order.append(nxt)
            connected |= adj[nxt]
        return order

    def _subst(self, text: str) -> str:
        for old, new in self.text_subs.items():
            text = re.sub(rf"(?<![\w.]){re.escape(old)}(?![\w.(])", new, text)
        return text

    def _rewrite_consuming_clauses(self):
        """Apply :attr:`text_subs` to SELECT/HAVING/ORDER BY texts, keeping
        the original output column name when a substitution would otherwise
        change it (Spark derives names from the expression text)."""
        new_select = []
        for p in self.q.select:
            new_text = self._subst(p.expr.sql)
            alias = p.alias
            if new_text != p.expr.sql and alias is None:
                alias = _output_name(p.expr.sql)
            new_select.append(
                Q.BaseProjection(Q.SqlExpression(new_text, p.expr.columns), alias)
            )
        having = self.q.having
        if having is not None:
            having_sql = self._subst(having.to_sql())
            if having_sql != having.to_sql():
                having = Q.UnaryPredicate(
                    Q.UnaryOperation.BARE, Q.SqlExpression(having_sql)
                )
        self.q = self.q.with_clause(
            select=tuple(new_select),
            having=having,
            group_by=tuple(
                Q.SqlExpression(self._subst(e.sql), e.columns)
                for e in self.q.group_by
            ),
            order_by=tuple(
                Q.OrderByExpression(
                    Q.SqlExpression(self._subst(o.expr.sql), o.expr.columns),
                    o.ascending,
                    o.nulls_first,
                )
                for o in self.q.order_by
            ),
        )

    # -- explicit joins ------------------------------------------------------

    def _apply_explicit_join(
        self, tree: ra.RelNode, j: Q.JoinedTable, outer_ids: set[str] | None = None
    ) -> ra.RelNode:
        if isinstance(j.source, Q.SubqueryTableSource) and j.source.lateral:
            # [LEFT|INNER|CROSS] JOIN LATERAL (…) ON TRUE — the standard
            # Postgres idiom (round-11): the correlation lives INSIDE the
            # subquery, so the ON must be the literal TRUE; LEFT keeps
            # match-less outer rows null-extended through the same
            # decorrelated join the comma form compiles to.
            jt = j.join_type
            if jt not in (
                Q.JoinType.LEFT, Q.JoinType.INNER, Q.JoinType.CROSS
            ):
                raise UnsupportedSqlError(
                    f"{jt.value} LATERAL is not modeled — only "
                    "[LEFT] JOIN LATERAL ... ON TRUE and CROSS JOIN "
                    "LATERAL decorrelate"
                )
            if j.condition is not None and not re.fullmatch(
                r"\(*\s*true\s*\)*", j.condition.to_sql(), re.I
            ):
                raise UnsupportedSqlError(
                    "JOIN LATERAL with a non-TRUE ON condition is not "
                    "modeled — move the predicate into the subquery's "
                    "WHERE (it correlates there)"
                )
            return self._apply_lateral(
                tree,
                j.source,
                set(outer_ids or ()),
                join_how="left" if jt is Q.JoinType.LEFT else "inner",
            )
        if j.asof is not None:
            # ASOF [LEFT] JOIN (DuckDB dialect; extension beyond the
            # reference). Compiled via the union–window composition (one
            # shuffle on the match keys, operators/temporal.py's
            # algorithm — never an inequality nested loop). The output
            # carries each side as ONE struct column named by its alias
            # (qualified refs and qualified stars resolve as Spark
            # struct-field access), which constrains the supported shape:
            if not (
                len(self.q.from_tables) == 1
                and self.q.joins
                and self.q.joins[0] is j
            ):
                raise UnsupportedSqlError(
                    "ASOF JOIN is modeled as the first join over a "
                    "single probe source — pre-join into a derived "
                    "table first"
                )
            for p in self.q.select:
                if p.expr.to_sql().strip() == "*":
                    raise UnsupportedSqlError(
                        "SELECT * over an ASOF JOIN is not modeled "
                        "(the join's output is alias-struct shaped) — "
                        "use qualified stars (probe.*, right.*) or "
                        "name the columns"
                    )
            node = self._leaf(j.source)
            return ra.AsofJoin(
                tree,
                node,
                left_alias=self.q.from_tables[0].identifier,
                right_alias=j.source.identifier,
                eqs=j.asof.eqs,
                probe=j.asof.probe,
                right_ord=j.asof.right_ord,
                strict=j.asof.strict,
                forward=j.asof.forward,
                how=j.join_type.spark_how,
            )
        node = self._leaf(j.source)
        jt = j.join_type
        if jt.natural:
            return ra.NaturalJoin(tree, node, how=jt.spark_how)
        if jt is Q.JoinType.CROSS:
            return ra.CrossProduct(tree, node)
        if j.using:
            # USING = NATURAL restricted to a named key list (same merged
            # output column rules, ref JoinTableSource qal/_qal.py:6710)
            return ra.NaturalJoin(tree, node, how=jt.spark_how, using=j.using)
        if j.condition is None:
            raise UnsupportedSqlError(f"{jt.value} requires an ON condition")
        return ra.ThetaJoin(
            tree, node, j.condition.to_sql(), how=jt.spark_how
        )

    # -- LATERAL decorrelation ----------------------------------------------

    def _apply_lateral(
        self,
        tree: ra.RelNode,
        src: "Q.SubqueryTableSource",
        outer_ids: set[str],
        outer_transform=None,
        join_how: str | None = None,
    ) -> ra.RelNode:
        """Decorrelate ``, LATERAL (SELECT ... WHERE inner.k = outer.k)`` into
        a grouped join — the Spark-first execution of the reference's lateral
        flag (ref qal/_qal.py:6270; Catalyst applies the same rewrite to
        correlated subqueries via DecorrelateInnerQuery).

        Aggregate laterals (no GROUP BY in the subquery) always yield one row
        per outer tuple, so they compile to GROUP BY correlation keys + LEFT
        join, with ``count``s coalesced to 0 for match-less outer rows.
        Plain laterals compile to an inner join (comma-LATERAL = CROSS JOIN
        LATERAL: match-less outer rows drop)."""
        sub = src.query
        if sub.distinct_on:
            raise UnsupportedSqlError(
                "LATERAL subqueries with DISTINCT ON are not modeled"
            )
        if sub.limit is not None and not sub.group_by and not sub.order_by:
            raise UnsupportedSqlError(
                "LATERAL/scalar subqueries with LIMIT need ORDER BY for "
                "deterministic row choice"
            )
        # explicit JOINs inside the subquery are fine — the inner tree is
        # built by parse_relalg like any query (INNER joins fold to
        # comma-form at render time; this path carries the OUTER ones,
        # e.g. `(SELECT count(o.k) FROM c2 LEFT JOIN o ON … WHERE c2.x =
        # outer.x)`, the TPC-H Q2/Q17 family's last missing spelling).
        # Correlation must stay in WHERE: an outer reference inside an
        # ON condition changes null-extension semantics per outer row
        # and cannot be hoisted onto the grouping keys.
        for j in sub.joins:
            if j.condition is not None and j.condition.tables() & outer_ids:
                raise UnsupportedSqlError(
                    "correlated references inside a JOIN ON condition of "
                    "a LATERAL/scalar subquery are not modeled; correlate "
                    "in WHERE or execute via spark.sql"
                )
        self._check_alias_collisions(sub, outer_ids)
        inner_ids = {t.identifier for t in sub.from_tables} | {
            j.source.identifier for j in sub.joins
        }
        inner_conv = _Converter(sub, None)
        corr_eqs: list[tuple[str, str]] = []  # (outer side sql, inner side sql)
        local: list[Q.AbstractPredicate] = []
        for conj in inner_conv._conjuncts():
            skip_level = conj.tables() - inner_ids - outer_ids
            if skip_level:
                # a table from a scope MORE THAN ONE level out (nested
                # subqueries): no decorrelated form carries the
                # grandparent key through the middle join — reject
                # cleanly instead of failing at Spark analysis
                raise UnsupportedSqlError(
                    f"subquery references tables {sorted(skip_level)} "
                    "from an enclosing scope more than one level out — "
                    "flatten the nesting or execute via spark.sql"
                )
            outer_tabs = conj.tables() & outer_ids
            if not outer_tabs:
                local.append(conj)
                continue
            if not (
                isinstance(conj, Q.BinaryPredicate)
                and conj.operation is Q.LogicalOperator.EQ
            ):
                raise UnsupportedSqlError(
                    "LATERAL correlation must be equality predicates"
                )
            lhs_outer = bool(conj.lhs.tables() & outer_ids)
            outer_side = conj.lhs if lhs_outer else conj.rhs
            inner_side = conj.rhs if lhs_outer else conj.lhs
            if inner_side.tables() & outer_ids or not inner_side.tables() <= inner_ids:
                raise UnsupportedSqlError(
                    "LATERAL correlation must compare one outer to one "
                    "inner column"
                )
            corr_eqs.append((outer_side.sql, inner_side.sql))
        if not corr_eqs:
            raise UnsupportedSqlError(
                "uncorrelated LATERAL is a plain FROM-subquery; drop LATERAL"
            )

        agg_projs = [
            p for p in sub.select if _find_agg_calls(p.expr.sql)
        ]
        is_aggregate = bool(agg_projs)
        key_names = [f"__latkey{i}" for i in range(len(corr_eqs))]

        if sub.group_by:
            # grouped LATERAL (round-11): `, LATERAL (SELECT gk, agg …
            # WHERE corr GROUP BY gk [HAVING …])` — one row PER GROUP per
            # outer row. Same grouped decorrelation as EXISTS-with-HAVING:
            # the correlation columns join the GROUP BY (constant within
            # one outer row's matching rows, so group contents are
            # unchanged), then an ordinary keyed INNER join back (comma
            # LATERAL drops match-less outer rows; zero matching rows
            # form zero groups on both routes).
            if sub.limit is not None or sub.distinct:
                raise UnsupportedSqlError(
                    "LATERAL GROUP BY combined with LIMIT/DISTINCT is "
                    "not modeled — wrap the grouped subquery"
                )
            if src.scalar_left:
                raise UnsupportedSqlError(
                    "a correlated scalar subquery with GROUP BY may "
                    "yield multiple rows per outer row and is not a "
                    "scalar — use LATERAL in the FROM clause"
                )
            if sub.having is not None and sub.having.tables() & outer_ids:
                raise UnsupportedSqlError(
                    "correlated references inside the HAVING of a "
                    "LATERAL subquery are not modeled — correlate in "
                    "WHERE"
                )
            extra = tuple(
                Q.BaseProjection(Q.SqlExpression(expr), k)
                for k, (_o, expr) in zip(key_names, corr_eqs)
            )
            gb_texts = [g.sql for g in sub.group_by]
            extra_keys = [
                ic for _o, ic in corr_eqs if ic not in gb_texts
            ]
            inner_query = sub.with_clause(
                where=Q.and_(*local) if local else None,
                select=tuple(sub.select) + extra,
                group_by=tuple(sub.group_by)
                + tuple(
                    Q.SqlExpression(ic)
                    for ic in dict.fromkeys(extra_keys)
                ),
                order_by=(),
            )
            inner_tree = ra.SubqueryScan(
                parse_relalg(inner_query, scope_ctes=self.ctes),
                alias=src.alias,
            )
            cond = " AND ".join(
                f"{outer_transform(outer) if outer_transform else outer} "
                f"= {src.alias}.{k}"
                for (outer, _i), k in zip(corr_eqs, key_names)
            )
            tree = ra.ThetaJoin(
                tree, inner_tree, cond, how=join_how or "inner"
            )
            return ra.Drop(tree, tuple(key_names))

        if sub.limit is not None:
            # top-N-per-outer (round-11): `LATERAL (SELECT … WHERE corr
            # ORDER BY k LIMIT n [OFFSET m])` and the lifted correlated
            # scalar `ORDER BY … LIMIT 1` — ONE row_number window
            # partitioned on the correlation keys over the inner (Spark's
            # InferWindowGroupLimit keeps it a per-key top-n, never a full
            # per-partition sort), a rank-range filter, and a keyed join
            # back. Per key, never per outer row, at any scale.
            if is_aggregate:
                raise UnsupportedSqlError(
                    "LATERAL LIMIT over aggregate projections is not "
                    "modeled — drop the LIMIT (a global aggregate is "
                    "already one row per key)"
                )
            rn = self._gensym("latrn")
            order_items = []
            for o in sub.order_by:
                txt = f"{o.expr.sql} {'ASC' if o.ascending else 'DESC'}"
                nf = o.nulls_first if o.nulls_first is not None else False
                txt += " NULLS FIRST" if nf else " NULLS LAST"
                order_items.append(txt)
            part = ", ".join(expr for _o, expr in corr_eqs)
            extra = tuple(
                Q.BaseProjection(Q.SqlExpression(expr), k)
                for k, (_o, expr) in zip(key_names, corr_eqs)
            )
            rn_proj = Q.BaseProjection(
                Q.SqlExpression(
                    f"row_number() OVER (PARTITION BY {part} "
                    f"ORDER BY {', '.join(order_items)})"
                ),
                rn,
            )
            inner_query = sub.with_clause(
                where=Q.and_(*local) if local else None,
                select=tuple(sub.select) + extra + (rn_proj,),
                order_by=(),
                limit=None,
                offset=None,
            )
            inner_tree: ra.RelNode = ra.SubqueryScan(
                parse_relalg(inner_query, scope_ctes=self.ctes),
                alias=src.alias,
            )
            off = sub.offset or 0
            inner_tree = ra.Selection(
                inner_tree, f"{rn} > {off} AND {rn} <= {off + sub.limit}"
            )
            cond = " AND ".join(
                f"{outer_transform(outer) if outer_transform else outer} "
                f"= {src.alias}.{k}"
                for (outer, _i), k in zip(corr_eqs, key_names)
            )
            how = "left" if src.scalar_left else (join_how or "inner")
            tree = ra.ThetaJoin(tree, inner_tree, cond, how=how)
            return ra.Drop(tree, tuple(key_names) + (rn,))

        if is_aggregate:
            if len(agg_projs) != len(sub.select):
                raise UnsupportedSqlError(
                    "LATERAL aggregate subqueries must project aggregates only"
                )
            aggs: list[tuple[str, str]] = []
            count_names: list[str] = []
            for p in sub.select:
                name = p.alias or _output_name(p.expr.sql)
                if name is None:
                    raise UnsupportedSqlError(
                        "LATERAL aggregate projections need aliases"
                    )
                aggs.append((name, p.expr.sql))
                if re.match(r"\s*count\s*\(", p.expr.sql, re.I):
                    count_names.append(name)
            inner_query = sub.with_clause(
                where=Q.and_(*local) if local else None, select=(Q.star(),)
            )
            inner_tree = parse_relalg(inner_query, scope_ctes=self.ctes)
            inner_tree = ra.Map(
                inner_tree,
                tuple(
                    (k, expr) for k, (_o, expr) in zip(key_names, corr_eqs)
                ),
            )
            inner_tree = ra.Grouping(
                inner_tree, keys=tuple(key_names), aggregates=tuple(aggs)
            )
            inner_tree = ra.SubqueryScan(inner_tree, alias=src.alias)
            cond = " AND ".join(
                f"{outer_transform(outer) if outer_transform else outer} "
                f"= {src.alias}.{k}"
                for (outer, _i), k in zip(corr_eqs, key_names)
            )
            tree = ra.ThetaJoin(tree, inner_tree, cond, how="left")
            # a match-less outer row null-extends the aggregate columns, but
            # COUNT over an empty group is 0, not NULL — rewrite the
            # consuming references instead of the joined columns so the
            # subquery alias qualification stays valid
            for n in count_names:
                repl = f"coalesce({src.alias}.{n}, 0)"
                self.text_subs[f"{src.alias}.{n}"] = repl
                self.text_subs.setdefault(n, repl)
            # hide the synthetic keys: under SELECT * they would leak into
            # the output schema, and a second LATERAL's identically-named
            # keys would be ambiguous in its join condition
            return ra.Drop(tree, tuple(key_names))

        # plain lateral: local filters stay, correlation becomes the join
        extra = tuple(
            Q.BaseProjection(Q.SqlExpression(expr), k)
            for k, (_o, expr) in zip(key_names, corr_eqs)
        )
        inner_query = sub.with_clause(
            where=Q.and_(*local) if local else None,
            select=tuple(sub.select) + extra,
        )
        inner_tree = ra.SubqueryScan(
            parse_relalg(inner_query, scope_ctes=self.ctes), alias=src.alias
        )
        cond = " AND ".join(
            f"{outer_transform(outer) if outer_transform else outer} "
            f"= {src.alias}.{k}"
            for (outer, _i), k in zip(corr_eqs, key_names)
        )
        tree = ra.ThetaJoin(
            tree, inner_tree, cond, how=join_how or "inner"
        )
        # see the aggregate path: synthetic keys must not survive the join
        return ra.Drop(tree, tuple(key_names))

    # -- subquery predicates -------------------------------------------------

    @staticmethod
    def _subquery_kind(pred: Q.AbstractPredicate) -> str | None:
        if isinstance(pred, Q.InPredicate) and pred.subquery is not None:
            return "not_in" if pred.negated else "in"
        if isinstance(pred, Q.UnaryPredicate) and pred.operation in (
            Q.UnaryOperation.EXISTS,
            Q.UnaryOperation.NOT_EXISTS,
        ):
            return (
                "not_exists"
                if pred.operation is Q.UnaryOperation.NOT_EXISTS
                else "exists"
            )
        if (
            isinstance(pred, Q.CompoundPredicate)
            and pred.operation is Q.CompoundOperator.NOT
            and len(pred.children) == 1
        ):
            inner = _Converter._subquery_kind(pred.children[0])
            if inner in ("exists", "in"):
                return "not_" + inner
            if inner in ("not_exists", "not_in"):
                return inner[4:]
        return None

    @staticmethod
    def _unwrap_not(pred: Q.AbstractPredicate) -> Q.AbstractPredicate:
        while (
            isinstance(pred, Q.CompoundPredicate)
            and pred.operation is Q.CompoundOperator.NOT
        ):
            pred = pred.children[0]
        return pred

    def _apply_subquery(
        self,
        tree: ra.RelNode,
        kind: str,
        pred: Q.AbstractPredicate,
        outer_ids: set[str],
        cond_transform=None,
    ) -> ra.RelNode:
        # cond_transform rewrites OUTER-side expression text before it
        # lands in the join condition — the HAVING path maps aggregate
        # calls to their grouped column names and strips qualifiers the
        # aggregate output no longer carries
        f = cond_transform or (lambda s: s)
        pred = self._unwrap_not(pred)
        if isinstance(pred, Q.InPredicate) and not pred.row_elems:
            sub = pred.subquery
            if isinstance(sub, Q.SetQuery):
                # IN over a set query: the membership column is the
                # LEFTMOST operand's single projection (set-op output
                # naming); the combined tree joins like any subquery
                leftmost = sub
                while isinstance(leftmost, Q.SetQuery):
                    leftmost = leftmost.left
                if len(leftmost.select) != 1:
                    raise UnsupportedSqlError(
                        "IN set-query must project one column"
                    )
                sub_tree = parse_relalg(sub, scope_ctes=self.ctes)
                alias = self._gensym("insub")
                out_col = leftmost.select[0].alias or _output_name(
                    leftmost.select[0].expr.sql
                )
            elif not isinstance(sub, Q.SqlQuery):
                raise UnsupportedSqlError("IN without a query operand")
            else:
                self._check_alias_collisions(sub, outer_ids)
                if len(sub.select) != 1:
                    raise UnsupportedSqlError(
                        "IN subquery must project one column"
                    )
                sub_tree = parse_relalg(sub, scope_ctes=self.ctes)
                alias = self._gensym("insub")
                out_col = sub.select[0].alias or _output_name(
                    sub.select[0].expr.sql
                )
            if out_col is None:
                raise UnsupportedSqlError(
                    "IN subquery projection needs a derivable column name"
                )
            # rename the subquery's output to a unique name BEFORE the
            # join: `WHERE id IN (SELECT id FROM u)` would otherwise put a
            # bare `id` on both join sides and Spark raises
            # AMBIGUOUS_REFERENCE on this very common shape
            uniq = f"{alias}_key"
            sub_tree = ra.Projection(sub_tree, (f"{out_col} AS {uniq}",))
            sub_tree = ra.SubqueryScan(sub_tree, alias=alias)
            lhs = f(pred.expr.sql)
            rhs = f"{alias}.{uniq}"
            if kind == "in":
                return ra.SemiJoin(tree, sub_tree, f"{lhs} = {rhs}")
            # null-aware NOT IN (Catalyst: null-aware anti join)
            return ra.AntiJoin(
                tree, sub_tree, f"({lhs} = {rhs}) OR isnull({lhs} = {rhs})"
            )

        if isinstance(pred, Q.InPredicate):  # row-valued membership
            sub = pred.subquery
            if not isinstance(sub, Q.SqlQuery):
                raise UnsupportedSqlError(
                    "row-valued IN over a set query is not modeled"
                )
            self._check_alias_collisions(sub, outer_ids)
            if len(sub.select) != len(pred.row_elems):
                raise UnsupportedSqlError(
                    "row-valued IN needs the subquery to project exactly "
                    f"{len(pred.row_elems)} columns"
                )
            if any(p.expr.sql.strip() == "*" for p in sub.select):
                raise UnsupportedSqlError(
                    "row-valued IN subquery must project explicit columns"
                )
            alias = self._gensym("insub")
            uniq_cols = [f"{alias}_key{i}" for i in range(len(sub.select))]
            # re-alias the subquery's own projections (positional, ANSI)
            # so both unnamed expressions and outer-colliding names join
            # unambiguously
            sub = replace(
                sub,
                select=tuple(
                    Q.BaseProjection(p.expr, u)
                    for p, u in zip(sub.select, uniq_cols)
                ),
            )
            sub_tree = parse_relalg(sub, scope_ctes=self.ctes)
            sub_tree = ra.SubqueryScan(sub_tree, alias=alias)
            if kind == "in":
                # ANSI: a row matches when EVERY pair compares TRUE —
                # NULL elements never match, which the plain equality
                # conjunction preserves
                cond = " AND ".join(
                    f"{f(e.sql)} = {alias}.{u}"
                    for e, u in zip(pred.row_elems, uniq_cols)
                )
                return ra.SemiJoin(tree, sub_tree, cond)
            # null-aware row NOT IN: an outer row survives only when NO
            # inner row's equality is TRUE or UNKNOWN; row equality is
            # not-definitely-false iff every pair is TRUE-or-UNKNOWN
            cond = " AND ".join(
                f"(({f(e.sql)} = {alias}.{u}) OR "
                f"isnull({f(e.sql)} = {alias}.{u}))"
                for e, u in zip(pred.row_elems, uniq_cols)
            )
            return ra.AntiJoin(tree, sub_tree, cond)

        assert isinstance(pred, Q.UnaryPredicate)
        sub = pred.subquery
        if not isinstance(sub, Q.SqlQuery):
            raise UnsupportedSqlError("set-query inside EXISTS is not supported")
        # emptiness-invariant clauses strip (round-11): GROUP BY without
        # HAVING yields ≥1 group iff ≥1 row; ORDER BY/DISTINCT never
        # change emptiness; LIMIT n ≥ 1 keeps it, LIMIT 0 is constant
        # emptiness. HAVING changes which groups survive — the semi-join
        # decorrelation below cannot represent per-group filtering, so it
        # keeps a loud rejection.
        if sub.having is not None:
            return self._apply_exists_having(tree, kind, sub, outer_ids, f)
        if sub.limit == 0:
            # EXISTS(… LIMIT 0): constant FALSE / NOT EXISTS: TRUE
            if kind == "exists":
                return ra.Selection(tree, "FALSE")
            return tree
        if sub.offset:
            raise UnsupportedSqlError(
                "EXISTS with OFFSET changes emptiness per skipped rows "
                "and is not modeled — phrase as a count comparison"
            )
        sub = sub.with_clause(
            group_by=(), order_by=(), limit=None, offset=None,
            distinct=False, distinct_on=(), fetch_ties=False,
        )
        self._check_alias_collisions(sub, outer_ids)
        inner_ids = {t.identifier for t in sub.from_tables}
        inner_conv = _Converter(sub, None)
        correlated: list[Q.AbstractPredicate] = []
        local: list[Q.AbstractPredicate] = []
        for conj in inner_conv._conjuncts():
            skip_level = conj.tables() - inner_ids - outer_ids
            if skip_level:
                raise UnsupportedSqlError(
                    f"subquery references tables {sorted(skip_level)} "
                    "from an enclosing scope more than one level out — "
                    "flatten the nesting or execute via spark.sql"
                )
            if conj.tables() - inner_ids:
                correlated.append(conj)
            else:
                local.append(conj)
        stripped = sub.with_clause(
            where=Q.and_(*local) if local else None, select=(Q.star(),)
        )
        sub_tree = parse_relalg(stripped, scope_ctes=self.ctes)
        if not correlated:
            # an UNBOUND reference here is ambiguous, not uncorrelated: the
            # name may belong to the outer scope (ANSI resolution), which
            # this layer cannot decide without bound tables. parse_query's
            # schema binding resolves subquery names against the enclosing
            # scope, so with schema= the split is exact.
            if any(
                c.table is None for conj in local for c in conj.columns()
            ):
                raise UnsupportedSqlError(
                    "cannot decide whether EXISTS is correlated: unqualified "
                    "column inside the subquery — qualify the outer columns "
                    "or parse with parse_query(..., schema=...) so names "
                    "bind to their scopes"
                )
            raise UnsupportedSqlError(
                "uncorrelated EXISTS needs no join — phrase as LIMIT/COUNT check"
            )
        cond = f(Q.and_(*correlated).to_sql())
        if kind == "exists":
            return ra.SemiJoin(tree, sub_tree, cond)
        return ra.AntiJoin(tree, sub_tree, cond)

    def _apply_exists_having(
        self,
        tree: ra.RelNode,
        kind: str,
        sub: Q.SqlQuery,
        outer_ids: set[str],
        f,
    ) -> ra.RelNode:
        """Correlated ``EXISTS (… GROUP BY k HAVING agg-pred)`` — an
        outer row matches when AT LEAST ONE inner group, formed WITHIN
        the rows its correlation selects, survives the group filter.
        Decorrelated by the textbook grouped rewrite: every correlated
        conjunct must be an equality between an outer expression and a
        bare inner COLUMN; those columns join the GROUP BY (they are
        constant within one outer row's matching rows, so group contents
        are unchanged), HAVING filters per (correlation-key, group-key)
        group, and the survivors' correlation keys semi/anti-join back.
        Exact only when GROUP BY is present: without it the aggregate
        runs once even over ZERO matching rows (``HAVING count(*) = 0``
        is TRUE for match-less outer rows), which a join-based rewrite
        cannot represent — that shape keeps a loud rejection.

        Ref parity: the reference parses arbitrary SubLinks incl. HAVING
        bodies (/root/reference/postbound/parser.py:764-808); this is
        the Spark-native execution of the grouped shape."""
        if not sub.group_by:
            raise UnsupportedSqlError(
                "EXISTS with HAVING but no GROUP BY evaluates the "
                "aggregate over the EMPTY group too (HAVING count(*) = 0 "
                "is TRUE for outer rows with no matches) — phrase as a "
                "scalar aggregate comparison"
            )
        if sub.limit == 0:
            if kind == "exists":
                return ra.Selection(tree, "FALSE")
            return tree
        if sub.offset:
            raise UnsupportedSqlError(
                "EXISTS with OFFSET changes emptiness per skipped rows "
                "and is not modeled — phrase as a count comparison"
            )
        self._check_alias_collisions(sub, outer_ids)
        inner_ids = {t.identifier for t in sub.from_tables}
        if sub.having.tables() - inner_ids:
            raise UnsupportedSqlError(
                "correlated references inside the HAVING of an EXISTS "
                "subquery are not modeled — correlate in WHERE"
            )
        inner_conv = _Converter(sub, None)
        correlated: list[Q.AbstractPredicate] = []
        local: list[Q.AbstractPredicate] = []
        for conj in inner_conv._conjuncts():
            skip_level = conj.tables() - inner_ids - outer_ids
            if skip_level:
                raise UnsupportedSqlError(
                    f"subquery references tables {sorted(skip_level)} "
                    "from an enclosing scope more than one level out — "
                    "flatten the nesting or execute via spark.sql"
                )
            if conj.tables() - inner_ids:
                correlated.append(conj)
            else:
                local.append(conj)
        if not correlated:
            raise UnsupportedSqlError(
                "uncorrelated EXISTS needs no join — phrase as "
                "LIMIT/COUNT check"
            )
        pairs: list[tuple[str, str]] = []  # (outer expr, inner column)
        for conj in correlated:
            if not (
                isinstance(conj, Q.BinaryPredicate)
                and conj.operation is Q.LogicalOperator.EQ
            ):
                raise UnsupportedSqlError(
                    "EXISTS with HAVING needs equality correlation (the "
                    "correlation column becomes a group key) — got "
                    f"{conj.to_sql()!r}"
                )
            # the outer side is the one referencing outer tables; the
            # inner side may be UNQUALIFIED (tables() empty) — Spark
            # resolves it inside the grouped subquery, loudly erroring
            # if it was actually an outer name
            lhs_outer = bool(conj.lhs.tables() - inner_ids)
            outer_e = conj.lhs if lhs_outer else conj.rhs
            inner_e = conj.rhs if lhs_outer else conj.lhs
            if (
                not (inner_e.tables() - inner_ids)
                and not (outer_e.tables() & inner_ids)
                and re.fullmatch(
                    r"(?:[\w$]+\.)?(?!\d)[\w$]+", inner_e.sql.strip()
                )
            ):
                pairs.append((outer_e.sql, inner_e.sql.strip()))
            else:
                raise UnsupportedSqlError(
                    "EXISTS-with-HAVING correlation must compare one "
                    "outer expression to one bare inner column — got "
                    f"{conj.to_sql()!r}"
                )
        alias = self._gensym("exsub")
        uniq = [f"{alias}_key{i}" for i in range(len(pairs))]
        # correlation keys join the group keys (dedup keeps group
        # granularity when a key is already grouped)
        gb_texts = [g.sql for g in sub.group_by]
        extra_keys = [
            ic for _, ic in pairs
            if ic not in gb_texts
        ]
        grouped = sub.with_clause(
            select=tuple(
                Q.BaseProjection(Q.SqlExpression(ic), u)
                for (_, ic), u in zip(pairs, uniq)
            ),
            # correlated conjuncts reference OUTER tables — they become
            # the join condition, never inner filter text
            where=Q.and_(*local) if local else None,
            group_by=tuple(sub.group_by)
            + tuple(Q.SqlExpression(ic) for ic in dict.fromkeys(extra_keys)),
            order_by=(),
            limit=None,
            offset=None,
            distinct=False,
            distinct_on=(),
            fetch_ties=False,
        )
        sub_tree = ra.SubqueryScan(
            parse_relalg(grouped, scope_ctes=self.ctes), alias=alias
        )
        cond = " AND ".join(
            f"{f(oe)} = {alias}.{u}" for (oe, _), u in zip(pairs, uniq)
        )
        if kind == "exists":
            return ra.SemiJoin(tree, sub_tree, cond)
        return ra.AntiJoin(tree, sub_tree, cond)

    def _check_alias_collisions(self, sub: Q.SqlQuery, outer_ids: set[str]):
        inner_ids = {t.identifier for t in sub.from_tables}
        clash = inner_ids & outer_ids
        if clash:
            raise UnsupportedSqlError(
                f"subquery reuses outer table identifiers {sorted(clash)}; "
                "alias the subquery tables distinctly"
            )

    # -- grouping / projection / sort / limit --------------------------------

    def _finish(self, tree: ra.RelNode) -> ra.RelNode:
        q = self.q
        # GROUP BY <select alias> resolves to the aliased expression
        # (Postgres/DuckDB output-name semantics; Spark's own
        # groupByAliases). Only bare identifiers substitute, and only when
        # the alias renames something (expression or qualified column).
        # Known divergence from Postgres: when an alias shadows an
        # unrelated input column of the same name, Postgres prefers the
        # input column — here the alias wins; self-aliases (``x AS x``)
        # fall through to the column either way.
        alias_exprs = {
            p.alias: p.expr.sql
            for p in q.select
            if p.alias and p.expr.sql != p.alias
        }
        group_texts: list[str] = []
        # a substituted key keeps its alias as the key column name: two
        # aliases of the same underlying column (nc.n_name AS c_nation,
        # ns.n_name AS s_nation) must not collapse onto one derived name
        preferred_names: dict[str, str] = {}
        for g in q.group_by:
            if re.fullmatch(r"\w+", g.sql) and g.sql in alias_exprs:
                expr_text = alias_exprs[g.sql]
                preferred_names[expr_text] = g.sql
                group_texts.append(expr_text)
            else:
                group_texts.append(g.sql)
        # HAVING may reference a select ALIAS of an aggregate
        # (`count(*) AS c … HAVING c > 4` — DuckDB resolves the alias;
        # wave-7 probe find): expand aggregate-defining aliases into
        # their expressions so the ordinary agg-call hoist sees them.
        # Group-key aliases already resolve through the key rename table.
        # DuckDB column-beats-alias (advisor-found): a bare HAVING name
        # that ALSO names an input column resolves to the COLUMN — so
        # `count(*) AS n_regionkey … HAVING n_regionkey > 2` filters on
        # the grouped column, not the count. The builder carries no
        # catalog, so "names a column" is approximated by the columns the
        # query itself references (SELECT expressions, WHERE, GROUP BY —
        # NOT HAVING, whose bare names are what we're resolving) plus the
        # unqualified group-key names. A shadowed alias is simply not
        # expanded; the bare name then resolves as the column. Residual:
        # an alias shadowing a FROM column the query never references
        # elsewhere still expands (DuckDB would reject it as ungrouped).
        shadowed: set[str] = set()
        for g in q.group_by:
            m_key = re.fullmatch(r"([\w$]+\.)?([\w$]+)", g.sql)
            if m_key:
                shadowed.add(m_key.group(2).lower())
            shadowed.update(c.name.lower() for c in g.columns)
        for p in q.select:
            shadowed.update(c.name.lower() for c in p.expr.columns)
        if q.where is not None:
            shadowed.update(c.name.lower() for c in q.where.columns())
        agg_aliases = {
            p.alias: p.expr.sql
            for p in q.select
            if p.alias
            and p.alias != p.expr.sql
            and p.alias.lower() not in shadowed
            and _find_agg_calls(p.expr.sql)
        }
        if q.having is not None and agg_aliases:
            h_text = q.having.to_sql()
            new_h = h_text
            for a, ex in agg_aliases.items():
                new_h = _sub_outside_literals(
                    rf"(?<![\w$.]){re.escape(a)}(?![\w$])",
                    f"({ex})".replace("\\", "\\\\"),
                    new_h,
                )
            if new_h != h_text:
                q = replace(
                    q,
                    having=Q.UnaryPredicate(
                        Q.UnaryOperation.BARE, Q.SqlExpression(new_h)
                    ),
                )
                self.q = q

        select_texts = [p.expr.sql for p in q.select]
        # scalar subqueries in PROJECTION position: F.expr cannot evaluate
        # them against another relation, and letting them through mangles
        # the aggregate scope (found by probing: the inner max() resolved
        # against the OUTER frame). Same clean rejection the predicate
        # path gives — the spark.sql path executes these fine.
        for text in select_texts:
            if _has_scalar_subquery(text):
                raise UnsupportedSqlError(
                    "scalar subqueries in the SELECT list are not "
                    "compilable by the algebra path; execute via "
                    "spark.sql / the registry SQL path "
                    "(e.g. expr_scalar_subquery)"
                )
        has_aggs = any(_find_agg_calls(t) for t in select_texts) or bool(
            q.having is not None and _find_agg_calls(q.having.to_sql())
        )

        if not group_texts and not has_aggs:
            if self._having_memberships:
                raise UnsupportedSqlError(
                    "HAVING with subquery predicates but no aggregation is "
                    "not modeled — phrase the condition in WHERE"
                )
            for sub in self._scalar_postagg:
                tree = ra.CrossProduct(tree, sub)
            return self._finish_plain(tree)


        # ---- Map: pre-compute expression group keys (ref relalg.py:2719) --
        key_names: dict[str, str] = {}
        map_exprs: list[tuple[str, str]] = []
        used_names: set[str] = set()
        for g in group_texts:
            preferred = preferred_names.get(g)
            name = preferred or _output_name(g)
            if name is None or name in used_names or (
                preferred is None and "." in g
            ):
                # gensym when: no derivable name; two keys share one
                # unqualified name (GROUP BY a.k, b.k); or the key is a
                # QUALIFIED column — its bare name may exist on several
                # joined tables (it.info with mi.info also in scope), and
                # both the Map's withColumns and the groupBy would then
                # hit AMBIGUOUS_REFERENCE. The post-aggregation projection
                # renames the gensym to the SQL-visible output name, so
                # result schemas are unaffected.
                name = self._gensym("key")
                map_exprs.append((name, g))
            elif preferred is not None:
                # an alias-substituted key always maps under its alias: the
                # input may hold the same unqualified column from several
                # tables (nc.n_name / ns.n_name), so grouping by the bare
                # derived name would be ambiguous
                map_exprs.append((name, g))
            used_names.add(name)
            key_names[g] = name
        if map_exprs:
            tree = ra.Map(tree, tuple(map_exprs))

        def dequalify_keys(text: str) -> str:
            """Replace mapped group-key texts inside an expression body.

            The Map above REPLACES a qualified key column (``orders.
            o_orderstatus``) with an unqualified alias of the same data,
            so any later reference to the qualified form — inside an
            aggregate argument, HAVING, or the output projection — would
            dangle (Spark drops the qualifier on the replaced attribute).
            Word-boundary regex, longest key first, so one key text can
            never mangle another's substring."""
            for g in sorted(
                (g for g, n in key_names.items() if g != n),
                key=len,
                reverse=True,
            ):
                text = re.sub(
                    rf"(?<![\w$.]){re.escape(g)}(?![\w$])", key_names[g], text
                )
            return text

        # ---- collect aggregate calls from SELECT / HAVING / ORDER BY ------
        agg_names: dict[str, str] = {}

        def register_calls(text: str):
            for call in _find_agg_calls(text):
                if call not in agg_names:
                    agg_names[call] = self._gensym("agg")

        for p in q.select:
            if p.expr.sql not in key_names:
                register_calls(p.expr.sql)
        if q.having is not None:
            register_calls(q.having.to_sql())
        for o in q.order_by:
            register_calls(o.expr.sql)

        def rewrite(text: str) -> str:
            for call, name in sorted(
                agg_names.items(), key=lambda kv: -len(kv[0])
            ):
                text = text.replace(call, name)
            return text

        tree = ra.Grouping(
            tree,
            keys=tuple(key_names[g] for g in group_texts),
            aggregates=tuple(
                (name, dequalify_keys(call)) for call, name in agg_names.items()
            ),
        )

        # scalar subqueries referenced by HAVING / SELECT / ORDER BY attach
        # AFTER the aggregate (1-row broadcast cross products), where their
        # synthetic columns are consumed
        for sub in self._scalar_postagg:
            tree = ra.CrossProduct(tree, sub)

        # outer-reference rename machinery for subtrees attached ABOVE the
        # aggregate (HAVING memberships, select/HAVING-position
        # membership-count and correlated-scalar laterals): outer
        # references must name group keys (qualified or via select alias)
        # or aggregate calls — the transform maps them to the aggregate's
        # output columns; anything else fails loudly at Spark analysis,
        # never silently
        grouped_cols = set(key_names.values()) | set(agg_names.values())
        outer_ids = {t.identifier for t in q.from_tables} | {
            j.source.identifier for j in q.joins
        }
        alias_to_key = {
            p.alias: key_names[p.expr.sql]
            for p in q.select
            if p.alias and p.expr.sql in key_names
        }

        # bare source-column text -> grouped output name (covers keys
        # grouped under a select alias: GROUP BY k with k = n_regionkey
        # outputs column k, so t.n_regionkey must map to k)
        bare_to_key: dict[str, str] = {}
        for g, kn in key_names.items():
            m = re.fullmatch(r"(?:([\w$]+)\.)?([\w$]+)", g)
            if m:
                bare_to_key[m.group(2)] = kn

        # UNQUALIFIED spellings of a qualified group key (GROUP BY
        # n.n_regionkey … HAVING/ORDER BY/SELECT n_regionkey): the key
        # column rides under a mapped name above the aggregate, so
        # standalone bare identifiers resolve through it — DuckDB's
        # column-beats-alias rule (the bare name is the grouped COLUMN
        # even when a select alias shares it; advisor-found). Names bare
        # across TWO different keys (GROUP BY a.k, b.k) are ambiguous and
        # stay unmapped — Spark analysis then fails loudly, as DuckDB does.
        unambiguous_bare: dict[str, str] = {}
        for g, kn in key_names.items():
            m = re.fullmatch(r"(?:([\w$]+)\.)?([\w$]+)", g)
            if not m:
                continue
            b = m.group(2)
            if b in unambiguous_bare and unambiguous_bare[b] != kn:
                unambiguous_bare[b] = b  # ambiguous — leave untouched
            else:
                unambiguous_bare.setdefault(b, kn)

        def debare(text: str) -> str:
            return _sub_outside_literals(
                r"(?<![\w$.])([\w$]+)(?![\w$(.])",
                lambda m: unambiguous_bare.get(m.group(1), m.group(1)),
                text,
            )

        def degroup(text: str) -> str:
            text = dequalify_keys(rewrite(text))
            # outer-qualified references to grouped columns lose their
            # qualifier above the aggregate (t.col -> its key name)
            text = _sub_outside_literals(
                r"(?<![\w$])([\w$]+)\.([\w$]+)",
                lambda m: bare_to_key.get(m.group(2), m.group(2))
                if m.group(1) in outer_ids
                and (
                    m.group(2) in grouped_cols
                    or m.group(2) in bare_to_key
                )
                else m.group(0),
                text,
            )
            # select-alias references resolve to their key columns
            for a, k in alias_to_key.items():
                if a != k:
                    text = _sub_outside_literals(
                        rf"(?<![\w$.]){re.escape(a)}(?![\w$])", k, text
                    )
            return text

        # membership-count and correlated-scalar laterals from
        # SELECT/HAVING/ORDER BY of this aggregated query: decorrelated
        # LEFT joins keyed on the grouped output columns — attached
        # BEFORE the HAVING filter, which may consume their columns
        for src in self._agg_member_laterals:
            tree = self._apply_lateral(
                tree, src, outer_ids, outer_transform=degroup
            )

        if q.having is not None:
            tree = ra.Selection(
                tree, debare(dequalify_keys(rewrite(q.having.to_sql())))
            )

        for kind, conj in self._having_memberships:
            tree = self._apply_subquery(
                tree,
                kind,
                conj,
                outer_ids,
                cond_transform=degroup,
            )

        # ---- final projection (PostAggregation phase) ---------------------
        out_cols: list[str] = []
        out_names: dict[str, str] = {}  # select text -> output column name
        for p in q.select:
            text = p.expr.sql
            if text in key_names:
                base = key_names[text]
            else:
                base = debare(dequalify_keys(rewrite(text)))
            name = p.alias or _output_name(text) or _output_name(base)
            if name is None:
                name = self._gensym("col")
            out_cols.append(f"{base} AS {name}" if base != name else base)
            out_names[text] = name
        tree = ra.Projection(tree, tuple(out_cols))

        if q.distinct_on:
            # DISTINCT ON over an AGGREGATED query (round-11; Postgres
            # allows it — top-group-per-key): the first output row per
            # key under the query's ORDER BY, applied ABOVE the final
            # projection so keys and tiebreakers resolve as OUTPUT
            # columns — the same one-shuffle row_number plan as the
            # plain path (_finish_plain).
            if not q.order_by:
                raise UnsupportedSqlError(
                    "DISTINCT ON needs ORDER BY for deterministic row "
                    "choice"
                )

            def to_output(text: str) -> str:
                resolved = out_names.get(text) or (
                    text if text in out_names.values() else None
                )
                if resolved is None:
                    raise UnsupportedSqlError(
                        "DISTINCT ON over aggregation resolves keys and "
                        "ORDER BY against the OUTPUT columns — project "
                        f"and alias {text!r} in the select list"
                    )
                return resolved

            part = ", ".join(to_output(e.sql) for e in q.distinct_on)
            order_items = []
            for o in q.order_by:
                txt = (
                    f"{to_output(o.expr.sql)} "
                    f"{'ASC' if o.ascending else 'DESC'}"
                )
                nf = o.nulls_first if o.nulls_first is not None else False
                txt += " NULLS FIRST" if nf else " NULLS LAST"
                order_items.append(txt)
            rn = self._gensym("rn")
            tree = ra.Map(
                tree,
                ((rn, f"row_number() OVER (PARTITION BY {part} "
                      f"ORDER BY {', '.join(order_items)})"),),
            )
            tree = ra.Selection(tree, f"{rn} = 1")
            tree = ra.Drop(tree, (rn,))

        if q.distinct:
            tree = ra.DuplicateElimination(tree)

        sort_keys: tuple[ra.SortKey, ...] = ()
        if q.order_by:
            keys = []
            for o in q.order_by:
                text = o.expr.sql
                resolved = (
                    out_names.get(text)
                    or (text if text in out_names.values() else None)
                    or (rewrite(text) if text in agg_names else None)
                )
                if resolved is None:
                    resolved = debare(dequalify_keys(rewrite(text)))
                keys.append(ra.SortKey(resolved, o.ascending, o.nulls_first))
            sort_keys = tuple(keys)
            tree = ra.Sort(tree, sort_keys)

        return self._limit(tree, sort_keys)

    def _finish_plain(self, tree: ra.RelNode) -> ra.RelNode:
        q = self.q
        if q.distinct_on:
            # DISTINCT ON (keys) ... ORDER BY keys, tiebreak → first row per
            # key group (Postgres semantics, ref Select ctor qal/_qal.py:5867).
            # Spark lacks DISTINCT ON; the scale-correct plan is a
            # row_number() window partitioned by the keys — one shuffle on
            # the key columns, no driver involvement
            if not q.order_by:
                raise UnsupportedSqlError(
                    "DISTINCT ON needs ORDER BY for deterministic row choice"
                )
            if len(q.select) == 1 and q.select[0].expr.sql == "*":
                raise UnsupportedSqlError(
                    "DISTINCT ON with SELECT * is not modeled; list columns"
                )
            part = ", ".join(e.sql for e in q.distinct_on)
            order_items = []
            for o in q.order_by:
                txt = f"{o.expr.sql} {'ASC' if o.ascending else 'DESC'}"
                nf = (
                    o.nulls_first if o.nulls_first is not None else False
                )  # NULLS LAST default, matches visit_sort
                txt += " NULLS FIRST" if nf else " NULLS LAST"
                order_items.append(txt)
            rn = self._gensym("rn")
            tree = ra.Map(
                tree,
                ((rn, f"row_number() OVER (PARTITION BY {part} "
                      f"ORDER BY {', '.join(order_items)})"),),
            )
            tree = ra.Selection(tree, f"{rn} = 1")
        aliases = {p.alias for p in q.select if p.alias}
        # an ORDER BY EXPRESSION over an output alias (`ORDER BY CAST(num
        # AS INT)` where num is a select alias) cannot resolve below the
        # projection — inline the alias's defining expression (word-
        # boundary, renaming aliases only), matching DuckDB's output-name
        # resolution; bare alias keys keep the above-projection path
        alias_expr = {
            p.alias: p.expr.sql
            for p in q.select
            if p.alias and p.expr.sql != p.alias
        }
        if alias_expr and any(
            o.expr.sql not in aliases
            and re.search(
                r"(?<![\w$.])(" + "|".join(map(re.escape, alias_expr)) + r")(?![\w$])",
                o.expr.sql,
            )
            for o in q.order_by
        ):
            def _inline_alias(text: str) -> str:
                if text in aliases:
                    return text
                for a, ex in alias_expr.items():
                    text = _sub_outside_literals(
                        rf"(?<![\w$.]){re.escape(a)}(?![\w$])",
                        f"({ex})".replace("\\", "\\\\"),
                        text,
                    )
                return text

            q = replace(
                q,
                order_by=tuple(
                    replace(
                        o,
                        expr=Q.SqlExpression(
                            _inline_alias(o.expr.sql), o.expr.columns
                        ),
                    )
                    for o in q.order_by
                ),
            )
            self.q = q
        sort_uses_alias = any(
            o.expr.sql in aliases for o in q.order_by
        )
        is_star = len(q.select) == 1 and q.select[0].expr.sql == "*"

        def project(node: ra.RelNode) -> ra.RelNode:
            if is_star:
                return node
            cols = tuple(
                f"{p.expr.sql} AS {p.alias}" if p.alias else p.expr.sql
                for p in q.select
            )
            return ra.Projection(node, cols)

        sort_keys = tuple(
            ra.SortKey(o.expr.sql, o.ascending, o.nulls_first)
            for o in q.order_by
        )

        def sort(node: ra.RelNode) -> ra.RelNode:
            if not sort_keys:
                return node
            return ra.Sort(node, sort_keys)

        prior = q.fetch_direction in ("prior", "last") and q.limit is not None
        # sort keys that are OUTPUT columns (aliases or plain select
        # columns) can sort above the projection — which is what lets
        # FETCH PRIOR combine with DISTINCT for the valid-SQL case where
        # the ORDER BY keys sit in the select list; a `*` item passes every
        # plain FROM column through
        output_names = {p.alias or _output_name(p.expr.sql) for p in q.select}
        output_names.discard(None)
        sort_in_output = bool(sort_keys) and all(
            o.expr.sql in output_names
            or any(_star_passes(p.expr.sql, o.expr.sql) for p in q.select)
            for o in q.order_by
        )
        # window functions in the SELECT list: the window's own exchange
        # (hash partitioning on its PARTITION BY keys) destroys any row
        # order established BELOW the projection, so `project(sort(...))`
        # silently feeds LIMIT arbitrary rows (grammar-v17 probe find,
        # round 9). The Sort must sit ABOVE a window-bearing projection.
        has_window = any(
            re.search(
                r"\bover\s*\(", _STRING_LITERAL_RE.sub("''", p.expr.sql), re.I
            )
            for p in q.select
        )
        if has_window and sort_keys and not q.distinct:
            if prior:
                # the inverted-limit pipeline cuts BELOW the projection,
                # which would compute the windows over the limited subset
                raise UnsupportedSqlError(
                    "FETCH PRIOR/LAST with window functions in the select "
                    "list is not modeled; use the registry SQL path"
                )
            if sort_in_output:
                return self._limit(sort(project(tree)), sort_keys)
            # ORDER BY references columns the projection drops (possibly
            # mixed with alias keys — the helper map leaves resolvable
            # keys untouched): carry
            # them through under generated names, sort+limit above the
            # windows, then strip the helpers
            out_names = []
            for p in q.select:
                name = p.alias or _output_name(p.expr.sql)
                if name is None:
                    raise UnsupportedSqlError(
                        "window functions with ORDER BY on non-output "
                        "columns need aliases on every computed select "
                        "item"
                    )
                out_names.append(name)
            helpers = {
                o.expr.sql: self._gensym("ord")
                for o in q.order_by
                if o.expr.sql not in output_names
            }
            ext_cols = tuple(
                f"{p.expr.sql} AS {p.alias}" if p.alias else p.expr.sql
                for p in q.select
            ) + tuple(f"{expr} AS {name}" for expr, name in helpers.items())
            ext_keys = tuple(
                ra.SortKey(
                    helpers.get(o.expr.sql, o.expr.sql),
                    o.ascending,
                    o.nulls_first,
                )
                for o in q.order_by
            )
            limited = self._limit(
                ra.Sort(ra.Projection(tree, ext_cols), ext_keys), ext_keys
            )
            return ra.Projection(limited, tuple(out_names))
        if q.distinct:
            # DISTINCT evaluates before ORDER BY, and Spark's dedup is an
            # aggregate: a Sort placed BELOW it is eliminated outright
            # (EliminateSorts), so Limit would then pick arbitrary rows.
            # The sort must sit ABOVE the dedup — valid SQL forces DISTINCT
            # sort keys into the select list, so they resolve above the
            # projection; anything else fails loudly at analysis.
            if prior and sort_keys and not (sort_uses_alias or sort_in_output):
                raise UnsupportedSqlError(
                    "FETCH PRIOR/LAST with DISTINCT requires the ORDER BY "
                    "keys in the select list"
                )
            tree = ra.DuplicateElimination(project(tree))
            return self._limit(sort(tree), sort_keys)
        if sort_uses_alias:
            return self._limit(sort(project(tree)), sort_keys)
        if prior and sort_keys:
            # the whole inverted-window pipeline (sort → invert+limit →
            # restore) goes BELOW the projection: the ORDER BY may
            # reference columns the SELECT list drops, which an inverted
            # Sort placed above the projection could not resolve
            return project(self._limit(sort(tree), sort_keys))
        if q.fetch_ties and q.limit is not None and sort_keys:
            # same placement rule as PRIOR: the rank()-window cutoff must
            # see the ORDER BY columns, which the projection may drop
            return project(self._limit(sort(tree), sort_keys))
        return self._limit(project(sort(tree)), sort_keys)

    def _limit(
        self, tree: ra.RelNode, sort_keys: tuple[ra.SortKey, ...] = ()
    ) -> ra.RelNode:
        q = self.q
        if q.limit is None and q.offset is None:
            return tree
        if q.fetch_ties and q.limit is not None:
            return _ties_cutoff(tree, sort_keys, q.limit, q.offset)
        if q.fetch_direction in ("prior", "last") and q.limit is not None:
            # FETCH PRIOR/LAST n — select from the END of the result order
            # (ref FetchDirection qal/_qal.py:7548): invert every sort key,
            # take n (+offset) there, then restore presentation order. The
            # inner Sort+Limit fuses into TakeOrderedAndProject under
            # Catalyst, so the rewrite costs one top-n, not a global sort.
            if not sort_keys:
                raise UnsupportedSqlError(
                    "FETCH PRIOR/LAST requires ORDER BY for a deterministic "
                    "result window"
                )
            inverted = tuple(
                ra.SortKey(
                    k.expression,
                    not k.ascending,
                    # the DEFAULT placement is NULLS LAST in BOTH
                    # directions (compiler.py visit_sort), so an exact
                    # reversal must make the flipped placement EXPLICIT
                    not (
                        k.nulls_first
                        if k.nulls_first is not None
                        else False
                    ),
                )
                for k in sort_keys
            )
            tree = ra.Sort(tree, inverted)
            tree = ra.Limit(tree, limit=q.limit, offset=q.offset)
            return ra.Sort(tree, sort_keys)
        return ra.Limit(tree, limit=q.limit, offset=q.offset)
