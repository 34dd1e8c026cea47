"""The optimizer-research loop, end to end.

The reference exists to *study* optimizers: run a workload through one or
more optimizer stages, execute the resulting plans, and collect runtimes
plus estimate-quality metrics per plan node (rbergm/PostBOUND
``postbound/bench.py:1019-1235`` — ``execute_workload`` result rows with
``exec_time``/``optimization_time``; ``postbound/_qep.py:1575`` —
per-node q-error; ``examples/experiment-job-true-card-runtimes.py`` — the
canonical experiment script). This module is that loop on Spark:

- queries come from a :class:`~postbound_spark.workloads.Workload`-style
  ``{label: sql}`` dict (JOB-light shaped corpus by default);
- each query is parsed by the native parser, its join graph projected to
  a ``QuerySpec``, per-table filters pushed onto aliased frames, and the
  chosen strategy (Catalyst-native order, UES pessimistic order, or the
  Postgres-style DP) decides the join order the algebra converter then
  folds **by construction** — the reference's enforcement-first pattern;
- execution measures wall-clock, and the executed Spark plan is read
  back as a ``PlanNode`` tree whose per-node (estimate, actual) pairs
  yield q-errors — the EXPLAIN ANALYZE analog;
- rows land in a pandas frame and optionally a parquet file, mirroring
  the reference's progressive result files.

The UES invariant this loop exists to demonstrate (CIDR'21): the bound
annotated at the join-tree root is a true *upper bound* of the actual
join cardinality — checked for the whole 70-query corpus in
``tests/test_experiments.py``.
"""

from __future__ import annotations

import itertools
import math
import time
import warnings
from collections.abc import Mapping

import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

RESULT_COLUMNS = [
    "label",
    "strategy",
    "optimization_time",
    "exec_time",
    "result_rows",
    "actual_card",
    "ues_bound",
    "join_order",
    "n_plan_nodes",
    "max_qerror",
    "mean_qerror",
    "result_fingerprint",
]


def _result_fingerprint(rows) -> str:
    """Order-insensitive hash of a collected result: floats rounded to 6
    significant digits (join order perturbs double accumulation order),
    rows sorted textually. Two strategies executing the same query MUST
    produce the same fingerprint — the matrix's result-invariance gate."""
    import hashlib

    def norm(v):
        if isinstance(v, float):
            return f"{v:.6g}"
        return repr(v)

    lines = sorted("\x1f".join(norm(v) for v in row) for row in rows)
    return hashlib.md5("\n".join(lines).encode()).hexdigest()


def imdb_shaped_frames(n_titles: int = 300) -> dict[str, pd.DataFrame]:
    """Deterministic IMDB-shaped fixture tables for the JOB-light corpus
    (same schema the real workload queries; ref workloads.py:46-53). Kept
    here so tests and experiment scripts share one data definition."""

    def seq(i: int, mod: int) -> int:
        return (i * 7919) % mod  # deterministic pseudo-spread

    return {
        "title": pd.DataFrame(
            {
                "id": range(n_titles),
                "kind_id": [seq(i, 4) for i in range(n_titles)],
                "production_year": [1980 + seq(i, 45) for i in range(n_titles)],
            }
        ),
        "cast_info": pd.DataFrame(
            {
                "movie_id": [seq(i, n_titles) for i in range(900)],
                "role_id": [seq(i, 11) for i in range(900)],
                "person_id": [seq(i, 200) for i in range(900)],
            }
        ),
        "movie_companies": pd.DataFrame(
            {
                "movie_id": [seq(i + 1, n_titles) for i in range(500)],
                "company_type_id": [seq(i, 5) for i in range(500)],
                "company_id": [seq(i, 60) for i in range(500)],
            }
        ),
        "movie_info": pd.DataFrame(
            {
                "movie_id": [seq(i + 2, n_titles) for i in range(700)],
                "info_type_id": [seq(i, 20) for i in range(700)],
            }
        ),
        "movie_info_idx": pd.DataFrame(
            {
                "movie_id": [seq(i + 3, n_titles) for i in range(400)],
                "info_type_id": [seq(i, 8) for i in range(400)],
            }
        ),
        "movie_keyword": pd.DataFrame(
            {
                "movie_id": [seq(i + 4, n_titles) for i in range(800)],
                "keyword_id": [seq(i, 90) for i in range(800)],
            }
        ),
    }


def register_frames(spark: SparkSession, frames: Mapping[str, pd.DataFrame]) -> dict[str, DataFrame]:
    """Materialize pandas fixtures as cached temp views; returns the Spark
    frames keyed by table name. Caching matters: every optimizer stage and
    every repetition re-reads these, and re-building the LocalRelation per
    access would pollute the measured times."""
    out = {}
    for name, pdf in frames.items():
        df = spark.createDataFrame(pdf).cache()
        df.count()  # materialize now, not inside the first measured query
        df.createOrReplaceTempView(name)
        out[name] = df
    return out


def _prepared_tables(parsed, base: Mapping[str, DataFrame]) -> dict[str, DataFrame]:
    """Aliased frames with the query's single-table filters pushed down —
    the placement every ordering stage assumes (filters below joins;
    ref relalg.py:2813 EvaluationPhase)."""
    preds = parsed.predicates()
    out: dict[str, DataFrame] = {}
    for tref in parsed.from_tables:
        df = base[tref.full_name].alias(tref.identifier)
        table_filters = preds.filters_for(tref.identifier)
        if table_filters:
            df = df.filter(F.expr(" AND ".join(p.to_sql() for p in table_filters)))
        out[tref.identifier] = df
    return out


#: above this table count the DP strategies switch from bushy/full search
#: to the linear (zig-zag) space — the same pragmatic cliff PG's own
#: join_collapse_limit models (3^n full search tops out around here)
LINEAR_SEARCH_ABOVE = 10


class _MatrixContext:
    """Shared per-run state for the strategy loop: the TONIC trie being
    trained and the last forced JoinTree per query (TONIC replays
    operators onto it). The statistics the ues/dp/pgdp strategies read
    are not run state: they live in the session memo
    (:func:`~postbound_spark.optimizer.stats.table_profile`), shared by
    every strategy, query and run on the session."""

    def __init__(
        self, trie_path: str | None = None, tonic_filter_aware: bool = False
    ):
        from postbound_spark.optimizer.tonic import TonicOperatorSelection

        self.tonic = TonicOperatorSelection(filter_aware=tonic_filter_aware)
        self.trie_path = trie_path
        self.last_tree = None  # most recent forced JoinTree (current query)

    def tonic_filters(self, parsed):
        """Per-identifier filter fingerprints for the trie, or None in
        plain (non-filter-aware) mode — one derivation shared by the
        train and replay sides so their keys can never diverge."""
        if not self.tonic.filter_aware:
            return None
        from postbound_spark.optimizer.tonic import filter_fingerprints

        return filter_fingerprints(parsed)

    def replay_tonic(self):
        """The trie TONIC replays from: round-tripped through save/load
        when a path is configured (pinning serialization inside the loop,
        the reference's train→persist→replay cycle), else the live one."""
        from postbound_spark.optimizer.tonic import TonicOperatorSelection

        if self.trie_path is None:
            return self.tonic
        self.tonic.save(self.trie_path)
        return TonicOperatorSelection.load(self.trie_path)


def _plan_order(spark, strategy: str, parsed, spec, tables, context=None):
    """Returns (join_order | None, ues_root_bound, assignment | None,
    jointree | None). ``order=None`` = let Catalyst order the joins (the
    'native' baseline every study compares against); a non-None
    ``assignment`` additionally pins per-join physical operators through
    relalg hints."""
    if strategy == "native":
        return None, math.nan, None, None
    if strategy == "ues":
        from postbound_spark.optimizer.ues import UESJoinOrderOptimizer

        tree = UESJoinOrderOptimizer(spark).optimize_join_order(spec, tables)
        return tree.tables(), tree.cardinality, None, tree
    from postbound_spark.optimizer.cardinalities import (
        PreciseCardinalities,
        StatsCardinalityEstimator,
    )

    if strategy == "dp":
        from postbound_spark.optimizer.dynprog import (
            DynamicProgrammingEnumerator,
        )

        bushy = len(spec.tables) <= LINEAR_SEARCH_ABOVE
        tree = DynamicProgrammingEnumerator(
            StatsCardinalityEstimator(), bushy=bushy
        ).optimize_join_order(spec, tables)
        return tree.tables(), math.nan, None, tree
    if strategy in ("pgdp", "pgdp-precise"):
        from postbound_spark.optimizer import PostgresStyleDynProg

        if strategy == "pgdp-precise":
            estimator = PreciseCardinalities()
        else:
            estimator = StatsCardinalityEstimator()
        tree, assignment = PostgresStyleDynProg(
            estimator, linear=len(spec.tables) > LINEAR_SEARCH_ABOVE
        ).generate_execution_plan(spec, tables)
        return tree.tables(), math.nan, assignment, tree
    if strategy == "tonic":
        if context is None or context.last_tree is None:
            raise ValueError(
                "the 'tonic' strategy replays learned operators onto the "
                "query's last forced join order — run it after a forced-"
                "order strategy (ues/dp/pgdp) in the strategies tuple"
            )
        tree = context.last_tree
        assignment = context.replay_tonic().select_physical_operators(
            spec, tree, filters=context.tonic_filters(parsed)
        )
        return tree.tables(), math.nan, assignment, tree
    raise ValueError(
        f"unknown strategy {strategy!r} "
        "(native/ues/dp/pgdp/pgdp-precise/tonic)"
    )


def join_qerrors(plan) -> list[dict]:
    """Per-JOIN q-error of an executed DataFrame (or its
    :class:`~postbound_spark.optimizer.qep.PlanDigest`): Catalyst's logical
    estimate (``stats().rowCount``, or sizeInBytes/row-width when the
    visitor yields no count) against the ``numOutputRows`` actual of the
    matching physical join (ref ``_qep.py:1575`` — the reference computes
    the same ratio from EXPLAIN ANALYZE pairs).

    Logical and physical join nodes are matched POSITIONALLY in post-order:
    physical planning maps each logical join to exactly one physical join
    operator and never reorders across them (AQE may *replace* an operator
    in place, which keeps the position), so position is a stable join
    identity even for sources like LocalTableScan that carry no table name.
    Run an action on ``df`` first, or every actual is NaN."""
    from postbound_spark.optimizer.qep import plan_digest

    digest = plan_digest(plan)
    logical_joins: list[float] = []

    def walk_logical(node) -> None:
        for child in node.children:
            walk_logical(child)
        if node.name == "Join":
            if math.isnan(node.estimated_rows):
                logical_joins.append(node.size_bytes / node.row_width)
            else:
                logical_joins.append(node.estimated_rows)

    walk_logical(digest.logical)

    physical_joins: list[float] = []

    def walk_physical(node) -> None:
        for child in node.children:
            walk_physical(child)
        if "Join" in node.name or node.name == "CartesianProduct":
            physical_joins.append(node.actual_rows)

    walk_physical(digest.physical)

    if len(logical_joins) != len(physical_joins):
        # AQE can eliminate a join outright (empty-relation propagation)
        # or a rewrite can collapse one; from that point on positional
        # pairing is meaningless and every (estimate, actual) pair would
        # silently mispair — these pairs feed training labels
        # (train.collect_cardinality_samples), so fail loudly instead.
        raise ValueError(
            f"logical/physical join count mismatch "
            f"({len(logical_joins)} logical vs {len(physical_joins)} "
            f"physical) — positional pairing would mispair q-errors; "
            f"the plan was likely rewritten at runtime (AQE "
            f"empty-relation propagation or join elimination)"
        )

    out = []
    for i, (est, actual) in enumerate(zip(logical_joins, physical_joins)):
        if math.isnan(est) or math.isnan(actual):
            q = math.nan
        else:
            lo = max(min(est, actual), 1.0)
            hi = max(est, actual, 1.0)
            q = hi / lo
        out.append({"join": i, "estimate": est, "actual": actual, "qerror": q})
    return out


def run_optimizer_loop(
    spark: SparkSession,
    queries: Mapping[str, str],
    base_tables: Mapping[str, DataFrame],
    strategies: tuple[str, ...] = ("native", "ues"),
    out_path: str | None = None,
    trie_path: str | None = None,
    on_error: str = "raise",
    tonic_filter_aware: bool = False,
) -> pd.DataFrame:
    """Execute every (query, strategy) pair and collect the reference's
    result-row schema (``bench.py:1095-1121``): optimization time, exec
    time, result rows, the UES root bound, the enforced join order,
    executed-plan q-error aggregates, and a result fingerprint (the
    cross-strategy invariance gate). Optionally persists to parquet.

    Strategies: ``native`` (Catalyst decides), ``ues`` (pessimistic upper
    bounds), ``dp`` (textbook DP over statistics estimates; bushy up to
    ``LINEAR_SEARCH_ABOVE`` tables, linear beyond), ``pgdp`` (pathlist DP
    with physical-operator choice, statistics estimates),
    ``pgdp-precise`` (pathlist DP under true COUNT(*) cardinalities —
    expensive, small corpora only), ``tonic`` (replay QEP-S-learned
    operators onto the query's last forced order — list it AFTER
    ues/dp/pgdp; those executions are its training set, filed positionally
    from the executed plans). ``trie_path`` persists the TONIC trie and
    round-trips every replay through save→load. ``on_error='skip'``
    records a failed (query, strategy) pair as a warning and moves on —
    corpus sweeps should not die on one pathological query.
    ``tonic_filter_aware=True`` keys the QEP-S trie by (table, filter
    fingerprint) instead of bare table names — the reference's
    filter-aware QEP-S variant, where the same table under different
    filters learns separate operator recommendations."""
    from postbound_spark.operators.compiler import compile_plan
    from postbound_spark.optimizer.hints import apply_join_hints_to_relalg
    from postbound_spark.optimizer.qep import observed_join_steps, plan_digest
    from postbound_spark.plans.algebra import parse_relalg
    from postbound_spark.plans.parser import parse_query, to_query_spec

    context = _MatrixContext(trie_path, tonic_filter_aware)
    catalog = dict(base_tables)
    rows: list[dict] = []
    for label, sql in queries.items():
        try:
            # the parse AND the spec extraction ride the skip policy: an
            # unparseable query or a set-operation query (no single join
            # graph to force — the reference optimizes per SELECT block
            # too) is a warning under on_error='skip', never a
            # corpus-sweep abort that discards every prior result
            parsed = parse_query(sql)
            spec = to_query_spec(parsed)
            tables = _prepared_tables(parsed, base_tables)
        except Exception as exc:
            if on_error != "skip":
                raise
            warnings.warn(f"{label}: parse/spec extraction failed: {exc}")
            continue
        context.last_tree = None  # TONIC never replays across queries
        leaves: dict = {}  # filtered leaf frames, shared by the strategies
        for strategy in strategies:
            t0 = time.perf_counter()
            try:
                order, bound, assignment, jointree = _plan_order(
                    spark, strategy, parsed, spec, tables, context
                )
            except Exception as exc:
                if on_error != "skip":
                    raise
                warnings.warn(f"{label}/{strategy}: planning failed: {exc}")
                continue
            opt_time = time.perf_counter() - t0
            tree = parse_relalg(parsed, join_order=order) if order else parse_relalg(parsed)
            if assignment is not None:
                tree = apply_join_hints_to_relalg(tree, assignment)
            df = compile_plan(tree, spark, catalog=catalog, leaves=leaves)
            t1 = time.perf_counter()
            result = df.collect()
            exec_time = time.perf_counter() - t1
            # one plan read feeds the TONIC filing and the q-errors
            digest = plan_digest(df)
            if jointree is not None and strategy != "tonic":
                # file this execution into the QEP-S trie: positional
                # pairing of the forced tree's joins with the executed
                # physical joins (the join_qerrors invariant) gives
                # alias-keyed (operator, cost) even across self-joins
                steps = observed_join_steps(digest)
                tree_joins = list(jointree.joins())
                if len(steps) == len(tree_joins):
                    operators = {}
                    costs = {}
                    for (op, actual), tj in zip(steps, tree_joins):
                        key = frozenset(tj.tables())
                        operators[key] = op
                        if not math.isnan(actual):
                            costs[key] = actual
                    context.tonic.record_plan(
                        jointree,
                        operators,
                        costs,
                        filters=context.tonic_filters(parsed),
                    )
                else:
                    warnings.warn(
                        f"{label}/{strategy}: {len(steps)} physical joins "
                        f"vs {len(tree_joins)} tree joins — skipping TONIC "
                        "training for this execution"
                    )
                context.last_tree = jointree
            # COUNT(*)-style workloads: the single NUMERIC scalar IS the
            # join cardinality; 1x1 string results (JOB's MIN(t.title))
            # simply carry no readable actual
            actual = math.nan
            if len(result) == 1 and len(result[0]) == 1:
                value = result[0][0]
                if isinstance(value, (int, float)) and not isinstance(value, bool):
                    actual = float(value)
            try:
                pairs = join_qerrors(digest)
            except ValueError as exc:  # runtime plan rewrite → no pairing
                warnings.warn(f"{label}/{strategy}: {exc}")
                pairs = []
            qerrs = [
                j["qerror"] for j in pairs if not math.isnan(j["qerror"])
            ]
            rows.append(
                {
                    "label": label,
                    "strategy": strategy,
                    "optimization_time": opt_time,
                    "exec_time": exec_time,
                    "result_rows": len(result),
                    "actual_card": actual,
                    "ues_bound": bound,
                    "join_order": "" if order is None else " ".join(order),
                    "n_plan_nodes": len(qerrs),
                    "max_qerror": max(qerrs) if qerrs else math.nan,
                    "mean_qerror": (sum(qerrs) / len(qerrs)) if qerrs else math.nan,
                    "result_fingerprint": _result_fingerprint(result),
                }
            )
    frame = pd.DataFrame(rows, columns=RESULT_COLUMNS)
    if out_path:
        frame.to_parquet(out_path, index=False)
    return frame


def iter_intermediates(parsed):
    """Join-connected table subsets (size >= 2) of an implicit query,
    each with its COUNT(*) fragment — the generator at the heart of the
    reference's ``experiment-intermediate-cardinalities.py``
    (``iter_intermediates`` + ``extract_query_fragment`` +
    ``as_count_star_query``). Yields ``(tables_tuple, fragment_sql)``
    sorted for determinism."""
    from postbound_spark.plans.transform import (
        as_count_star_query,
        extract_query_fragment,
    )

    idents = sorted(t.identifier for t in parsed.from_tables)
    adjacency: dict[str, set[str]] = {i: set() for i in idents}
    for join in parsed.predicates().joins():
        tabs = sorted(join.tables())
        for a in tabs:
            for b in tabs:
                if a != b and a in adjacency and b in adjacency:
                    adjacency[a].add(b)

    def connected(subset: tuple[str, ...]) -> bool:
        todo, seen = [subset[0]], {subset[0]}
        members = set(subset)
        while todo:
            for nxt in adjacency[todo.pop()] & members - seen:
                seen.add(nxt)
                todo.append(nxt)
        return seen == members

    for size in range(2, len(idents) + 1):
        for subset in itertools.combinations(idents, size):
            if not connected(subset):
                continue
            fragment = extract_query_fragment(parsed, subset)
            yield subset, as_count_star_query(fragment).to_sql()


def intermediate_cardinalities(
    spark: SparkSession,
    queries: Mapping[str, str],
    *,
    max_tables: int | None = None,
) -> pd.DataFrame:
    """TRUE cardinalities of every join-connected intermediate of a
    workload — the reference's ``experiment-intermediate-cardinalities``
    (``examples/experiment-intermediate-cardinalities.py``): the ground-
    truth file that feeds :class:`PreComputedCardinalities` replays and
    cardinality-estimator training.

    Like the reference, identical fragments are EXECUTED ONCE and fanned
    back to every query that contains them (JOB's shared join cores make
    this a large saving); unlike the reference's 12-thread Postgres pool,
    each unique fragment is one Spark COUNT(*) job over the registered
    views. ``max_tables`` caps the subset size (the powerset of a
    17-table query is 131k fragments); the cap is LOGGED per query via
    the dropped counter, never silent. Returns one row per
    (label, intermediate): the sorted table tuple, the fragment SQL, and
    its true cardinality."""
    from postbound_spark.plans.parser import parse_query

    per_query: list[tuple[str, tuple[str, ...], str]] = []
    dropped = 0
    for label, sql in queries.items():
        parsed = parse_query(sql.strip().rstrip(";"))
        for subset, fragment_sql in iter_intermediates(parsed):
            if max_tables is not None and len(subset) > max_tables:
                dropped += 1
                continue
            per_query.append((label, subset, fragment_sql))

    unique: dict[str, float] = {}
    for _label, _subset, fragment_sql in per_query:
        unique.setdefault(fragment_sql, math.nan)
    for fragment_sql in unique:
        unique[fragment_sql] = float(spark.sql(fragment_sql).collect()[0][0])
    if dropped:
        warnings.warn(
            f"intermediate_cardinalities: {dropped} fragments above "
            f"max_tables={max_tables} skipped (raise the cap for full "
            "powerset coverage)"
        )

    rows = [
        {
            "label": label,
            "tables": " ".join(subset),
            "n_tables": len(subset),
            "fragment_sql": fragment_sql,
            "cardinality": unique[fragment_sql],
        }
        for label, subset, fragment_sql in per_query
    ]
    frame = pd.DataFrame(rows).sort_values(["label", "n_tables", "tables"])
    frame.attrs["n_unique_fragments"] = len(unique)
    return frame.reset_index(drop=True)


def precomputed_from_frame(frame: pd.DataFrame, label: str):
    """Build the :class:`PreComputedCardinalities` replay stage for one
    query from an ``intermediate_cardinalities`` dump — the consumption
    side of the reference experiment (ref ``opt/_cardinalities.py:95``)."""
    from postbound_spark.optimizer.cardinalities import PreComputedCardinalities

    sub = frame[frame.label == label]
    return PreComputedCardinalities(
        {
            frozenset(row.tables.split()): float(row.cardinality)
            for row in sub.itertuples()
        }
    )


def tonic_explore(
    spark: SparkSession,
    queries: Mapping[str, str],
    base_tables: Mapping[str, DataFrame],
    tonic,
    *,
    max_combinations: int = 8,
    seed: int = 0,
    reps: int = 1,
) -> pd.DataFrame:
    """Execution-backed QEP-S exploration (ref ``explore_costs``
    opt/tonic.py:1391): walk each query's forced join order, enumerate
    per-join operator COMBINATIONS (the reference explores every node's
    operators independent of existing cost information), sample down to
    ``max_combinations`` deterministically, EXECUTE each combination
    through the standard hint-enforcement path, and file what actually
    ran (from the executed plan, positionally — self-join-safe) into the
    trie under the measured query runtime.

    Two deliberate divergences from the reference, both Spark-grounded:
    the reference obtains DBMS cost ESTIMATES per combination (pg EXPLAIN
    under true cards) because executing every combination on Postgres is
    expensive — here each combination is one Spark job on fixture-scale
    data, so the filed cost is a MEASUREMENT; and the per-node cost is
    the whole-plan runtime (Spark's SQL metrics expose per-node output
    rows, not per-node durations), so across sampled combinations a
    node's operators are compared by the runtimes of the plans they
    appeared in — the shared-reward credit assignment a bandit uses.

    Costs file as ``unit="runtime"`` — a trie trained by
    ``run_optimizer_loop`` holds per-join output-row costs
    ("cardinality") and will refuse the mix; explore into a fresh or
    ``reset()`` trie. Filter-aware tries get their fingerprints passed
    through, so explored costs land on the same keyed paths replay
    reads. Returns one row per (query, combination): the forced
    operator word, exec time, and a result fingerprint (exploration
    must never change the answer). After the call,
    ``tonic.unknown_costs`` (with the same ``filters``) is empty along
    every explored order for the explored candidate set, except where a
    runtime plan rewrite made the executed operators unknowable (those
    combinations are skipped with a warning, never mis-filed)."""
    import random

    from postbound_spark.operators.compiler import compile_plan
    from postbound_spark.optimizer.hints import PhysicalOperatorAssignment
    from postbound_spark.optimizer.hints import apply_join_hints_to_relalg
    from postbound_spark.optimizer.qep import observed_join_steps
    from postbound_spark.optimizer.tonic import DEFAULT_CANDIDATES
    from postbound_spark.optimizer.ues import UESJoinOrderOptimizer
    from postbound_spark.plans.algebra import parse_relalg
    from postbound_spark.plans.parser import parse_query, to_query_spec

    rng = random.Random(seed)
    rows: list[dict] = []
    for label, sql in queries.items():
        parsed = parse_query(sql)
        spec = to_query_spec(parsed)
        tables = _prepared_tables(parsed, base_tables)
        if tonic.filter_aware:
            from postbound_spark.optimizer.tonic import filter_fingerprints

            filters = filter_fingerprints(parsed)
        else:
            filters = None
        order = UESJoinOrderOptimizer(spark).optimize_join_order(spec, tables)
        joins = [frozenset(j.tables()) for j in order.joins()]
        total = len(DEFAULT_CANDIDATES) ** len(joins)
        if total <= max_combinations:
            combos = list(itertools.product(DEFAULT_CANDIDATES, repeat=len(joins)))
        else:
            picked = set()
            while len(picked) < max_combinations:
                picked.add(
                    tuple(rng.choice(DEFAULT_CANDIDATES) for _ in joins)
                )
            combos = sorted(picked, key=lambda c: [op.value for op in c])
        for combo in combos:
            assignment = PhysicalOperatorAssignment()
            for joined, op in zip(joins, combo):
                assignment.set_join_operator(joined, op)
            tree = parse_relalg(parsed, join_order=order.tables())
            tree = apply_join_hints_to_relalg(tree, assignment)
            df = compile_plan(tree, spark)
            t0 = time.perf_counter()
            result = df.collect()
            exec_time = time.perf_counter() - t0
            # reps > 1: min-of-reps per combination removes single-shot
            # host noise — REQUIRED for optimality comparisons (a min
            # over N single-shot combinations is selection-biased low,
            # so replay-vs-explored_min is only fair at equal reps)
            for _ in range(reps - 1):
                t0 = time.perf_counter()
                df.collect()
                exec_time = min(exec_time, time.perf_counter() - t0)
            # file what ACTUALLY ran (enforcement can upgrade, e.g.
            # broadcast-NL -> broadcast-hash on an equi join)
            steps = observed_join_steps(df)
            if len(steps) == len(joins):
                operators = {
                    joined: op for joined, (op, _rows) in zip(joins, steps)
                }
                tonic.record_plan(
                    order,
                    operators,
                    {joined: exec_time for joined in joins},
                    filters=filters,
                    unit="runtime",
                )
            else:
                # a runtime rewrite (AQE empty-relation propagation)
                # collapsed a join: positional pairing is broken, so we
                # cannot know which forced operators actually ran — skip
                # training, same integrity rule as run_optimizer_loop
                warnings.warn(
                    f"{label}: {len(steps)} physical joins vs "
                    f"{len(joins)} forced joins — combination executed "
                    "but not filed into the trie"
                )
            rows.append(
                {
                    "label": label,
                    "combination": " ".join(op.value for op in combo),
                    "exec_time": exec_time,
                    "result_rows": len(result),
                    "result_fingerprint": _result_fingerprint(result),
                }
            )
    return pd.DataFrame(rows)


def cardinality_sweep(
    spark: SparkSession,
    sql: str,
    table_set,
    cards: list[float],
    *,
    execute: bool = False,
) -> pd.DataFrame:
    """Sweep injected cardinalities for one intermediate and record the
    physical plan Catalyst picks at each point — the reference's
    misestimate-sensitivity experiment (pg_lab ``Card()`` sweeps, ref
    ``postgres.py:2343-2460``), now affordable because plan-time injection
    writes nothing: a sweep point costs one plan compilation
    (milliseconds), not a table materialization.

    Returns one row per card: the join operator chosen for the swept
    intermediate's parent join, the full operator assignment, planning
    wall-clock, and (with ``execute=True``) exec time + result row count —
    plus the invariant material for tests: results must be identical at
    every point."""
    from postbound_spark.optimizer.planstats import PlanTimeCardinalityInjector
    from postbound_spark.optimizer.qep import operators_from_plan

    injector = PlanTimeCardinalityInjector(spark)
    target = frozenset(
        t.strip().lower()
        for t in (table_set.split(",") if isinstance(table_set, str) else table_set)
    )
    rows = []
    try:
        for card in cards:
            t0 = time.perf_counter()
            df = injector.plan(sql, {target: card}, adaptive=False)
            ops = operators_from_plan(df)
            planning_time = time.perf_counter() - t0
            # the swept subtree's parent join: smallest operator key that
            # strictly contains the target set
            parent = min(
                (k for k in ops if target < k),
                key=len,
                default=None,
            )
            row = {
                "card": float(card),
                "parent_join_operator": ops[parent].name if parent else "",
                "n_joins": len(ops),
                "planning_time": planning_time,
                "assignment": " ".join(
                    f"{'+'.join(sorted(k))}:{v.name}"
                    for k, v in sorted(ops.items(), key=lambda kv: sorted(kv[0]))
                ),
            }
            if execute:
                t1 = time.perf_counter()
                row["result_rows"] = len(df.collect())
                row["exec_time"] = time.perf_counter() - t1
            rows.append(row)
    finally:
        injector.close()  # experiment-scoped strategy + tags
    return pd.DataFrame(rows)


def distortion_sweep(
    spark: SparkSession,
    queries: Mapping[str, str],
    factors: list[float],
    *,
    table_counts: Mapping[str, int] | None = None,
    execute: bool = True,
) -> pd.DataFrame:
    """Plan (and execute) every query under TRUE base-table cardinalities
    distorted by each factor — the reference's canonical
    misestimate-sensitivity experiment (``CardinalityDistortion``
    decorating a true-cardinality estimator, ref ``opt/_cardinalities.py:
    306`` + ``examples/experiment-job-true-card-runtimes.py``), run
    through the ZERO-WRITE plan-time injector: a sweep point costs one
    plan compilation, so a workload x factor grid is affordable where the
    CTE/materialization route was not.

    Every leaf occurrence (self-joins included — occurrence-qualified
    keys) is injected with ``count(table) * factor``; factors < 1
    simulate underestimation (more broadcasts), factors > 1
    overestimation (broadcasts die off). One row per (query, factor):
    the broadcast/sort-merge operator census of the chosen plan, the
    planning time, and with ``execute=True`` the runtime, result rows,
    and per-join q-error summary — the (distortion-factor, plan-choice,
    exec-time, q-error) record the optimizer-research loop persists.

    Monotone invariant (pinned by ``tests/test_distortion_sweep.py``):
    as the factor grows, the number of broadcast joins in the chosen
    plan can only fall — size estimates scale monotonically with the
    injected rows, and Spark's broadcast decision is a threshold on
    size."""
    from postbound_spark.optimizer.planstats import PlanTimeCardinalityInjector

    injector = PlanTimeCardinalityInjector(spark)
    counts: dict[str, int] = dict(table_counts or {})

    def table_count(name: str) -> int:
        if name not in counts:
            counts[name] = spark.table(name).count()
        return counts[name]

    rows = []
    try:
        for label, sql in queries.items():
            leaves = injector.describe_leaves(sql)
            for factor in factors:
                cards = {
                    (leaf["leaf"],): max(
                        1.0, table_count(leaf["table"]) * factor
                    )
                    for leaf in leaves
                }
                t0 = time.perf_counter()
                df = injector.plan(sql, cards, adaptive=False)
                planning_time = time.perf_counter() - t0
                plan_text = df._jdf.queryExecution().sparkPlan().toString()
                row = {
                    "label": label,
                    "distortion_factor": float(factor),
                    "n_leaves": len(leaves),
                    "n_broadcast_joins": plan_text.count("BroadcastHashJoin"),
                    "n_sortmerge_joins": plan_text.count("SortMergeJoin"),
                    "n_shuffled_hash_joins": plan_text.count("ShuffledHashJoin"),
                    "planning_time": planning_time,
                }
                if execute:
                    t1 = time.perf_counter()
                    collected = df.collect()
                    row["exec_time"] = time.perf_counter() - t1
                    row["result_rows"] = len(collected)
                    # physical planning seeds the injected stats into a
                    # CLONE of the optimized plan; re-seed the original
                    # tree from its tags so the recorded q-errors measure
                    # the DISTORTED estimates against the executed actuals
                    # — the estimate the planner actually consulted (ref
                    # CardinalityDistortion records the distorted value)
                    injector._helper.visibleRowCount(
                        df._jdf.queryExecution().optimizedPlan()
                    )
                    try:
                        qerrs = [
                            j["qerror"]
                            for j in join_qerrors(df)
                            if not math.isnan(j["qerror"])
                        ]
                    except ValueError:  # runtime rewrite → pairing unsafe
                        qerrs = []
                    row["max_qerror"] = max(qerrs) if qerrs else math.nan
                    row["mean_qerror"] = (
                        sum(qerrs) / len(qerrs) if qerrs else math.nan
                    )
                rows.append(row)
    finally:
        injector.close()  # experiment-scoped even when a query raises
    return pd.DataFrame(rows)


TRUE_CARD_MODES = ("native", "truecards", "distorted")


def true_card_runtime_experiment(
    spark: SparkSession,
    queries: Mapping[str, str],
    base_tables: Mapping[str, DataFrame],
    *,
    distort_factor: float = 100.0,
    reps: int = 2,
    out_path: str | None = None,
) -> pd.DataFrame:
    """THE signature PostBOUND experiment (ref
    ``examples/experiment-job-true-card-runtimes.py``): execute a workload
    under (a) the planner's native estimates, (b) TRUE cardinalities
    injected for EVERY intermediate the optimized plan offers, and (c)
    true cardinalities distorted by ``factor**(|S|-1)`` — and compare
    runtimes and plan censuses. "How much faster would the plan be if the
    optimizer knew the truth?" is the research question the reference was
    built to answer; the zero-write injector makes it affordable here
    (one plan compilation per mode, no materialized intermediates).

    True counts come from :class:`PreciseCardinalities` over the query's
    prepared (filter-pushed) tables and equi-join edges — the same
    intermediate definition the enforcement machinery uses. Queries whose
    FROM list repeats a base table are skipped with a warning (mapping
    plan-side occurrence qualifiers back to SQL aliases is ambiguous
    without per-occurrence filters; the reference skips none because
    pg_lab keys by alias natively).

    One row per (query, mode): min-of-``reps`` runtime, broadcast/
    sort-merge census of the AQE-off physical plan, injected-set count,
    and a result fingerprint (modes must agree — injection steers the
    plan, never the answer)."""
    from postbound_spark.optimizer.cardinalities import PreciseCardinalities
    from postbound_spark.optimizer.planstats import PlanTimeCardinalityInjector
    from postbound_spark.plans.parser import parse_query, to_query_spec

    precise = PreciseCardinalities()
    rows: list[dict] = []
    with PlanTimeCardinalityInjector(spark) as injector:
        for label, sql in queries.items():
            parsed = parse_query(sql)
            full_names = [t.full_name for t in parsed.from_tables]
            if len(set(full_names)) != len(full_names):
                warnings.warn(
                    f"{label}: self-join (repeated base table) — skipping "
                    "(occurrence→alias mapping is ambiguous)"
                )
                continue
            spec = to_query_spec(parsed)
            tables = _prepared_tables(parsed, base_tables)
            base_to_alias = {
                t.full_name.lower(): t.identifier for t in parsed.from_tables
            }
            truth: dict[frozenset[str], float] = {}
            for tabs in injector.table_sets(sql):
                aliases = frozenset(
                    base_to_alias[t.partition("#")[0]] for t in tabs
                )
                truth[tabs] = precise.estimate_cardinality(spec, aliases, tables)
            cards_by_mode: dict[str, Mapping | None] = {
                "native": None,
                "truecards": truth,
                # exponent |S| (not |S|-1): leaves are distorted too, the
                # leaf convention of distortion_sweep — otherwise a plan
                # whose build sides are all base tables (the common shape
                # after Catalyst's own reordering) would be immune to any
                # distortion and the census comparison would be vacuous
                "distorted": {
                    tabs: max(1.0, n * distort_factor ** len(tabs))
                    for tabs, n in truth.items()
                },
            }
            for mode in TRUE_CARD_MODES:
                cards = cards_by_mode[mode]
                t0 = time.perf_counter()
                df = injector.plan(sql, cards or {}, adaptive=False)
                planning_time = time.perf_counter() - t0
                plan_text = df._jdf.queryExecution().sparkPlan().toString()
                times = []
                result = None
                for _ in range(max(1, reps)):
                    t1 = time.perf_counter()
                    result = df.collect()
                    times.append(time.perf_counter() - t1)
                rows.append(
                    {
                        "label": label,
                        "mode": mode,
                        "n_injected_sets": 0 if cards is None else len(cards),
                        "planning_time": planning_time,
                        "exec_time": min(times),
                        "n_broadcast_joins": plan_text.count("BroadcastHashJoin"),
                        "n_sortmerge_joins": plan_text.count("SortMergeJoin"),
                        "result_rows": len(result),
                        "result_fingerprint": _result_fingerprint(result),
                    }
                )
    frame = pd.DataFrame(rows)
    if out_path:
        frame.to_parquet(out_path, index=False)
    return frame


VARIATION_COLUMNS = [
    "label", "round", "position", "phase", "exec_time",
]


def runtime_variation(
    builders: Mapping[str, object],
    *,
    reps: int = 3,
    seed: int = 17,
    out_path: str | None = None,
) -> pd.DataFrame:
    """Repeated-execution runtime-variance harness (ref
    ``examples/experiment-query-runtime-variation.py``): every query
    executes once COLD (first contact: plan compilation, code
    generation, cache population) and then ``reps`` WARM rounds, with
    the execution ORDER reshuffled every round (seeded — a fixed order
    would alias one query's cache effects onto its fixed successor).

    ``builders`` maps label -> zero-arg callable returning a DataFrame;
    each measurement times build + ``collect()``. One row per execution:
    (label, round, position-in-round, phase, exec_time). Round 0 is the
    cold pass; rounds 1..reps are warm. Use :func:`variation_summary`
    for the per-query spread statistics BASELINE.md's rep-spread notes
    record informally."""
    import random

    rng = random.Random(seed)
    labels = list(builders)
    rows: list[dict] = []
    for rnd in range(reps + 1):
        order = list(labels)
        if rnd > 0:
            rng.shuffle(order)
        for pos, label in enumerate(order):
            t0 = time.perf_counter()
            builders[label]().collect()
            rows.append(
                {
                    "label": label,
                    "round": rnd,
                    "position": pos,
                    "phase": "cold" if rnd == 0 else "warm",
                    "exec_time": time.perf_counter() - t0,
                }
            )
    frame = pd.DataFrame(rows, columns=VARIATION_COLUMNS)
    if out_path:
        frame.to_parquet(out_path, index=False)
    return frame


def variation_summary(frame: pd.DataFrame) -> pd.DataFrame:
    """Per-query spread statistics over a :func:`runtime_variation`
    frame: warm min/mean/max, the max/min spread ratio (the number the
    rep-spread notes quote), warm stdev, and the cold/warm-mean penalty
    (JIT + cache population cost of first contact)."""
    warm = frame[frame.phase == "warm"]
    cold = frame[frame.phase == "cold"].set_index("label").exec_time
    g = warm.groupby("label").exec_time
    out = pd.DataFrame(
        {
            "warm_min": g.min(),
            "warm_mean": g.mean(),
            "warm_max": g.max(),
            "spread": g.max() / g.min(),
            "warm_std": g.std(),
            "cold_penalty": cold / g.mean(),
        }
    )
    return out.sort_index()
