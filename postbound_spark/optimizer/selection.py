"""Stats-driven physical join selection — broadcast only what is provably
small.

Round-1 audit finding: several TPC-H family queries force-broadcast inputs
that *grow with the scale factor* (customer = SF x 150k, part = SF x 200k,
per-partkey aggregates). A forced ``F.broadcast`` bypasses Catalyst's
threshold entirely, so at 100x scale those queries OOM the driver instead of
degrading to a shuffle join. The fix is the engine's own operator-selection
stage (ref rbergm/PostBOUND ``PhysicalOperatorSelection`` `_stages.py:480`,
``JoinOperatorAssignment`` `_hints.py:980`): decide the operator from
statistics, not from a hard-coded hint.

Spark-first mechanics: the size estimate is Catalyst's own
``optimizedPlan().stats().sizeInBytes`` — available at *plan time* with zero
jobs (file sizes for scans, propagated estimates above). When the estimate
says "fits the broadcast threshold", we pin ``broadcast`` (keeping the plan
deterministic for the bench); when it does not, we leave the side unhinted so
Catalyst + AQE pick shuffle-hash / sort-merge with runtime sizes — the
degradation path a 1000-executor cluster needs.

Estimator bias, measured: without CBO column stats Catalyst's size
propagation through joins multiplies row widths (a 2 MB 3-table dim bundle
at sf0.1 estimates as ~1.6 TB), so JOINED build sides read as "too big"
even when tiny. That error lands on the SAFE side — the join ships
unhinted, and AQE's runtime re-plan converts it back to a broadcast join
from the actual shuffle sizes (measured: q5's dim bundle executes as a
broadcast join under AQE despite the inflated plan-time estimate). Base
tables and post-filter scans estimate from file bytes and stay accurate.
Feeding ``ANALYZE``-based CBO stats (optimizer/injection.py's Hive channel)
tightens the plan-time numbers when an experiment needs them.
"""

from __future__ import annotations

import hashlib
import re

from collections import Counter

from pyspark.sql import DataFrame, SparkSession

from postbound_spark.catalog import session_memo
from postbound_spark.optimizer.hints import JoinOperator, PhysicalOperatorAssignment

__all__ = [
    "StatsDrivenJoinSelection",
    "catalyst_size_bytes",
    "MeasuredBuildSide",
    "MeasuredJoinPolicy",
    "estimated_row_bytes",
]

_IDENT_RE = re.compile(r"[A-Za-z_][A-Za-z0-9_]*")
_SIZE_RE = re.compile(r"^(-?\d+)\s*([kmgt]?b?)$", re.I)
_UNIT = {"": 1, "b": 1, "k": 1 << 10, "kb": 1 << 10, "m": 1 << 20,
         "mb": 1 << 20, "g": 1 << 30, "gb": 1 << 30, "t": 1 << 40,
         "tb": 1 << 40}


def _parse_size(text: str) -> int:
    m = _SIZE_RE.match(text.strip())
    if not m:
        raise ValueError(f"unparseable size {text!r}")
    return int(m.group(1)) * _UNIT[m.group(2).lower()]


def catalyst_size_bytes(df: DataFrame) -> int:
    """Catalyst's plan-time size estimate for ``df`` (the same number the
    auto-broadcast rule consults): parquet file bytes at the scan, propagated
    through the optimized logical plan. No Spark job runs."""
    stats = df._jdf.queryExecution().optimizedPlan().stats()
    return int(str(stats.sizeInBytes()))


class StatsDrivenJoinSelection:
    """Operator selection for one build side at a time.

    ``threshold_bytes`` defaults to the session's
    ``spark.sql.autoBroadcastJoinThreshold`` so the decision follows the
    cluster's configured memory budget; tests override it to prove the
    decision flips (the plan-quality gate the round-1 verdict asked for).
    """

    def __init__(
        self,
        spark: SparkSession,
        threshold_bytes: int | None = None,
    ):
        if threshold_bytes is None:
            conf = spark.conf.get("spark.sql.autoBroadcastJoinThreshold", "10MB")
            threshold_bytes = _parse_size(conf)
        self.threshold_bytes = threshold_bytes
        #: decisions made with a ``label`` are recorded in the same
        #: structure the optimizer stages emit (ref _hints.py:980);
        #: label-less calls (the TPC-H _sized helper, which has no stable
        #: per-join name) skip recording — the artifact is for experiment
        #: loops that keep the selection instance around
        self.assignment = PhysicalOperatorAssignment()

    def choose(self, build: DataFrame, label: str | None = None) -> JoinOperator:
        """BROADCAST_HASH when the Catalyst estimate fits the threshold,
        SORT_MERGE (representing "let the shuffle family handle it")
        otherwise. A negative threshold disables broadcasting outright,
        matching Spark's ``-1`` convention."""
        size = catalyst_size_bytes(build)
        if 0 <= size <= self.threshold_bytes:
            op = JoinOperator.BROADCAST_HASH
        else:
            op = JoinOperator.SORT_MERGE
        if label:
            self.assignment.set_join_operator(frozenset({label}), op)
        return op

    def build_side(self, build: DataFrame, label: str | None = None) -> DataFrame:
        """Return ``build`` hinted per the stats decision: ``broadcast`` when
        provably small, unhinted otherwise (Catalyst/AQE then pick
        shuffle-hash or sort-merge from runtime sizes — deliberately not
        pinned, so skew/size surprises at 100 TB stay re-plannable)."""
        op = self.choose(build, label)
        if op is JoinOperator.BROADCAST_HASH:
            return build.hint("broadcast")
        return build


#: type → conservative in-memory bytes per value for broadcast sizing
#: (hash-relation overhead is folded into the per-row constant below)
_WIDTH = {"long": 8, "int": 4, "double": 8, "float": 4, "timestamp": 8,
          "date": 4, "boolean": 1}
_ROW_OVERHEAD = 24  # UnsafeRow + hash-relation entry overhead, measured order


def estimated_row_bytes(df: DataFrame, columns: set[str] | None = None) -> int:
    """Schema-derived bytes/row for broadcast sizing: fixed-width types at
    their storage size, strings/binary at a 48-byte budget (TPC-H-style
    comment/address columns routinely exceed a short-string guess — the
    budget errs high because the threshold guards executor/driver memory),
    arrays/maps/structs at a 192-byte budget.

    ``columns`` optionally restricts the width to a subset of the schema —
    the broadcast hash relation only stores the columns Catalyst's column
    pruning keeps, so sizing a build side on its full subtree width
    over-counts by the pruning factor (the flagship's 4-table bundle is
    592 B/row unpruned but 2 columns ≈ 30 B/row as actually broadcast)."""
    total = _ROW_OVERHEAD
    fields = df.schema.fields
    if columns is not None:
        kept = [f for f in fields if f.name in columns]
        # an empty intersection means the reference analysis failed —
        # fall back to the full (safe, over-counting) width
        if kept:
            fields = kept
    for f in fields:
        name = f.dataType.typeName()
        if name == "array":
            # element-typed budget when the length is unknowable: a 64-dim
            # double embedding is ~520 B in the hash relation — a flat
            # small constant would inflate the limit-probe cap and pin
            # broadcasts several times over the memory threshold
            elem = f.dataType.elementType.typeName()
            total += 64 * _WIDTH.get(elem, 24) + 16
        elif name in ("map", "struct"):
            total += 512
        else:
            total += _WIDTH.get(name, 48)
    return total


class MeasuredBuildSide:
    """Broadcast decisions from *measured* intermediate cardinalities — the
    reference's ``PreciseCardinalities`` pattern (rbergm/PostBOUND
    ``opt/_cardinalities.py:20``: count the intermediate, memoize, feed the
    operator-selection stage) applied to Spark's build-side choice.

    Catalyst's plan-time size propagation through joins multiplies row
    widths, so a provably tiny filtered-join bundle estimates as terabytes
    and ``StatsDrivenJoinSelection`` must leave it unhinted; meanwhile a
    fact-table *scan* can estimate under the broadcast threshold from
    compressed file bytes and get broadcast from the wrong side. A bounded
    measurement per intermediate resolves both: the truly small side gets a
    deterministic ``broadcast`` hint, anything else stays unhinted for
    AQE's runtime re-plan.

    Measurement is a **capped limit-probe**, not an unbounded COUNT(*):
    ``build.limit(cap + 1).count()`` stops producing rows just past the
    largest count that could still fit the threshold, so probing a
    billion-row intermediate costs roughly the same as probing a small one
    (CollectLimit terminates the scan early). A probe that comes back
    ``<= cap`` is the exact cardinality; one that hits ``cap + 1`` proves
    "does not fit" without counting the rest.

    A measurement is data-derived state, so it lives as long as the data
    handles it was taken on: in the session memo
    (:func:`postbound_spark.catalog.session_memo`), under a caller-chosen
    key (queries use ``name@sf_dir``), not object identity. Rebuilt
    DataFrames across bench repetitions and queries, and every
    ``MeasuredBuildSide`` on one session, share it the way the reference
    memoizes per query fragment; it dies with the session. Callers that
    regenerate fixture data in place invalidate it with
    :func:`postbound_spark.catalog.clear_table_cache`.
    """

    def __init__(self, spark: SparkSession, threshold_bytes: int | None = None):
        self._selection = StatsDrivenJoinSelection(spark, threshold_bytes)
        #: ("rows", key) -> ("eq", exact_rows) | ("gt", probed_cap)
        self._memo = session_memo(spark)

    def rows_capped(self, build: DataFrame, key: str, cap: int) -> float:
        """Exact row count when it is ``<= cap``, else ``inf`` (meaning
        "provably more than cap"). Bounded work either way."""
        key = ("rows", key)
        got = self._memo.get(key)
        if got is not None:
            kind, n = got
            if kind == "eq":
                return n if n <= cap else float("inf")
            if cap <= n:  # previously proved > n >= cap
                return float("inf")
            # previous probe was capped lower than this request — re-probe
        probed = build.limit(cap + 1).count()
        if probed <= cap:
            self._memo[key] = ("eq", probed)
            return probed
        self._memo[key] = ("gt", cap)
        return float("inf")

    def fits_broadcast(self, build: DataFrame, key: str) -> bool:
        """MEASURED verdict: does ``build`` provably fit the broadcast
        threshold (bounded limit-probe × schema width)? Exposed so
        operators can branch on the verdict itself — e.g. the LSH band
        join drops its salt when the build side broadcasts (a broadcast
        join has no reducer, hence no reducer skew, and the salt explode
        would only inflate the broadcast ``salt``×)."""
        thr = self._selection.threshold_bytes
        if thr < 0:
            return False
        width = estimated_row_bytes(build)
        cap = max(thr // width, 1)
        return self.rows_capped(build, key, cap) * width <= thr

    def build_side(
        self, build: DataFrame, key: str, pin_shuffle: bool = False
    ) -> DataFrame:
        """``build`` hinted ``broadcast`` when MEASURED under the
        threshold; otherwise unhinted — or, with ``pin_shuffle``, hinted
        into the shuffle family (``merge``). Pinning is for sides whose
        Catalyst ESTIMATE can come in deflated (aggregates of exploded
        streams: a DISTINCT gram vocabulary estimated from its input's
        compressed bytes): unhinted, the static planner broadcast an
        80M-row vocabulary at ×100 and died building the table — the
        measured "does not fit" verdict must then FORCE the exchange,
        not merely decline to bless a broadcast."""
        if self._selection.threshold_bytes < 0:
            return build
        if self.fits_broadcast(build, key):
            return build.hint("broadcast")
        return build.hint("merge") if pin_shuffle else build


class MeasuredJoinPolicy:
    """Per-join build-side policy for :func:`compile_plan` (the reference's
    ``PhysicalOperatorSelection`` stage shape, ``_stages.py:480``, driven by
    measured cardinalities like ``PreciseCardinalities``).

    The policy only intervenes where Catalyst's static choice is
    structurally unreliable: exactly one join side fits the broadcast
    threshold *by estimate*, or the two estimates diverge by orders of
    magnitude (``SUSPECT_RATIO``) — the signature of width-multiplied join
    estimates. A pruned fact-table scan estimates from compressed file
    bytes and can slip under the threshold, while a filtered multi-join
    bundle inflates to terabytes — so the static rule broadcasts the fact
    table. In the suspect cases both sides get a bounded limit-probe
    measurement (see :class:`MeasuredBuildSide`) and:

    - the truly smaller fitting side gets a ``broadcast`` hint;
    - if **neither** side measures small but the static planner would
      plausibly broadcast one anyway (an estimate within a column-pruning
      factor of the threshold), the join is pinned to the shuffle family
      (``merge`` hint) — returning None there would leave the fact-table
      broadcast in place, the exact pathology this class exists to stop;
    - when the estimates agree and are mutually plausible, no measurement
      job runs at all and Catalyst/AQE decide.
    """

    #: estimate divergence that marks one side's estimate as untrustworthy
    #: (the width-multiplication blow-up shows up as many orders of
    #: magnitude, never as a small factor)
    SUSPECT_RATIO = 1000.0

    #: pre-pruning estimates overshoot the planner's post-pruning numbers by
    #: up to the column-count ratio; an estimate within this factor of the
    #: threshold may still be broadcast by the static planner
    PRUNE_MARGIN = 16

    def __init__(self, spark: SparkSession, prefix: str,
                 threshold_bytes: int | None = None):
        self._measured = MeasuredBuildSide(spark, threshold_bytes)
        self.threshold_bytes = self._measured._selection.threshold_bytes
        self.prefix = prefix
        self._root = None
        self._root_tokens: "Counter[str] | None" = None
        self._root_fp = ""

    def bind_root(self, root) -> None:
        """Give the policy the WHOLE plan so build-side widths can be
        column-pruning-aware. ``compile_plan`` calls this before
        compilation; without it widths fall back to the full subtree
        schema (safe but over-counting — a 25k-row bundle whose pruned
        width is 30 B measured as 592 B/row and missed its broadcast,
        leaving a merge-pinned SortMergeJoin on the flagship fact join).

        Mechanics: relalg nodes are dataclasses, so ``repr(root)`` embeds
        each subtree's ``repr`` verbatim; the identifier multiset of
        (root − subtree) is exactly the identifiers referenced OUTSIDE the
        subtree. A build side's broadcast relation stores only the columns
        Catalyst keeps, i.e. its output columns that are referenced
        outside it (join predicate included — the predicate lives on the
        join node, not in either child)."""
        self._root = root
        self._root_tokens = Counter(_IDENT_RE.findall(repr(root)))
        self._root_fp = hashlib.md5(repr(root).encode()).hexdigest()[:8]

    @staticmethod
    def _is_naming(node) -> bool:
        """An ancestor that NAMES every column it consumes: a Grouping
        (keys + aggregate texts spell out each referenced column; bare
        ``count(*)`` references none) or a star-free Projection. A
        ``*`` / ``alias.*`` projection forwards the subtree's whole
        output without naming it — treat it as not-naming so the width
        falls back to the full schema."""
        from postbound_spark.plans import relalg as ra

        if isinstance(node, ra.Grouping):
            return True
        if isinstance(node, ra.Projection):
            return not any(
                c.strip() == "*" or re.fullmatch(r"[A-Za-z_]\w*\.\*", c.strip())
                for c in node.columns
            )
        return False

    def _named_above(self, subtree) -> bool:
        """True iff EVERY occurrence of ``subtree`` under the bound root
        sits below a star-free Projection or a Grouping. Without such an
        ancestor, columns can survive Catalyst's pruning WITHOUT being
        named above the subtree (an unprojected join root returns every
        build-side column), so the repr-token width must not apply."""
        if self._root is None:
            return False
        found: list[bool] = []

        def walk(node, have_naming: bool) -> None:
            if node == subtree:
                found.append(have_naming)
                return
            naming = have_naming or self._is_naming(node)
            for child in node.children():
                walk(child, naming)

        walk(self._root, False)
        return bool(found) and all(found)

    def _pruned_columns(self, subtree) -> set[str] | None:
        """Column names of ``subtree``'s output that survive Catalyst's
        pruning = identifiers referenced outside the subtree. None (full
        schema width) when no root is bound, when the subtree's output is
        never narrowed by a naming ancestor (unprojected/star roots — the
        r11 advisor's under-count hazard: a too-narrow width inflates the
        limit-probe cap and could bless an over-threshold broadcast), or
        when the diff comes back empty. Over-counting remains safe in the
        other direction (wider estimate → fewer broadcasts)."""
        if self._root_tokens is None:
            return None
        if not self._named_above(subtree):
            return None
        inside = Counter(_IDENT_RE.findall(repr(subtree)))
        outside = self._root_tokens - inside
        return set(outside) or None

    def _key(self, subtree) -> str | None:
        """Memo key = prefix + table set + a structural fingerprint of the
        whole subtree (relalg nodes are dataclasses, so ``repr`` covers
        predicates, aliases, and shape). Table names alone would collide
        two differently-filtered subtrees over the same tables — replaying
        a tiny filtered count for an unfiltered join would force a
        broadcast of millions of rows."""
        tables = sorted(subtree.tables())
        if not tables:
            return None
        fp = hashlib.md5(repr(subtree).encode()).hexdigest()[:12]
        return f"{self.prefix}|{'+'.join(tables)}#{fp}"

    def _memo_key(self, thr: int, lkey: str, rkey: str) -> tuple[str, str]:
        # the ROOT fingerprint is part of the decision identity: pruned
        # widths depend on what the ancestors reference, and one policy
        # prefix (e.g. native@sf) is shared by many queries — an identical
        # subtree under a narrow-projecting root must not replay the
        # decision made under a wide-projecting one. Measurement memos
        # (rows_capped) stay root-independent: row counts don't prune.
        return ("join", f"{thr}|{self._root_fp}|{lkey}><{rkey}")

    def decide(self, node, left: DataFrame, right: DataFrame) -> str | None:
        """Return ``"left"``/``"right"`` to broadcast that side,
        ``"shuffle"`` to pin the shuffle family, or None to leave the join
        to Catalyst/AQE."""
        thr = self.threshold_bytes
        if thr < 0:
            return None
        lkey, rkey = self._key(node.left), self._key(node.right)
        # the threshold is part of the identity: sessions/tests that resize
        # spark.sql.autoBroadcastJoinThreshold must not replay decisions
        memo_key = self._memo_key(thr, lkey, rkey) if lkey and rkey else None
        # decisions share the session memo with the measurements: repeat
        # compilations of the same logical join skip both the estimate
        # probes (each forces a Catalyst optimization pass of the subtree)
        # and the measurement jobs entirely
        memo = self._measured._memo
        if memo_key is not None and memo_key in memo:
            return memo[memo_key]
        decision = self._decide_fresh(thr, lkey, rkey, left, right, node)
        if memo_key is not None:
            memo[memo_key] = decision
        return decision

    def _decide_fresh(
        self, thr: int, lkey: str | None, rkey: str | None,
        left: DataFrame, right: DataFrame, node=None,
    ) -> str | None:
        lest, rest = catalyst_size_bytes(left), catalyst_size_bytes(right)
        ratio = max(lest, rest) / max(1, min(lest, rest))
        if (lest <= thr) == (rest <= thr) and ratio <= self.SUSPECT_RATIO:
            # estimates agree and are mutually plausible — the static
            # planner + AQE choose fine without any measurement job
            return None
        if lkey is None or rkey is None:
            return None
        # size each build side at its POST-PRUNING width (what the
        # broadcast relation actually stores) — the unpruned subtree
        # schema over-counted a 4-table bundle ~20x and under-admitted
        # the limit-probe cap, silently vetoing provably-safe broadcasts
        lcols = self._pruned_columns(node.left) if node is not None else None
        rcols = self._pruned_columns(node.right) if node is not None else None
        lw = estimated_row_bytes(left, lcols)
        rw = estimated_row_bytes(right, rcols)
        lb = self._measured.rows_capped(left, lkey, max(thr // lw, 1)) * lw
        rb = self._measured.rows_capped(right, rkey, max(thr // rw, 1)) * rw
        if lb <= thr and lb <= rb:
            return "left"
        if rb <= thr and rb < lb:
            return "right"
        # neither side measures small. If an estimate sits close enough to
        # the threshold that the static planner may still broadcast it
        # post-pruning, pin the shuffle family; otherwise stay silent.
        if min(lest, rest) <= thr * self.PRUNE_MARGIN:
            return "shuffle"
        return None
