"""Cardinality estimators: true counts, replayed counts, distorted counts.

Mirrors the reference's ``opt/_cardinalities.py``: ``PreciseCardinalities``
(:20 — runs COUNT(*) per intermediate: the ground-truth oracle),
``PreComputedCardinalities`` (:95 — replay from a mapping/CSV) and
``CardinalityDistortion`` (:306 — perturb another estimator, for
sensitivity studies). Precise counting executes one COUNT(*) DataFrame
job per intermediate — Catalyst collapses it to a partial-count +
single-row exchange, so even huge intermediates only shuffle one long per
partition.
"""

from __future__ import annotations

import math
import weakref

from pyspark.sql import DataFrame

from postbound_spark.optimizer.hints import compile_join_tree
from postbound_spark.optimizer.jointree import JoinTree
from postbound_spark.optimizer.stages import CardinalityEstimator, QuerySpec
from postbound_spark.optimizer.stats import table_profile


class PreciseCardinalities(CardinalityEstimator):
    """COUNT(*) over the actual intermediate join (ref ``opt/_cardinalities.py:20``).

    The memo key includes the join edges AND the identity of the input
    DataFrames — the same instance is commonly reused across queries (e.g.
    the dp-precise preset), and two queries can pass the same table NAMES
    with different filters applied; a name-set-only key would replay the
    first query's counts as "ground truth" for the second.

    ``id()`` alone is only unique among LIVE objects, so the cache entry
    carries a *weak* reference to each keyed frame and verifies, on every
    hit, that the weakref still resolves to the very object being asked
    about. A recycled id therefore reads as a cache miss and recounts —
    the staleness protection of pinning, without pinning: a long session
    reusing one estimator (the dp-precise preset's documented pattern)
    holds no strong references and cannot grow frame memory without
    bound."""

    def __init__(self):
        # key -> (count, weakrefs to the frames whose ids appear in the key)
        self._cache: dict[
            tuple, tuple[float, tuple["weakref.ref[DataFrame]", ...]]
        ] = {}

    def estimate_cardinality(
        self, spec: QuerySpec, intermediate: frozenset[str], tables: dict[str, DataFrame]
    ) -> float:
        keyed = sorted(
            (name, df) for name, df in tables.items() if name in intermediate
        )
        key = (
            frozenset(intermediate),
            tuple(sorted(map(str, spec.edges))),
            tuple((name, id(df)) for name, df in keyed),
        )
        hit = self._cache.get(key)
        if hit is not None:
            count, refs = hit
            if all(r() is df for r, (_n, df) in zip(refs, keyed)):
                return count
            del self._cache[key]  # id recycled onto a different frame
        tree = JoinTree.left_deep(sorted(intermediate))
        df = compile_join_tree(tables, tree, list(spec.edges))
        count = float(df.count())
        # weakref CALLBACK evicts the entry the moment any keyed frame
        # dies — without it, stale keys (which embed dead ids) could only
        # be deleted by an exact-key re-hit and would accumulate without
        # bound across a long session of fresh frames
        self._cache[key] = (
            count,
            tuple(
                weakref.ref(frame, lambda _r, k=key: self._cache.pop(k, None))
                for _, frame in keyed
            ),
        )
        return count


class PreComputedCardinalities(CardinalityEstimator):
    """Replay cardinalities from a mapping (ref ``:95``)."""

    def __init__(self, cardinalities: dict[frozenset[str], float], default: float = math.nan):
        self.cardinalities = {frozenset(k): v for k, v in cardinalities.items()}
        self.default = default

    def estimate_cardinality(self, spec, intermediate, tables) -> float:
        return self.cardinalities.get(frozenset(intermediate), self.default)


class CardinalityDistortion(CardinalityEstimator):
    """Deterministically perturb another estimator by ``factor**depth``
    (ref ``:306`` — used to study optimizer robustness to misestimates).
    Deterministic (no RNG) so experiments replay exactly."""

    def __init__(self, inner: CardinalityEstimator, factor: float):
        self.inner = inner
        self.factor = factor

    def estimate_cardinality(self, spec, intermediate, tables) -> float:
        true = self.inner.estimate_cardinality(spec, intermediate, tables)
        # depth = joins performed = |tables| - 1; a base table (depth 0)
        # gets factor**0 == no distortion, so sensitivity curves actually
        # start from truthful leaves and compound per join as documented
        return true * (self.factor ** (len(intermediate) - 1))


class StatsCardinalityEstimator(CardinalityEstimator):
    """Textbook System-R statistics estimates — the estimator that makes
    corpus-scale DP affordable.

        |S|  =  Π_{T∈S} |σ(T)|  ×  Π_{edge⊆S} 1 / max(ndv(l), ndv(r))

    (attribute independence + containment of value sets — the classical
    formula every Selinger-style optimizer runs on). The inputs are each
    filtered table's COUNT(*) plus the HLL ``approx_count_distinct`` of
    every join column the spec touches, read from its
    :func:`~postbound_spark.optimizer.stats.table_profile`: one Spark
    action per filtered table on first use, shared through the session
    memo with UES and every later plan of the same table. After that,
    every subset estimate is O(1) arithmetic. The 3^n DP
    enumerations (:mod:`~postbound_spark.optimizer.dynprog`,
    :mod:`~postbound_spark.optimizer.pgdp`) call the estimator once per
    connected subset — :class:`PreciseCardinalities` would pay one
    COUNT(*) *job* per call, which is why it cannot plan a corpus.

    Statistics are computed on the PREPARED (filter-pushed) frames, so
    base selectivities are exact; only join-result sizes are modeled. At
    cluster scale the same numbers come from ANALYZE'd catalog stats
    (Spark CBO) with zero jobs; computing them on the fly keeps the
    research loop free of warehouse state. The stats pass itself is a
    map-side partial aggregation (COUNT + HLL sketches merge
    associatively), so it scales to any table size.

    Mirrors the role of the reference's native estimator
    (``opt/native.py:413``) for DP inputs, served from statistics instead
    of per-subset backend plans.
    """

    def __init__(self):
        #: (name, cols) -> (frame, stats) for the frame last asked about
        #: under that name. A DP enumeration asks once per connected subset
        #: for the same few frames; the identity check skips the memo's
        #: semantic lookup (two JVM calls) on those repeats. Holding the
        #: frame keeps its id from being recycled, and one entry per name
        #: bounds what the estimator holds.
        self._last: dict[tuple, tuple[DataFrame, tuple[float, dict[str, float]]]] = {}

    def _table_stats(
        self, name: str, df: DataFrame, cols: tuple[str, ...]
    ) -> tuple[float, dict[str, float]]:
        """``name``'s filtered row count and join-column distinct counts
        (floored at one, the divisor convention)."""
        hit = self._last.get((name, cols))
        if hit is not None and hit[0] is df:
            return hit[1]
        profile = table_profile(df, cols)
        ndv = {c: max(1.0, float(n)) for c, n in profile.distinct_counts.items()}
        stats = (float(profile.row_count), ndv)
        self._last[(name, cols)] = (df, stats)
        return stats

    def estimate_cardinality(
        self,
        spec: QuerySpec,
        intermediate: frozenset[str],
        tables: dict[str, DataFrame],
    ) -> float:
        return self.estimate_components(spec, intermediate, tables)["est"]

    def estimate_components(
        self,
        spec: QuerySpec,
        intermediate: frozenset[str],
        tables: dict[str, DataFrame],
    ) -> dict[str, float]:
        """The estimate together with the quantities it was derived from
        — the feature surface learned correctors train on
        (:mod:`~postbound_spark.optimizer.learned`): ``est`` the System-R
        estimate, ``prod`` the filtered cross product (pre-division
        size), ``min_base``/``max_base`` the extreme filtered base
        cardinalities, ``n_edges`` the join edges inside the subset."""
        est = 1.0
        counts: list[float] = []
        stats: dict[str, tuple[float, dict[str, float]]] = {}
        # sorted: float products depend on order, and frozenset order
        # follows the process's string-hash seed
        for t in sorted(intermediate):
            stats[t] = self._table_stats(t, tables[t], spec.join_columns(t))
            est *= stats[t][0]
            counts.append(stats[t][0])
        prod = est
        n_edges = 0
        for e in spec.edges:
            if e.left_table in intermediate and e.right_table in intermediate:
                ndv_l = stats[e.left_table][1].get(e.left_col, 1.0)
                ndv_r = stats[e.right_table][1].get(e.right_col, 1.0)
                est /= max(ndv_l, ndv_r)
                n_edges += 1
        # an empty filtered base table genuinely yields 0-row joins; any
        # non-empty product is floored at one row (the planner convention)
        return {
            "est": est if est == 0.0 else max(1.0, est),
            "prod": prod,
            "min_base": min(counts) if counts else 0.0,
            "max_base": max(counts) if counts else 0.0,
            "n_edges": n_edges,
        }
