"""Zero-write plan-time cardinality injection for arbitrary intermediates.

The reference's pg_lab backend applies ``Card(#t1 #t2 ... #NNN)`` hints to
ANY intermediate purely at plan time (rbergm/PostBOUND
``postbound/postgres.py:2343-2460``): the planner's row estimate for the
join of a given *table set* is replaced by a researcher-chosen number, no
data is touched, and a cardinality sweep of hundreds of points costs
hundreds of plan compilations — not hundreds of writes.

This module is the Spark-native equivalent and the engine's one channel
for injecting statistics into Catalyst (any table set of any SQL, no CTE
rewrite, no materialization):

1. the query is analyzed + optimized normally (``qe.optimizedPlan()`` —
   physical planning has not happened yet at that point);
2. every optimized-plan node is labeled with the set of base tables
   beneath it (parquet relations resolve through their file path, catalog
   tables through their identifier);
3. for each requested table set, every node covering EXACTLY that set gets
   its ``statsCache`` pre-populated with the injected ``Statistics``
   (``rowCount`` + a schema-derived ``sizeInBytes``) through a small
   compiled JVM helper (`jvm/PlanStatsInjector.java` — py4j flattens
   ``scala.math.BigInt`` to a Python int in both directions, so the
   Statistics object must be built JVM-side);
4. all other caches are cleared first, so stale stats memoized during the
   optimizer phase (CBO join reordering calls ``stats()``) cannot shadow
   the injected children when parents re-derive their estimates;
5. physical planning then runs lazily against the doctored estimates:
   join strategy selection, broadcast thresholds, and build-side choice
   (``JoinSelectionHelper``) all consult ``plan.stats`` through the very
   cache that was just seeded.

Scope: the injection steers everything AFTER logical optimization —
physical strategy, build sides, AQE's initial plan. Logical join
*reordering* happened before the splice point; forcing a join order is
the job of the join-tree/hint machinery (``optimizer/hints.py``,
``compile_join_tree``), exactly the split the reference uses (join order
via pg_hint_plan ``Leading``, cardinalities via pg_lab ``Card``).

Self-joins are keyed by leaf OCCURRENCE: Spark's optimizer erases the
SQL aliases that pg_lab uses to disambiguate (ref
``postgres.py:2343-2460``), so leaves of the same base table are
numbered in the optimized plan's left-to-right order —
``movie_info#1``, ``movie_info#2`` — and keys may use those qualifiers
(a bare name still works whenever the table is scanned once).
:meth:`PlanTimeCardinalityInjector.describe_leaves` lists each
occurrence with the pushed filters above it, which after pushdown is
exactly the fingerprint of the original alias.

Scope hygiene: the helper registers a session-global extra strategy, so
use the injector as a context manager (or call ``close()``) to
deregister it and strip the tags once the experiment ends.

No writes, no catalog state — works on the plain in-memory-catalog session.
"""

from __future__ import annotations

import os
import subprocess
import weakref
from typing import Iterable, Mapping

from pyspark.sql import DataFrame, SparkSession

_JVM_DIR = os.path.join(os.path.dirname(os.path.dirname(__file__)), "jvm")
_JAVA_SRC = os.path.join(_JVM_DIR, "PlanStatsInjector.java")
_CLASSES_DIR = os.path.join(_JVM_DIR, "classes")
_CLASS_FILE = os.path.join(_CLASSES_DIR, "postboundspark", "PlanStatsInjector.class")
_HELPER_CLASS = "postboundspark.PlanStatsInjector"


def _spark_jars_dir() -> str:
    import pyspark

    return os.path.join(os.path.dirname(pyspark.__file__), "jars")


def ensure_helper_compiled() -> str:
    """Compile the JVM helper if missing or stale; return the classes dir.

    One ``javac`` invocation per checkout (the .class is cached next to
    the source and only rebuilt when the source is newer). A JDK is
    required: raises a clear error when ``javac`` is missing (a JRE alone
    cannot build the helper).
    """
    if os.path.exists(_CLASS_FILE) and os.path.getmtime(_CLASS_FILE) >= os.path.getmtime(
        _JAVA_SRC
    ):
        return _CLASSES_DIR
    try:
        subprocess.run(
            [
                "javac",
                "-encoding",
                "UTF-8",
                "-cp",
                os.path.join(_spark_jars_dir(), "*"),
                "-d",
                _CLASSES_DIR,
                _JAVA_SRC,
            ],
            check=True,
            capture_output=True,
            text=True,
        )
    except FileNotFoundError as exc:
        raise RuntimeError(
            "plan-time cardinality injection requires a JDK: javac builds "
            "its JVM helper once per checkout, and no javac was found on "
            "PATH (a JRE alone is not enough)"
        ) from exc
    except subprocess.CalledProcessError as exc:
        raise RuntimeError(f"helper compilation failed:\n{exc.stderr}") from exc
    return _CLASSES_DIR


# gateway -> helper. Weak keys: the live SparkContext holds its gateway,
# so entries survive exactly as long as the session — a stopped session's
# gateway (and helper proxy) can be collected instead of pinned for
# process lifetime, and a recycled address can never alias a dead JVM
# because identity, not id(), is the key.
_HELPER_CACHE: "weakref.WeakKeyDictionary" = None  # initialized below
# SparkSession -> the live, not-yet-closed injectors on that session.
# Keyed by the SESSION, not the gateway: ExperimentalMethods (where the
# strategy is registered) is per-session state, and spark.newSession()
# shares one gateway across many sessions — a gateway-wide live set would
# let session B's injectors block session A's deregistration and vice
# versa. Weak keys: the injector holds its session strongly, so the entry
# lives exactly as long as some injector (or doctored plan) needs it.
# Weak set members: an injector abandoned without close() (e.g. built
# inside a registry query builder) drops out when garbage-collected, so
# it cannot permanently block the last-user deregistration below. Every
# DataFrame an injector plans holds a strong reference back to it (see
# plan()), so "live" extends to exactly the window in which an
# un-collected doctored plan still needs the strategy.
_ACTIVE_INJECTORS: "weakref.WeakKeyDictionary" = None  # initialized below


_HELPER_CACHE = weakref.WeakKeyDictionary()
_ACTIVE_INJECTORS = weakref.WeakKeyDictionary()


def load_helper(spark: SparkSession):
    """The compiled helper, loaded into the live driver JVM via a
    URLClassLoader child of Spark's context classloader (parent-first, so
    every Catalyst type resolves from Spark's own loader). Loading does
    not register the planning strategy: the plan digest
    (:func:`postbound_spark.optimizer.qep.plan_digest`) uses the helper on
    sessions that never inject, and only
    :class:`PlanTimeCardinalityInjector` registers it.

    One helper instance per JVM: py4j's reflection engine caches Method
    objects by class NAME, so two copies of the class from separate
    URLClassLoaders poison each other's dispatch ("object is not an
    instance of declaring class") — every injector and digest on a
    session shares the singleton."""
    key = spark.sparkContext._gateway
    helper = _HELPER_CACHE.get(key)
    if helper is not None:
        return helper
    classes_dir = ensure_helper_compiled()
    jvm = spark._jvm
    urls = key.new_array(jvm.java.net.URL, 1)
    urls[0] = jvm.java.io.File(classes_dir).toURI().toURL()
    parent = jvm.Thread.currentThread().getContextClassLoader()
    loader = jvm.java.net.URLClassLoader(urls, parent)
    cls = loader.loadClass(_HELPER_CLASS)
    # Class.newInstance() is deprecated since Java 9 (and rethrows checked
    # exceptions unguarded) — go through the explicit no-arg Constructor,
    # passing py4j-built empty arrays for both varargs parameters
    ctor = cls.getDeclaredConstructor(key.new_array(jvm.java.lang.Class, 0))
    helper = ctor.newInstance(key.new_array(jvm.java.lang.Object, 0))
    _HELPER_CACHE[key] = helper
    return helper


def _jseq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _leaf_table(jnode) -> str | None:
    """Base-table name of a leaf node: catalog identifier when present,
    else the parquet location's basename (``.../nation.parquet`` →
    ``nation`` — the fixture/lakehouse layout)."""
    if jnode.nodeName() == "LogicalRelation":
        ct = jnode.catalogTable()
        if ct.isDefined():
            return ct.get().identifier().table().lower()
        try:
            paths = jnode.relation().location().rootPaths()
        except Exception:
            return None
        if paths.size() > 0:
            base = paths.apply(0).getName()
            return (base.rsplit(".", 1)[0] if "." in base else base).lower()
    return None


def _row_width_bytes(jnode) -> int:
    """Catalyst's own per-row width convention (sum of the output
    attributes' ``defaultSize`` + row overhead), so injected sizeInBytes
    is commensurate with the estimates of non-injected subtrees."""
    width = 8
    for attr in _jseq(jnode.output()):
        width += attr.dataType().defaultSize()
    return width


def _key_parts(key) -> list[str]:
    if isinstance(key, str):
        parts = [p.strip() for p in key.split(",")]
    elif isinstance(key, Iterable):
        parts = list(key)
    else:
        raise TypeError(f"table-set key must be str or iterable, got {type(key)}")
    return [p.lower() for p in parts]


def _qualify_parts(parts: list[str], occurrences: Mapping[str, int]) -> frozenset[str]:
    """Resolve user-facing key parts to occurrence-qualified leaf names
    (``movie_info`` → ``movie_info#1`` when the table is scanned once;
    explicit ``movie_info#2`` addresses the second scan of a self-join)."""
    out = []
    for part in parts:
        if "#" in part:
            base, _, idx = part.partition("#")
            if not idx.isdigit() or int(idx) < 1:
                raise ValueError(f"bad occurrence qualifier {part!r}")
            if int(idx) > occurrences.get(base, 0):
                raise KeyError(
                    f"{part!r} addresses occurrence {idx} but the plan "
                    f"scans {base!r} {occurrences.get(base, 0)} time(s)"
                )
            out.append(f"{base}#{int(idx)}")  # normalize '#02' -> '#2' 
        else:
            n = occurrences.get(part, 0)
            if n > 1:
                raise ValueError(
                    f"table {part!r} is scanned {n} times in this plan "
                    f"(self-join) — qualify the occurrence as "
                    f"{part}#1..{part}#{n}; occurrences are numbered in "
                    f"the optimized plan's left-to-right leaf order, and "
                    f"describe_leaves() shows each occurrence's pushed "
                    f"filters for identification"
                )
            out.append(f"{part}#1")
    return frozenset(out)


def _qualified_unique(
    mapping: Mapping,
    occurrences: Mapping[str, int],
    cast,
    what: str,
) -> dict[frozenset[str], object]:
    """Qualify every user key and refuse silent collisions: for a table
    scanned once, ``customer`` and ``customer#1`` qualify to the same
    leaf set, and a dict containing both would otherwise keep whichever
    entry iteration saw last."""
    out: dict[frozenset[str], object] = {}
    first_key: dict[frozenset[str], object] = {}
    for key, value in mapping.items():
        qualified = _qualify_parts(_key_parts(key), occurrences)
        if qualified in out:
            raise ValueError(
                f"{what} keys {first_key[qualified]!r} and {key!r} both "
                f"address intermediate "
                f"{{{_display_set(qualified, occurrences)}}} — remove one"
            )
        out[qualified] = cast(value)
        first_key[qualified] = key
    return out


def _display_set(tabs: frozenset[str], occurrences: Mapping[str, int]) -> str:
    """Render a qualified table set for error messages, hiding the ``#1``
    qualifier for tables that occur only once."""
    names = []
    for t in sorted(tabs):
        base, _, idx = t.partition("#")
        names.append(base if occurrences.get(base, 0) <= 1 else t)
    return ",".join(names)


class PlanTimeCardinalityInjector:
    """Plan arbitrary queries under injected per-intermediate cardinalities
    without materializing anything (pg_lab ``Card()`` parity at plan time;
    ref ``postbound/postgres.py:2343``).

    ``cards`` maps a table set (frozenset/iterable of base-table names, or
    a comma-joined string) to the row count the planner should assume for
    every intermediate covering exactly that set.
    """

    def __init__(self, spark: SparkSession):
        self.spark = spark
        self._helper = load_helper(spark)
        # the helper doubles as a planning strategy that re-seeds
        # statsCache from tags on the CLONED plan every pass
        # (QueryExecution.sparkPlan clones the optimized plan, which wipes
        # caches but keeps tags)
        self._helper.register(spark._jsparkSession.experimental())
        self._tagged: list = []  # optimized plans we tagged (for close())
        self._closed = False
        _ACTIVE_INJECTORS.setdefault(self.spark, weakref.WeakSet()).add(self)

    # -- lifecycle -------------------------------------------------------
    # The registered strategy walks every plan tree on every planning pass
    # for as long as it stays registered, and a tagged DataFrame replanned
    # later silently keeps its doctored statistics. close() (or the
    # context-manager form) bounds both to the experiment.

    def close(self) -> None:
        """Strip injection tags from every plan this injector touched and,
        when this is the LAST live injector on THIS session, deregister
        the shared planning strategy from this session's
        ExperimentalMethods. The strategy object is one singleton per JVM
        (see :func:`load_helper`) but its registration is per-session, so the
        last-user check is scoped per session: closing the last injector
        on session A must deregister A's copy even while session B (same
        gateway) still has live injectors, and must NOT touch B's
        registration."""
        if self._closed:
            return
        self._closed = True
        for opt in self._tagged:
            self._helper.clearAll(opt)
        self._tagged.clear()
        live = _ACTIVE_INJECTORS.get(self.spark)
        if live is not None:
            live.discard(self)
        if not live:
            self._helper.deregister(self.spark._jsparkSession.experimental())

    def __enter__(self) -> "PlanTimeCardinalityInjector":
        return self

    def __exit__(self, *exc) -> bool:
        self.close()
        return False

    # -- plan introspection ----------------------------------------------

    def _walk_table_sets(self, opt):
        """Post-order (node, qualified-table-set) pairs plus the per-base
        occurrence counts. Leaves of the same base table are numbered in
        left-to-right plan order: ``movie_info#1``, ``movie_info#2``, … —
        a stable identity the optimizer cannot erase the way it erases
        aliases, which is what makes self-join injection unambiguous
        (ref ``postgres.py:2343-2460`` handles self-joins at plan time
        via aliases; occurrence indices are the Spark-side analog)."""
        nodes: list[tuple[object, frozenset[str]]] = []
        occurrences: dict[str, int] = {}

        def walk(jnode) -> frozenset[str]:
            children = _jseq(jnode.children())
            if not children:
                leaf = _leaf_table(jnode)
                if leaf:
                    occurrences[leaf] = occurrences.get(leaf, 0) + 1
                    tabs = frozenset([f"{leaf}#{occurrences[leaf]}"])
                else:
                    tabs = frozenset()
            else:
                parts = [walk(c) for c in children]
                tabs = frozenset().union(*parts)
            nodes.append((jnode, tabs))
            return tabs

        walk(opt)
        return nodes, occurrences

    def table_sets(self, query: str | DataFrame) -> list[frozenset[str]]:
        """The distinct exact-cover table sets the optimized plan offers
        for injection, bottom-up (occurrence-qualified: ``movie_info#1``).
        Every key passed to :meth:`plan` must be one of these; experiment
        loops use this to enumerate "all intermediates" the way the
        reference's true-card experiment walks a query's join order."""
        df = self.spark.sql(query) if isinstance(query, str) else query
        nodes, _ = self._walk_table_sets(
            df._jdf.queryExecution().optimizedPlan()
        )
        seen: set[frozenset[str]] = set()
        out: list[frozenset[str]] = []
        for _jnode, tabs in nodes:
            if tabs and tabs not in seen:
                seen.add(tabs)
                out.append(tabs)
        return out

    def describe_leaves(self, query: str | DataFrame) -> list[dict]:
        """One row per base-table scan of the optimized plan, in the same
        left-to-right order the occurrence qualifiers use: the qualified
        name (``movie_info#2``) and the conjunction of Filter conditions
        sitting above that scan — after predicate pushdown those filters
        are exactly what distinguishes the occurrences of a self-join, so
        researchers can map ``#k`` back to their SQL aliases."""
        df = self.spark.sql(query) if isinstance(query, str) else query
        opt = df._jdf.queryExecution().optimizedPlan()
        out: list[dict] = []
        occurrences: dict[str, int] = {}

        def walk(jnode, filters: tuple[str, ...]) -> None:
            if jnode.nodeName() == "Filter":
                filters = filters + (jnode.condition().sql(),)
            children = _jseq(jnode.children())
            if not children:
                leaf = _leaf_table(jnode)
                if leaf:
                    occurrences[leaf] = occurrences.get(leaf, 0) + 1
                    out.append(
                        {
                            "leaf": f"{leaf}#{occurrences[leaf]}",
                            "table": leaf,
                            "filters": " AND ".join(filters),
                        }
                    )
            for child in children:
                walk(child, filters)

        walk(opt, ())
        return out

    def plan(
        self,
        query: str | DataFrame,
        cards: Mapping,
        *,
        size_bytes: Mapping | None = None,
        adaptive: bool | None = None,
    ) -> DataFrame:
        """Return ``query`` as a DataFrame whose physical plan is chosen
        under the injected cardinalities. Zero writes, zero catalog state.

        ``size_bytes`` optionally overrides the injected sizeInBytes per
        table set (default: rows × schema-derived row width).
        ``adaptive=False`` pins the physical plan by materializing it with
        AQE off (deterministic experiments); default leaves the session
        setting untouched.
        """
        df = self.spark.sql(query) if isinstance(query, str) else query
        qe = df._jdf.queryExecution()
        opt = qe.optimizedPlan()

        nodes, occurrences = self._walk_table_sets(opt)
        targets = _qualified_unique(cards, occurrences, float, "cards")
        sizes = _qualified_unique(
            size_bytes or {}, occurrences, int, "size_bytes"
        )

        # re-assert the strategy (idempotent) in case close() ran earlier
        # on this session — otherwise tags would never be seeded and the
        # injection would silently become a no-op. Planning on a closed
        # injector REVIVES it: _closed is reset and it rejoins the live
        # set, so the eventual second close() cleans these new tags and
        # re-runs the last-user deregistration instead of no-opping.
        self._helper.register(self.spark._jsparkSession.experimental())
        if self._closed:
            self._closed = False
            _ACTIVE_INJECTORS.setdefault(self.spark, weakref.WeakSet()).add(
                self
            )

        # wipe stale tags/caches BEFORE tagging, so earlier injections on a
        # reused DataFrame and optimizer-phase caches cannot shadow these
        self._helper.clearAll(opt)

        matched: set[frozenset[str]] = set()
        for jnode, tabs in nodes:
            if tabs in targets:
                rows = int(targets[tabs])
                size = sizes.get(tabs, max(1, rows) * _row_width_bytes(jnode))
                self._helper.tag(jnode, str(max(1, size)), str(rows))
                matched.add(tabs)
        self._tagged.append(opt)

        missing = set(targets) - matched
        if missing:
            available = sorted(
                {_display_set(tabs, occurrences) for _, tabs in nodes if tabs}
            )
            raise KeyError(
                f"no intermediate covers table set(s) "
                f"{[_display_set(m, occurrences) for m in sorted(missing, key=sorted)]}; "
                f"plan offers: {available}"
            )

        # the DataFrame pins its injector: a builder that returns df and
        # drops the injector must not lose strategy registration while the
        # (lazily planned) doctored frame is still collectible
        df._pb_injector = self
        if adaptive is not None:
            key = "spark.sql.adaptive.enabled"
            prev = self.spark.conf.get(key)
            self.spark.conf.set(key, str(adaptive).lower())
            try:
                qe.executedPlan()  # force the lazy val under this setting
            finally:
                self.spark.conf.set(key, prev)
        return df

    def visible_row_count(self, df: DataFrame, table_set) -> float:
        """The row count the planner sees for the lowest intermediate
        covering exactly ``table_set`` (NaN when no estimate). Accepts the
        same occurrence-qualified keys as :meth:`plan`."""
        import math

        nodes, occurrences = self._walk_table_sets(
            df._jdf.queryExecution().optimizedPlan()
        )
        target = _qualify_parts(_key_parts(table_set), occurrences)
        # nodes is post-order, so the first exact cover is the lowest one
        node = next((jn for jn, tabs in nodes if tabs == target), None)
        if node is None:
            return math.nan
        text = self._helper.visibleRowCount(node)
        return float(text) if text else math.nan
