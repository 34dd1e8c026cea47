"""Statistics interface — emulated and native modes.

Mirrors the reference's ``DatabaseStatistics`` (rbergm/PostBOUND
``postbound/db/_db.py:1965``): *emulated* mode computes every statistic
with plain queries (``_db.py:1983-1987``, ``_calculate_* :2697-2871``)
and caches them; *native* mode reads the backend's own stats. Here:

- emulated = DataFrame aggregates (COUNT, approx_count_distinct, MIN/MAX,
  groupBy-count-limit for MCVs, ``approxQuantile`` for equi-depth
  histograms) — each one job over the parquet, pushdown-pruned to the
  single column it needs;
- native = ``ANALYZE TABLE ... COMPUTE STATISTICS`` + catalog readback,
  feeding Catalyst CBO the way the reference feeds its cost models.

The join-ordering stages read one :func:`table_profile` per filtered
base table instead: row count, HLL distinct count and exact max
frequency of every join column, memoized on the session.
:func:`table_profiles` computes all of a query's cold tables with a
single Spark action. ``max_frequency`` is the statistic the UES optimizer needs
(ref: ``opt/ues.py:300`` MaxFrequencyStats) — the highest duplication
factor of any value in a join column; the distinct counts feed the
System-R estimates of the DP enumerators.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from postbound_spark.catalog import session_memo


@dataclass(frozen=True)
class ColumnStats:
    row_count: int
    distinct_count: int
    min_value: object
    max_value: object
    max_frequency: int


@dataclass(frozen=True)
class TableProfile:
    """The statistics the join-ordering stages read off one filtered base
    table: its row count and, per join column, the HLL distinct count
    (``approx_count_distinct``) and the exact max frequency (the null
    group included, as ``groupBy(col).count()`` has it)."""

    row_count: int
    distinct_counts: dict[str, int]
    max_frequencies: dict[str, int]


def table_profile(df: DataFrame, cols: tuple[str, ...] = ()) -> TableProfile:
    """The :class:`TableProfile` of ``df`` over the join columns ``cols``,
    from one Spark action on first use and from the session memo
    (:func:`postbound_spark.catalog.session_memo`) after that: the
    one-item case of :func:`table_profiles`."""
    return table_profiles([(df, cols)])[0]


def table_profiles(
    items: Iterable[tuple[DataFrame, tuple[str, ...]]],
) -> list[TableProfile]:
    """The :class:`TableProfile` of every ``(frame, join columns)`` item,
    in order. Items the session memo already holds cost no job; every
    other one is computed by ONE Spark action over the union of their
    per-table aggregates, so a query's cold statistics cost one action,
    not one per table (Spark runs the union's independent stages side by
    side). Items of one query share one session.

    The memo key is the frame's semantic hash, and a hit is confirmed
    with ``sameSemantics``: frames rebuilt by later queries, strategies
    and loop runs share an entry, while the same table under two filters
    (a self-join's aliases) gets two. Frames with the same semantics in
    one call are computed once. Object identity would die with each
    rebuilt frame, and a plan string is truncated by
    ``spark.sql.debug.maxToStringFields``. The entry lives as long as the
    session; :func:`postbound_spark.catalog.clear_table_cache` drops it."""
    out: list[TableProfile | None] = []
    # (frame, cols, memo entries, output positions) per distinct miss
    misses: list[tuple[DataFrame, tuple[str, ...], list, list[int]]] = []
    for i, (df, cols) in enumerate(items):
        cols = tuple(sorted(set(cols)))
        entries = session_memo(df.sparkSession).setdefault(
            ("profile", df.semanticHash(), cols), []
        )
        out.append(next((p for seen, p in entries if df.sameSemantics(seen)), None))
        if out[i] is not None:
            continue
        same = next(
            (m for m in misses if m[2] is entries and df.sameSemantics(m[0])), None
        )
        if same is not None:
            same[3].append(i)
        else:
            misses.append((df, cols, entries, [i]))
    if misses:
        parts = [_profile_row(k, df, cols) for k, (df, cols, _e, _i) in enumerate(misses)]
        for row in reduce(DataFrame.union, parts).collect():
            df, cols, entries, positions = misses[row["k"]]
            profile = TableProfile(
                row_count=int(row["rows"] or 0),
                distinct_counts={c: int(n) for c, n in zip(cols, row["ndv"])},
                max_frequencies={c: int(f or 0) for c, f in zip(cols, row["mf"])},
            )
            entries.append((df, profile))
            for i in positions:
                out[i] = profile
    return out


def _profile_row(k: int, df: DataFrame, cols: tuple[str, ...]) -> DataFrame:
    """One grouping-sets pass — a group per value of each column plus the
    grand total — then one global aggregate over the groups, as the row
    ``(k, rows, mf, ndv)``: the total's count is the row count, each
    column's largest group its max frequency. HLL registers depend only
    on the set of distinct values, so the sketch over the grouped rows
    equals the sketch over the raw rows (other grouping sets carry the
    column as NULL, which the sketch skips). An empty input yields no
    groups at all, hence NULL rows and max frequencies (read as 0)."""
    m = len(cols)
    total = (1 << m) - 1  # grouping_id of the empty set: every bit rolled up
    gid, n = F.col("__gid"), F.col("__n")
    groups = df.groupingSets([[c] for c in cols] + [[]], *cols).agg(
        F.count(F.lit(1)).alias("__n"), F.grouping_id().alias("__gid")
    )
    mf = [F.max(F.when(gid == total ^ (1 << (m - 1 - i)), n)) for i in range(m)]
    ndv = [F.approx_count_distinct(c) for c in cols]
    return groups.agg(
        F.lit(k).alias("k"),
        F.max(F.when(gid == total, n)).cast("bigint").alias("rows"),
        F.array(*mf).cast("array<bigint>").alias("mf"),
        F.array(*ndv).cast("array<bigint>").alias("ndv"),
    )


class EmulatedStatistics:
    """Exact-by-default statistics via DataFrame jobs (set
    ``approximate=True`` for sketch-based distinct counts — the right
    default at 100 TB, where exact COUNT(DISTINCT) is a full shuffle)."""

    def __init__(self, spark: SparkSession, approximate: bool = False):
        self.spark = spark
        self.approximate = approximate

    def row_count(self, df: DataFrame) -> int:
        return df.count()

    def distinct_count(self, df: DataFrame, column: str) -> int:
        if self.approximate:
            agg = df.agg(F.approx_count_distinct(column).alias("d"))
        else:
            agg = df.agg(F.countDistinct(column).alias("d"))
        return agg.collect()[0]["d"]

    def min_max(self, df: DataFrame, column: str) -> tuple[object, object]:
        row = df.agg(F.min(column).alias("lo"), F.max(column).alias("hi")).collect()[0]
        return row["lo"], row["hi"]

    def max_frequency(self, df: DataFrame, column: str) -> int:
        """max #rows sharing one value in ``column`` (UES's bound input).
        One partial-aggregated groupBy + a 1-row max."""
        row = (
            df.groupBy(column)
            .count()
            .agg(F.max("count").alias("mf"))
            .collect()[0]
        )
        return int(row["mf"] or 0)

    def most_common_values(
        self, df: DataFrame, column: str, k: int = 10
    ) -> list[tuple[object, int]]:
        """MCV list (ref: ``MostCommonValues`` ``_db.py:1600``): value ->
        occurrence count, top-k. groupBy-count-orderBy-limit, exactly the
        reference's emulated SQL."""
        rows = (
            df.groupBy(column)
            .count()
            .orderBy(F.desc("count"), F.asc(column))
            .limit(k)
            .collect()
        )
        return [(r[column], r["count"]) for r in rows]

    def histogram(self, df: DataFrame, column: str, buckets: int = 10) -> list[float]:
        """Equi-depth histogram bounds via ``approxQuantile`` (the Spark
        analog of the reference's percentile-based emulated histogram,
        ``_db.py:2841`` region)."""
        probs = [i / buckets for i in range(buckets + 1)]
        return df.stat.approxQuantile(column, probs, 0.0)

    def column_stats(self, df: DataFrame, column: str) -> ColumnStats:
        lo, hi = self.min_max(df, column)
        return ColumnStats(
            row_count=self.row_count(df),
            distinct_count=self.distinct_count(df, column),
            min_value=lo,
            max_value=hi,
            max_frequency=self.max_frequency(df, column),
        )


class NativeStatistics:
    """Catalyst-native statistics: ANALYZE + catalog readback. Feeding CBO
    this way is the Spark analog of the reference's native mode (the
    backend optimizer owns the numbers)."""

    def __init__(self, spark: SparkSession):
        self.spark = spark

    def analyze(self, table: str, columns: list[str] | None = None) -> None:
        stmt = f"ANALYZE TABLE {table} COMPUTE STATISTICS"
        if columns:
            stmt += " FOR COLUMNS " + ", ".join(columns)
        self.spark.sql(stmt)

    def table_row_count(self, table: str) -> int | None:
        rows = self.spark.sql(f"DESCRIBE EXTENDED {table}").collect()
        for r in rows:
            if r["col_name"] == "Statistics":
                # e.g. "1234 bytes, 56 rows"
                for part in r["data_type"].split(","):
                    part = part.strip()
                    if part.endswith("rows"):
                        return int(part.split()[0])
        return None
