"""Table catalog over the driver's parquet fixtures.

Mirrors the reference's schema interface (``DatabaseSchema.tables()`` /
``columns()``, /root/reference/postbound/db/_db.py:788,:817) on top of
``spark.read.parquet`` + ``spark.catalog``. Spark has no PK/FK constraints, so
key metadata lives in the sidecar :data:`PRIMARY_KEYS` / :data:`FOREIGN_KEYS`
registries (SURVEY.md §7 "No PK/FK metadata in Spark"); the optimizer layer's
n:m vs PK/FK join classification (ref: opt/_joingraph.py:377) reads these.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

PRIMARY_KEYS: dict[str, str] = {
    "region": "r_regionkey",
    "nation": "n_nationkey",
    "customer": "c_custkey",
    "supplier": "s_suppkey",
    "part": "p_partkey",
    "orders": "o_orderkey",
    "events": "event_id",
    "documents": "doc_id",
    "embeddings": "vec_id",
    # lineitem: composite (l_orderkey, l_linenumber) — no single-column PK
}

# (child_table, child_column) -> (parent_table, parent_column)
FOREIGN_KEYS: dict[tuple[str, str], tuple[str, str]] = {
    ("nation", "n_regionkey"): ("region", "r_regionkey"),
    ("customer", "c_nationkey"): ("nation", "n_nationkey"),
    ("supplier", "s_nationkey"): ("nation", "n_nationkey"),
    ("orders", "o_custkey"): ("customer", "c_custkey"),
    ("lineitem", "l_orderkey"): ("orders", "o_orderkey"),
    ("lineitem", "l_partkey"): ("part", "p_partkey"),
    ("lineitem", "l_suppkey"): ("supplier", "s_suppkey"),
}


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize the events ``ts`` column to TIMESTAMP (local-tz).

    Fixture generations have shipped events.ts as either parquet
    TIMESTAMP(NANOS) — which Spark's schema converter rejects unless read
    as raw int64 via nanosAsLong — or TIMESTAMP(MICROS)/NTZ. Shared by the
    batch reader (:func:`load_table`) and the streaming reader
    (``streaming/windows.py``) so the dispatch cannot drift between them.
    """
    ts_type = dict(df.dtypes).get("ts", "")
    if ts_type == "bigint":
        # ns epoch read as int64; µs-grained fixture data, so integer
        # `div 1000` is lossless (the ns epoch exceeds double's 2^53
        # mantissa — avoid float).
        return df.withColumn("ts", F.expr("timestamp_micros(ts div 1000)"))
    if ts_type == "timestamp_ntz":
        # event-time/watermark ops and unix_micros require TIMESTAMP
        # (local-tz); the session tz is pinned to UTC so the cast is
        # value-preserving.
        return df.withColumn("ts", F.col("ts").cast("timestamp"))
    if ts_type == "timestamp":
        return df
    raise ValueError(
        f"unexpected events.ts dtype {ts_type!r}; expected bigint "
        "(TIMESTAMP(NANOS) via nanosAsLong), timestamp_ntz, or timestamp — "
        "a new fixture format needs an explicit conversion here"
    )


#: attribute under which the session memo lives ON the session object.
#: It holds everything derived from the fixture data, keyed by a leading
#: tag: table handles (``"table"``) and the measured cardinalities and
#: join decisions of ``optimizer/selection.py`` (``"rows"``, ``"join"``).
#: ``spark.read.parquet`` re-lists files and re-infers the footer schema on
#: every call (~80 ms x 5 tables per query build — measured as the single
#: largest repeated cost of the bench). A DataFrame is an immutable plan
#: handle, so reusing it is safe; the fixtures are read-only, so the frozen
#: file listing cannot go stale. Storing the dict on the session (rather
#: than a module-global keyed by session) ties the memo's lifetime exactly
#: to the session object: a cached DataFrame's own reference back to its
#: session would keep a WeakKeyDictionary entry immortal, while the
#: session→memo→DataFrame→session cycle here is ordinary garbage-collectable
#: state once the caller drops the session.
_MEMO_ATTR = "_postbound_session_memo"


def session_memo(spark: SparkSession) -> dict:
    """The session's memo of data-derived state (created on first use)."""
    memo = getattr(spark, _MEMO_ATTR, None)
    if memo is None:
        memo = {}
        setattr(spark, _MEMO_ATTR, memo)
    return memo


def clear_table_cache(spark: SparkSession) -> None:
    """Drop everything the session has derived from the fixture data — for
    callers that rewrite fixture files in place. That is the session memo
    (table handles, measured cardinalities, join decisions) and the
    pipeline's stage frames, which are plans over the old tables."""
    from postbound_spark.queries.pipeline import _STAGE_FRAMES

    _STAGE_FRAMES.clear()
    session_memo(spark).clear()


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    memo = session_memo(spark)
    key = ("table", os.path.abspath(sf_dir), name)
    df = memo.get(key)
    if df is None:
        if name == "events":
            spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
            df = normalize_event_ts(spark.read.parquet(table_path(sf_dir, name)))
        else:
            df = spark.read.parquet(table_path(sf_dir, name))
        memo[key] = df
    return df


def load_tables(
    spark: SparkSession, sf_dir: str, names: list[str] | None = None
) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in (names or TABLES)}


def register_views(
    spark: SparkSession, sf_dir: str, names: list[str] | None = None
) -> dict[str, DataFrame]:
    """Register each table as a temp view so both the DataFrame and the
    ``spark.sql`` paths can reach it (the reference resolves tables against a
    live catalog the same way, parser.py:117 SchemaCache).

    When a :class:`postbound_spark.database.Database` facade has BOUND the
    session to a fixture dir, re-pointing the views at a different dir is
    refused here — at the mutation point — so no code path (registry
    builders, compare harnesses) can silently re-point the facade's tables
    out from under it. Unbound sessions register freely."""
    from postbound_spark.database import _BOUND_DIRS

    bound = _BOUND_DIRS.get(spark)
    if bound is not None and os.path.abspath(bound) != os.path.abspath(sf_dir):
        raise ValueError(
            f"this SparkSession's fixture views are bound to {bound!r} by a "
            f"Database facade; registering views for {sf_dir!r} would "
            "silently re-point its tables — use a separate session or "
            "rebind the Database first"
        )
    dfs = load_tables(spark, sf_dir, names)
    for name, df in dfs.items():
        df.createOrReplaceTempView(name)
    return dfs
