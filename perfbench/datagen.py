"""Seeded inputs for the benchmark workloads.

``sf_tables(42)`` rebuilds the repository's sf0.1 test fixture row for
row: the ten tables the query registry reads (TPC-H-shaped star schema,
the event log, documents with near-duplicates, 64-d unit embeddings),
drawn from one ``numpy.random.default_rng`` stream in the fixture's
table and column order. Parquet bytes differ from the fixture's (writer
version, no pandas metadata); schemas and values do not. Check a copy of
the fixture against it with

    python3 perfbench/datagen.py --check DIR

``write_imdb_tables`` delegates to the repository's own IMDB generator.

Both are pure functions of their seed: the same seed writes the same bytes.
"""

from __future__ import annotations

import argparse
import os
import sys

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

SF_ROWS = {
    "customer": 15_000,
    "supplier": 1_000,
    "part": 20_000,
    "orders": 150_000,
    "lineitem": 600_000,
    "events": 100_000,
    "documents": 5_000,
    "embeddings": 2_000,
}

# vocabularies in the order their draw indices map to
REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["BUILDING", "AUTOMOBILE", "MACHINERY", "HOUSEHOLD", "FURNITURE"]
PART_ADJ = ["red", "blue", "small", "large", "hot", "cold", "old", "new"]
PART_NOUN = ["anvil", "widget", "gizmo", "bolt", "gear", "plate", "rod", "ring"]
PART_TYPES = ["STANDARD", "SMALL", "MEDIUM", "LARGE", "ECONOMY", "PROMO"]
ORDER_STATUS = ["O", "F", "P"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
RETURN_FLAGS = ["R", "A", "N"]
LINE_STATUS = ["O", "F"]
EVENT_TYPES = ["click", "view", "purchase", "signup", "error"]
LANGS = ["en", "en", "en", "de", "fr", "es", "zh"]
WORDS = (
    "the a spark query table join group filter window data order customer "
    "part line fast slow big small hash sort merge scan agg stream batch "
    "vector key value row column"
).split()
N_DUP_DOCS = 250  # documents overwritten with "<text of another doc> dup"

DAY_US = 86_400_000_000
ORDER_DAY0 = np.datetime64("1995-01-01", "us")
SHIP_DAY0 = np.datetime64("1995-01-02", "us")
EVENT_T0 = np.datetime64("2024-01-01", "us")


def _pick(values: list[str], idx: np.ndarray) -> pa.Array:
    return pa.array(np.asarray(values, dtype=object)[idx])


def _days(day0: np.datetime64, offsets: np.ndarray) -> pa.Array:
    return pa.array(day0 + offsets.astype("timedelta64[D]").astype("timedelta64[us]"))


def _money(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _i32(values) -> pa.Array:
    return pa.array(np.asarray(values, dtype=np.int32))


def _i64(values) -> pa.Array:
    return pa.array(np.asarray(values, dtype=np.int64))


def _documents(rng: np.random.Generator) -> pa.Table:
    n = SF_ROWS["documents"]
    words = np.asarray(WORDS, dtype=object)
    texts = [" ".join(words[rng.integers(0, len(words), rng.integers(10, 100))]) for _ in range(n)]
    targets = rng.choice(n, N_DUP_DOCS, replace=False)
    for target, source in zip(targets, rng.integers(0, n, N_DUP_DOCS)):
        texts[target] = texts[source] + " dup"
    return pa.table(
        {
            "doc_id": _i64(np.arange(n)),
            "text": pa.array(texts),
            "lang": _pick(LANGS, rng.integers(0, len(LANGS), n)),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": _i64([len(t) for t in texts]),
        }
    )


def sf_tables(seed: int) -> dict[str, pa.Table]:
    """The ten sf0.1 tables, keyed by registry table name."""
    rng = np.random.default_rng(seed)
    n = SF_ROWS
    tables = {
        "region": pa.table({"r_regionkey": _i32(range(5)), "r_name": pa.array(REGIONS)}),
        "nation": pa.table(
            {
                "n_nationkey": _i32(range(25)),
                "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
                "n_regionkey": _i32([i % 5 for i in range(25)]),
            }
        ),
    }
    c = n["customer"]
    tables["customer"] = pa.table(
        {
            "c_custkey": _i64(np.arange(c)),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(c)]),
            "c_nationkey": _i32(rng.integers(0, 25, c)),
            "c_acctbal": _money(rng, -999.99, 9999.99, c),
            "c_mktsegment": _pick(SEGMENTS, rng.integers(0, 5, c)),
        }
    )
    s = n["supplier"]
    tables["supplier"] = pa.table(
        {
            "s_suppkey": _i64(np.arange(s)),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(s)]),
            "s_nationkey": _i32(rng.integers(0, 25, s)),
            "s_acctbal": _money(rng, -999.99, 9999.99, s),
        }
    )
    p = n["part"]
    adj, noun = rng.integers(0, 8, p), rng.integers(0, 8, p)
    tables["part"] = pa.table(
        {
            "p_partkey": _i64(np.arange(p)),
            "p_name": pa.array([f"{PART_ADJ[a]} {PART_NOUN[b]}" for a, b in zip(adj, noun)]),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, p)]),
            "p_type": _pick(PART_TYPES, rng.integers(0, 6, p)),
            "p_size": _i32(rng.integers(1, 51, p)),
            "p_retailprice": 900.0 + (np.arange(p) % 1000) / 10.0,
        }
    )
    o = n["orders"]
    tables["orders"] = pa.table(
        {
            "o_orderkey": _i64(np.arange(o)),
            "o_custkey": _i64(rng.integers(0, c, o)),
            "o_orderstatus": _pick(ORDER_STATUS, rng.integers(0, 3, o)),
            "o_totalprice": _money(rng, 1000.0, 500000.0, o),
            "o_orderdate": _days(ORDER_DAY0, rng.integers(0, 2405, o)),
            "o_orderpriority": _pick(PRIORITIES, rng.integers(0, 5, o)),
        }
    )
    li = n["lineitem"]
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": _i64(rng.integers(0, o, li)),
            "l_partkey": _i64(rng.integers(0, p, li)),
            "l_suppkey": _i64(rng.integers(0, s, li)),
            "l_linenumber": _i32(rng.integers(1, 8, li)),
            "l_quantity": rng.integers(1, 51, li).astype(np.float64),
            "l_extendedprice": _money(rng, 900.0, 105000.0, li),
            "l_discount": np.round(rng.uniform(0.0, 0.1, li), 2),
            "l_tax": np.round(rng.uniform(0.0, 0.08, li), 2),
            "l_returnflag": _pick(RETURN_FLAGS, rng.integers(0, 3, li)),
            "l_linestatus": _pick(LINE_STATUS, rng.integers(0, 2, li)),
            "l_shipdate": _days(SHIP_DAY0, rng.integers(0, 2499, li)),
        }
    )
    e = n["events"]
    # seconds into a 30-day month, truncated to whole nanoseconds, then to
    # microseconds
    seconds = np.sort(rng.uniform(0, 30 * 86_400, e))
    ts = EVENT_T0 + ((seconds * 1e9).astype(np.int64) // 1000).astype("timedelta64[us]")
    tables["events"] = pa.table(
        {
            "event_id": _i64(np.arange(e)),
            "ts": pa.array(ts),
            "user_id": _i64(rng.integers(0, 1500, e)),
            "event_type": _pick(EVENT_TYPES, rng.integers(0, 5, e)),
            "value": np.round(rng.exponential(50.0, e), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, e)]),
        }
    )
    tables["documents"] = _documents(rng)
    m = n["embeddings"]
    vecs = rng.standard_normal((m, 64)).astype(np.float32)
    vecs /= np.linalg.norm(vecs, axis=1, keepdims=True)
    tables["embeddings"] = pa.table(
        {
            "vec_id": _i64(np.arange(m)),
            "embedding": pa.array(list(vecs), type=pa.list_(pa.float32())),
            "label": _i32(rng.integers(0, 10, m)),
        }
    )
    return tables


def write_sf_tables(out_dir: str, seed: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name, table in sf_tables(seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"), compression="snappy")


def write_imdb_tables(out_dir: str, seed: int) -> None:
    from postbound_spark.sources.imdb_fixture import generate_imdb_fixture

    os.makedirs(out_dir, exist_ok=True)
    generate_imdb_fixture(out_dir, seed=seed)


def check(fixture_dir: str, seed: int) -> list[str]:
    """Tables of ``fixture_dir`` whose schema or values differ from
    ``sf_tables(seed)``."""
    differ = []
    for name, table in sf_tables(seed).items():
        other = pq.read_table(os.path.join(fixture_dir, f"{name}.parquet")).replace_schema_metadata()
        ok = other.equals(table)
        print(f"{'same' if ok else 'DIFFERS'}  {name}  {table.num_rows} rows")
        if not ok:
            differ.append(name)
    return differ


if __name__ == "__main__":
    parser = argparse.ArgumentParser(description="compare generated sf0.1 tables with a fixture directory")
    parser.add_argument("--check", required=True, metavar="DIR")
    parser.add_argument("--seed", type=int, default=42)
    args = parser.parse_args()
    sys.exit(1 if check(args.check, args.seed) else 0)
