"""Runs the SQL-surface probe corpus (``tests/probe_corpus.py``) through
the native path (parse_query -> parse_relalg -> compile_plan) and checks
every probe against DuckDB on the sf0.01 fixture.

Each probe is classified with one rubric:

- PASS: both engines run it and return the same rows;
- REJECT: the engine raises ``UnsupportedSqlError``/``ParserError``;
- ORACLE_INVALID: DuckDB refuses the oracle SQL;
- DIVERGE: both engines run it and the rows differ;
- ERROR: the engine crashes past the parser.

A probe passes when its outcome equals the one the corpus expects, so a
DIVERGE or an ERROR always fails. Rows compare as an order-insensitive
multiset, with list cells (DuckDB LIST, Spark ARRAY) as tuples.
"""

from __future__ import annotations

import re
from collections import Counter

import pytest

from postbound_spark.catalog import load_tables
from postbound_spark.operators.compiler import compile_plan
from postbound_spark.plans.algebra import parse_relalg
from postbound_spark.plans.parser import ParserError, parse_query
from postbound_spark.testing import duckdb_connection
from tests.probe_corpus import ORACLE_INVALID, PASS, PROBES, REJECT, RENDER, Probe

#: every table a probe reads
TABLES = ["nation", "region", "customer", "orders", "supplier", "lineitem", "documents"]


@pytest.fixture(scope="module")
def engines(spark, sf_oracle):
    cat = load_tables(spark, sf_oracle, TABLES)
    schema = {t: cat[t].columns for t in TABLES}
    con = duckdb_connection(sf_oracle)
    yield spark, cat, schema, con
    con.close()


def _cells(rows) -> list[str]:
    return sorted(
        repr(tuple(tuple(v) if isinstance(v, list) else v for v in row))
        for row in rows
    )


def _engine_failure(exc: Exception) -> tuple[str, str]:
    outcome = REJECT if isinstance(exc, ParserError) else "ERROR"
    return outcome, f"{type(exc).__name__}: {str(exc)[:300]}"


def run_probe(probe: Probe, spark, cat, schema, con) -> tuple[str, str]:
    """Run one probe on both engines; return its outcome and a detail."""
    oracle_sql = probe.sql
    if probe.oracle == RENDER:
        try:
            # Spark spells star pruning `* EXCEPT (...)`, DuckDB `* EXCLUDE`
            oracle_sql = (
                parse_query(probe.sql, schema=schema)
                .to_sql()
                .replace("* EXCEPT (", "* EXCLUDE (")
            )
        except Exception as exc:
            return _engine_failure(exc)
    try:
        want = con.execute(oracle_sql).fetchall()
    except Exception as exc:
        return ORACLE_INVALID, str(exc)[:300]
    try:
        got = compile_plan(
            parse_relalg(parse_query(probe.sql, schema=schema)), spark, cat
        ).collect()
    except Exception as exc:
        return _engine_failure(exc)
    got, want = _cells(got), _cells(want)
    if got == want:
        return PASS, f"{len(got)} rows"
    diffs = [(g, w) for g, w in zip(got, want) if g != w][:3]
    return "DIVERGE", f"{len(got)} vs {len(want)} rows; first diffs {diffs}"


@pytest.mark.parametrize("probe", PROBES, ids=lambda p: p.name)
def test_probe(engines, probe):
    outcome, detail = run_probe(probe, *engines)
    assert outcome == probe.expect, f"{probe.sql}\n{outcome}: {detail}"


def test_corpus_integrity():
    """No probe lost, duplicated or silently re-expected in a merge."""
    assert len(PROBES) == 443
    assert len({p.name for p in PROBES}) == len(PROBES)
    assert len({p.sql for p in PROBES}) == len(PROBES)
    assert Counter(p.expect for p in PROBES) == {
        PASS: 422,
        REJECT: 19,
        ORACLE_INVALID: 2,
    }
    # DuckDB runs the desugared render for exactly the GROUPS-frame probes
    groups = [re.search(r"\bGROUPS\b", p.sql) is not None for p in PROBES]
    assert [p.oracle == RENDER for p in PROBES] == groups
    assert sum(groups) == 22
