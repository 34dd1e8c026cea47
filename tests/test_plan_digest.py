"""Plan introspection reads one JVM digest per execution.

:func:`~postbound_spark.optimizer.qep.plan_digest` returns both plans of an
executed DataFrame from one call into the compiled JVM helper, and every
plan reader consumes it. This module pins three things:

1. the readers' outputs — ``join_qerrors``, ``observed_join_steps``,
   ``jointree_from_plan``, ``operators_from_plan`` and
   ``executed_plan(df).canonical()`` — equal the values recorded from the
   node-by-node py4j readers they replaced (``plan_readers_recorded.json``),
   on the JOB queries the strategy-matrix and JOB-corpus suites plan and on
   the JOB-light corpus. ``train.collect_cardinality_samples`` stores these
   values as training labels;
2. scan tables resolve from the relation, so a data path long enough for
   Spark to truncate the scan's one-line description still names them;
3. a warm ``run_optimizer_loop`` op stays within a py4j round-trip budget,
   so per-node chatter cannot creep back.

Re-record the literals (only for an intended change of the readers) with
``python -m tests.test_plan_digest --record`` from the repository root.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import shutil
import sys

from postbound_spark.experiments import (
    _plan_order,
    _prepared_tables,
    imdb_shaped_frames,
    join_qerrors,
)
from postbound_spark.operators.compiler import compile_plan
from postbound_spark.optimizer.hints import apply_join_hints_to_relalg
from postbound_spark.optimizer.qep import (
    executed_plan,
    jointree_from_plan,
    observed_join_steps,
    operators_from_plan,
)
from postbound_spark.plans.algebra import parse_relalg
from postbound_spark.plans.parser import parse_query, to_query_spec
from postbound_spark.sources.imdb_fixture import IMDB_TABLES
from postbound_spark.workloads import job_light_shaped_corpus

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
JOB_DIR = os.path.join(REPO, "workloads", "fixtures", "job")
RECORDED_PATH = os.path.join(os.path.dirname(os.path.abspath(__file__)), "plan_readers_recorded.json")

#: the JOB queries the strategy-matrix and JOB-corpus suites plan
JOB_LABELS = ("1a", "8a", "22a", "33a", "29a", "12a", "32a")
JOB_STRATEGIES = ("native", "ues", "dp", "pgdp")
LIGHT_STRATEGIES = ("native", "ues")


def _job_sql(label: str) -> str:
    with open(os.path.join(JOB_DIR, f"{label}.sql")) as fh:
        return fh.read().strip().rstrip(";")


def _plain(value):
    """Comparable form: lists for tuples and every float as its exact repr,
    so NaN equals NaN and no float compares within a tolerance."""
    if isinstance(value, float):
        return repr(value)
    if isinstance(value, (list, tuple)):
        return [_plain(v) for v in value]
    return value


def _compile(spark, sql: str, base, strategy: str):
    """The frame the optimizer loop executes for ``strategy``."""
    parsed = parse_query(sql)
    spec = to_query_spec(parsed)
    tables = _prepared_tables(parsed, base)
    order, _bound, assignment, _tree = _plan_order(spark, strategy, parsed, spec, tables)
    tree = parse_relalg(parsed, join_order=order) if order else parse_relalg(parsed)
    if assignment is not None:
        tree = apply_join_hints_to_relalg(tree, assignment)
    return compile_plan(tree, spark, catalog=dict(base))


def _canonical_digest(df) -> str:
    """The executed plan's canonical form runs to kilobytes: pin a hash of
    it, without the whole-stage-codegen ids, which follow the order in
    which AQE happens to materialize concurrent stages."""
    text = re.sub(r"WholeStageCodegen \(\d+\)", "WholeStageCodegen", executed_plan(df).canonical())
    return hashlib.sha256(text.encode()).hexdigest()[:16]


def _readers(df) -> dict:
    df.collect()
    try:
        qerrors = [(p["join"], p["estimate"], p["actual"], p["qerror"]) for p in join_qerrors(df)]
    except ValueError as exc:
        qerrors = str(exc)
    return {
        "join_qerrors": qerrors,
        "observed_join_steps": [(op.name, rows) for op, rows in observed_join_steps(df)],
        "jointree_from_plan": str(jointree_from_plan(df)),
        "operators_from_plan": sorted(
            ("+".join(sorted(k)), v.name) for k, v in operators_from_plan(df).items()
        ),
        "canonical": _canonical_digest(df),
    }


def _record_all(spark, imdb_dir) -> dict:
    """Reader outputs of every pinned (query, strategy) execution. The
    JOB-light frames stay cached, as the loop's ``register_frames`` keeps
    them, so the scans resolve through ``InMemoryTableScan``."""
    job_base = {t: spark.read.parquet(f"{imdb_dir}/{t}.parquet") for t in IMDB_TABLES}
    light_base = {name: spark.createDataFrame(pdf).cache() for name, pdf in imdb_shaped_frames().items()}
    for df in light_base.values():
        df.count()
    cases = [
        (f"job/{label}/{s}", _job_sql(label), job_base, s)
        for label in JOB_LABELS
        for s in JOB_STRATEGIES
    ]
    cases += [
        (f"light/{label}/{s}", sql, light_base, s)
        for label, sql in job_light_shaped_corpus().items()
        for s in LIGHT_STRATEGIES
    ]
    return {key: _readers(_compile(spark, sql, base, s)) for key, sql, base, s in cases}


def test_plan_readers_match_recorded(spark, imdb_dir):
    """Every reader output equals the recorded py4j-walk value, on every
    pinned (query, strategy) execution."""
    with open(RECORDED_PATH) as fh:
        recorded = json.load(fh)
    got = _record_all(spark, imdb_dir)
    assert set(got) == set(recorded)
    for key, want in recorded.items():
        for reader, value in want.items():
            assert _plain(got[key][reader]) == _plain(value), (key, reader)


def test_scan_tables_survive_truncated_locations(spark, imdb_dir, tmp_path):
    """A scan's one-line description cuts ``Location:`` at
    ``spark.sql.maxMetadataStringLength`` (100). Reading table names from
    that text lost every table of a deep data directory; the digest reads
    them from the relation."""
    deep = tmp_path.joinpath(*(["nested_data_directory"] * 4))
    deep.mkdir(parents=True)
    names = ("comp_cast_type", "complete_cast", "title")
    for t in names:
        shutil.copy(f"{imdb_dir}/{t}.parquet", deep / f"{t}.parquet")
    cct, cc, t = (spark.read.parquet(str(deep / f"{n}.parquet")) for n in names)
    df = (
        cct.alias("cct")
        .join(cc.alias("cc"), cct["id"] == cc["subject_id"])
        .join(t.alias("t"), cc["movie_id"] == t["id"])
        .select("t.title")
    )
    assert len(str(deep)) > 100
    df.collect()
    tree = jointree_from_plan(df)
    assert sorted(tree.tables()) == sorted(names), str(tree)
    ops = operators_from_plan(df)
    assert frozenset(names) in ops, ops
    assert all(k <= frozenset(names) for k in ops), ops


def test_warm_loop_op_py4j_budget(imdb_engines, monkeypatch):
    """One warm optimizer-loop op of the 10-table JOB 20b with native, UES,
    pgdp and TONIC stays under 1,500 py4j round trips. Reading plans node
    by node over py4j took about 6,150."""
    from py4j.clientserver import ClientServerConnection

    from postbound_spark.experiments import run_optimizer_loop

    spark, _con = imdb_engines
    base = {t: spark.table(t) for t in IMDB_TABLES}
    query = {"20b": _job_sql("20b")}
    strategies = ("native", "ues", "pgdp", "tonic")
    run_optimizer_loop(spark, query, base, strategies=strategies)  # warm-up

    calls = []
    send = ClientServerConnection.send_command

    def counting(self, command):
        calls.append(1)
        return send(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)
    frame = run_optimizer_loop(spark, query, base, strategies=strategies)
    monkeypatch.undo()
    assert list(frame.strategy) == list(strategies)
    assert 0 < len(calls) <= 1500, len(calls)


if __name__ == "__main__":
    if sys.argv[1:] != ["--record"]:
        sys.exit("usage: python -m tests.test_plan_digest --record")
    import tempfile

    from postbound_spark.session import get_spark
    from postbound_spark.sources.imdb_fixture import generate_imdb_fixture

    session = get_spark("plan-digest-record", cpus=8, shuffle_partitions=8)
    session.sparkContext.setLogLevel("ERROR")
    with tempfile.TemporaryDirectory() as data_dir:
        generate_imdb_fixture(data_dir)
        values = _record_all(session, data_dir)
    with open(RECORDED_PATH, "w") as fh:
        # one line per execution keeps the file diffable
        fh.write("{\n")
        fh.write(",\n".join(f"{json.dumps(k)}: {json.dumps(values[k], ensure_ascii=False)}" for k in sorted(values)))
        fh.write("\n}\n")
    print(f"{len(values)} executions -> {RECORDED_PATH}")
