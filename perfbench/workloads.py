"""The benchmark workloads: inputs, set-up, one op, and its checks.

An op is one registry query (builder + ``collect()``) in ``tpch_sf0.1``,
and one JOB query through all four optimizer-loop strategies in
``job_optimizer_loop``. ``--seed`` picks the op order of
every pass; in ``job_optimizer_loop`` it also picks the JOB variants and
generates the IMDB data. The sf0.1 tables are the repository's sf0.1
fixture, rebuilt by ``datagen`` from the fixture's seed, so each op is
verified against its DuckDB oracle once per checkout.

``prepare`` builds inputs and verified results under the cache directory
(it runs in its own process, so the oracle checks and DuckDB never count
toward the measured process); ``load`` reads them back in the measured
process, or reports that ``prepare`` has to run first.
"""

from __future__ import annotations

import hashlib
import json
import os
import random
import re
import shutil

import datagen
import proc

SF_SEED = 42  # the seed of the repository's sf0.1 fixture, for every --seed

# A cost-balanced slice of the TPC-H family (a full 27-query pass takes
# ~20 s on 4 cores, too long for repeated passes): scan-aggregate (q1, q6),
# a six-way join (q5), a persisted twice-consumed aggregate (q15), the
# single-pass window rewrite (q21), and the flagship query in its three
# forms: builder with measured build-side probes, optimizer-forced plan,
# and SQL text through parse -> algebra -> compile. mm_video_decode is the
# one training-data kernel, for the Arrow/pandas boundary (two chained
# mapInPandas stages).
TPCH_OPS = [
    "q1_pricing_summary", "q5_local_supplier_volume", "q6_revenue_forecast",
    "q15_top_supplier", "q21_waiting_suppliers", "flagship_regional_revenue",
    "opt_forced_plan_regional_revenue", "parsed_flagship_native", "mm_video_decode",
]

JOB_STRATEGIES = ("native", "ues", "pgdp", "tonic")
# family -> variants the seed picks from. Family 20 has 10 tables and
# self-joins; its variants share one join graph, so every seed costs about
# the same. One op takes ~7 s on 4 cores (two thirds of it statistics
# jobs), which leaves room for one query per pass.
JOB_FAMILIES = {"20": "abc"}
JOB_DIR = os.path.join("workloads", "fixtures", "job")


def _digest(*parts: bytes) -> str:
    h = hashlib.sha256()
    for part in parts:
        h.update(part)
    return h.hexdigest()[:12]


def _source_digest(path: str) -> str:
    with open(path, "rb") as fh:
        return _digest(fh.read())


def code_digest(root: str = "postbound_spark") -> str:
    """Digest of the package's Python sources: verified results are only
    reused by the code they were verified with."""
    h = hashlib.sha256()
    for dirpath, dirnames, filenames in os.walk(root):
        dirnames.sort()
        for name in sorted(filenames):
            if name.endswith(".py"):
                with open(os.path.join(dirpath, name), "rb") as fh:
                    h.update(fh.read())
    return h.hexdigest()[:12]


def _write_json(path: str, payload) -> None:
    tmp = f"{path}.{os.getpid()}.tmp"
    with open(tmp, "w") as fh:
        json.dump(payload, fh)
    os.replace(tmp, path)


def _build_dir(path: str, build) -> str:
    """Build ``path`` once: write into a sibling temp dir, then rename."""
    if not os.path.isdir(path):
        tmp = f"{path}.{os.getpid()}.tmp"
        shutil.rmtree(tmp, ignore_errors=True)
        build(tmp)
        os.replace(tmp, path)
    return path


# -- workloads --------------------------------------------------------------


class RegistryWorkload:
    """Registry queries on the sf0.1 tables. ``prepare`` checks each op once
    with the repository's oracle gate (``testing.compare_query``) and keeps
    the fingerprint of the verified result; every timed result must match
    that fingerprint."""

    # stage caches are released between queries, never between reps
    release_each_op = True
    warmup_passes = 2

    def __init__(self, name: str, ops: list[str], nominal_pass_s: float):
        self.name = name
        self.op_names = ops
        self.nominal_pass_s = nominal_pass_s
        self.verified: dict[str, dict] = {}
        self.sf_dir = ""
        self.registry = {}

    def _paths(self, cache: str) -> tuple[str, str]:
        key = _digest(_source_digest(datagen.__file__).encode(), str(SF_SEED).encode())
        return (
            os.path.join(cache, f"sf0.1-{key}"),
            os.path.join(cache, f"verified-{self.name}-{key}-{code_digest()}.json"),
        )

    def prepare(self, cache: str, seed: int, conf: dict) -> None:
        from postbound_spark.catalog import register_views
        from postbound_spark.experiments import _result_fingerprint
        from postbound_spark.queries import load_all
        from postbound_spark.queries.pipeline import release_stage_caches
        from postbound_spark.session import get_spark
        from postbound_spark.testing import compare_query

        sf_dir, verified_path = self._paths(cache)
        _build_dir(sf_dir, lambda d: datagen.write_sf_tables(d, SF_SEED))
        if os.path.exists(verified_path):
            return
        registry = load_all()
        verified = {}
        spark = get_spark("perfbench-prepare", cpus=proc.nproc(), extra_conf=conf)
        try:
            register_views(spark, sf_dir)
            for op in self.op_names:
                if registry[op].oracle is None:
                    raise ValueError(f"{op} has no DuckDB oracle")
                ok, message = compare_query(spark, op, sf_dir)
                if not ok:
                    verified[op] = {"mismatch": message[:500]}
                    continue
                rows = registry[op].builder(spark, sf_dir).collect()
                release_stage_caches()
                verified[op] = {"fingerprint": _result_fingerprint(rows)}
        finally:
            proc.shutdown(spark)
        _write_json(verified_path, verified)

    def load(self, cache: str, seed: int) -> bool:
        """Read the prepared inputs; False when ``prepare`` must run first."""
        from postbound_spark.queries import load_all

        self.registry = load_all()
        missing = [op for op in self.op_names if op not in self.registry]
        if missing:
            raise KeyError(f"queries missing from the registry: {missing}")
        self.sf_dir, verified_path = self._paths(cache)
        if not (os.path.isdir(self.sf_dir) and os.path.exists(verified_path)):
            return False
        with open(verified_path) as fh:
            self.verified = json.load(fh)
        return all(op in self.verified for op in self.op_names)

    def register(self, spark) -> None:
        from postbound_spark.catalog import register_views

        register_views(spark, self.sf_dir)

    def ops(self, seed: int) -> list[str]:
        return list(self.op_names)

    def instrument(self, tracer, spark) -> None:
        tracer.wrap_collect(type(spark.range(0)))

    def run_op(self, spark, op: str, tracer):
        with tracer.span("queries.build"):
            df = self.registry[op].builder(spark, self.sf_dir)
        tracer.watched = df
        return df.collect()

    def check(self, op: str, rows) -> str | None:
        from postbound_spark.experiments import _result_fingerprint

        want = self.verified[op]
        if "fingerprint" not in want:
            return f"oracle mismatch: {want['mismatch']}"
        if _result_fingerprint(rows) != want["fingerprint"]:
            return "result differs from the oracle-verified result"
        return None

    def rows(self, rows) -> int:
        return len(rows)


def _from_tables(sql: str) -> list[str]:
    """Base tables named in a JOB query's FROM list."""
    from_list = re.search(r"(?is)\bFROM\b(.*?)\bWHERE\b", sql).group(1)
    return [item.split()[0] for item in from_list.split(",")]


class JobWorkload:
    """``experiments.run_optimizer_loop`` over seeded JOB variants on seeded
    IMDB-shaped parquet, one loop call per query."""

    name = "job_optimizer_loop"
    release_each_op = False
    warmup_passes = 1
    nominal_pass_s = 7.0

    def __init__(self) -> None:
        self.sql: dict[str, str] = {}
        self.expected: dict[str, dict] = {}
        self.data_dir = ""
        self.base = {}

    @staticmethod
    def subset(seed: int) -> list[str]:
        rng = random.Random(f"job-subset-{seed}")
        return [family + rng.choice(variants) for family, variants in JOB_FAMILIES.items()]

    def _paths(self, cache: str, seed: int) -> tuple[str, str]:
        from postbound_spark.sources import imdb_fixture

        key = _digest(_source_digest(imdb_fixture.__file__).encode(), str(seed).encode())
        return (
            os.path.join(cache, f"imdb-{seed}-{key}"),
            os.path.join(cache, f"verified-job-{seed}-{key}.json"),
        )

    def _read_sql(self, label: str) -> str:
        with open(os.path.join(JOB_DIR, f"{label}.sql")) as fh:
            return fh.read().strip().rstrip(";")

    def prepare(self, cache: str, seed: int, conf: dict) -> None:
        import duckdb

        from postbound_spark.experiments import _result_fingerprint
        from postbound_spark.sources.imdb_fixture import IMDB_TABLES

        data_dir, oracle_path = self._paths(cache, seed)
        _build_dir(data_dir, lambda d: datagen.write_imdb_tables(d, seed))
        if os.path.exists(oracle_path):
            return
        expected = {}
        with duckdb.connect() as con:
            for t in IMDB_TABLES:
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
            for label in self.subset(seed):
                sql = self._read_sql(label)
                rows = con.execute(sql).fetchall()
                # the join cardinality every UES root bound must cover
                count_sql = re.sub(r"(?is)^\s*SELECT\s.*?\bFROM\b", "SELECT count(*) FROM ", sql, count=1)
                expected[label] = {
                    "fingerprint": _result_fingerprint(rows),
                    "count": con.execute(count_sql).fetchone()[0],
                }
        _write_json(oracle_path, expected)

    def load(self, cache: str, seed: int) -> bool:
        self.data_dir, oracle_path = self._paths(cache, seed)
        if not (os.path.isdir(self.data_dir) and os.path.exists(oracle_path)):
            return False
        with open(oracle_path) as fh:
            self.expected = json.load(fh)
        self.sql = {label: self._read_sql(label) for label in self.subset(seed)}
        return True

    def register(self, spark) -> None:
        self.base = {}
        for t in sorted({t for sql in self.sql.values() for t in _from_tables(sql)}):
            spark.read.parquet(os.path.join(self.data_dir, f"{t}.parquet")).createOrReplaceTempView(t)
            self.base[t] = spark.table(t)

    def ops(self, seed: int) -> list[str]:
        return self.subset(seed)

    def instrument(self, tracer, spark) -> None:
        from postbound_spark import experiments
        from postbound_spark.operators import compiler
        from postbound_spark.optimizer import cardinalities, pgdp, qep, stats, tonic, ues
        from postbound_spark.plans import algebra, parser

        def watch(df):
            tracer.watched = df

        def paired(_pairs):
            tracer.counters["qep.paired"] += 1

        tracer.wrap(parser, "parse_query", "plans.parse")
        tracer.wrap(algebra, "parse_relalg", "plans.algebra")
        tracer.wrap(compiler, "compile_plan", "operators.compile", after=watch)
        tracer.wrap(ues.UESJoinOrderOptimizer, "optimize_join_order", "optimizer.ues")
        tracer.wrap(pgdp.PostgresStyleDynProg, "generate_execution_plan", "optimizer.pgdp")
        tracer.wrap(tonic.TonicOperatorSelection, "select_physical_operators", "optimizer.tonic")
        tracer.wrap(tonic.TonicOperatorSelection, "record_plan", "optimizer.tonic", count="tonic.trained")
        tracer.wrap(stats.EmulatedStatistics, "row_count", "optimizer.stats")
        tracer.wrap(stats.EmulatedStatistics, "max_frequency", "optimizer.stats")
        tracer.wrap(cardinalities.StatsCardinalityEstimator, "_table_stats", "optimizer.stats")
        tracer.wrap(experiments, "join_qerrors", "optimizer.qep", after=paired, count="qep.attempted")
        tracer.wrap(qep, "observed_join_steps", "optimizer.qep", count="tonic.attempted")
        tracer.wrap_collect(type(spark.range(0)))

    def run_op(self, spark, op: str, tracer):
        from postbound_spark.experiments import run_optimizer_loop

        with tracer.span("experiments.loop"):
            return run_optimizer_loop(
                spark, {op: self.sql[op]}, self.base, strategies=JOB_STRATEGIES, on_error="skip"
            )

    def check(self, op: str, frame) -> str | None:
        ran = list(frame.strategy)
        if sorted(ran) != sorted(JOB_STRATEGIES):
            return f"loop skipped strategies: ran {ran}"
        prints = set(frame.result_fingerprint)
        if len(prints) != 1:
            return "results differ across strategies"
        want = self.expected[op]
        # the loop's own result identity, so strategies and DuckDB compare alike
        if prints != {want["fingerprint"]}:
            return "native result differs from DuckDB on the raw SQL"
        bound = float(frame.loc[frame.strategy == "ues", "ues_bound"].iloc[0])
        if not bound >= want["count"]:
            return f"UES bound {bound} below the actual join count {want['count']}"
        return None

    def rows(self, frame) -> int:
        return int(frame.result_rows.sum())


WORKLOADS = {
    "tpch_sf0.1": RegistryWorkload("tpch_sf0.1", TPCH_OPS, nominal_pass_s=6.7),
    "job_optimizer_loop": JobWorkload(),
}
