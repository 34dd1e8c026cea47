"""spark-graft benchmark: one workload per process, one closed-loop client.

Run from the repository root:

    python3 perfbench/run.py --workload tpch_sf0.1 --seed 1 --seconds 20 --trace 0

The run builds its inputs under ``.perfbench_cache/`` (the first run per
checkout also verifies every op against its DuckDB oracle), sets up a
``local[nproc]`` session three times (the first set-up starts the JVM),
runs a first pass, unmeasured warm-up passes and then the measured warm
passes over the workload's ops, checks every result, and prints two JSON
lines: a record of the run (host state, passes, failures, tail percentile)
and, last, ``{"correct", "attempted", "failed", "metrics"}``. With
``--trace 0`` the metrics are the ``end_to_end`` ones of
``BENCHMARK.json``, with ``--trace 1`` its ``per_layer`` ones, from spans
at the layer boundaries; ``README.md`` says what each measures and which
end-to-end metric it should move.
"""

from __future__ import annotations

import argparse
import json
import os
import platform
import random
import shutil
import statistics
import subprocess
import sys
import tempfile
import time

import proc
from spans import Tracer, self_jobs, self_times
from workloads import JOB_DIR, WORKLOADS, code_digest

HERE = os.path.dirname(os.path.abspath(__file__))
CACHE = ".perfbench_cache"
SETUP_REPS = 3

#: span name -> per-layer metric fed by that span's self time
SELF_MS = {
    "queries.build": "queries.build_ms",
    "plans.parse": "plans.parse_ms",
    "plans.algebra": "plans.algebra_ms",
    "optimizer.ues": "optimizer.ues_ms",
    "optimizer.pgdp": "optimizer.pgdp_ms",
    "optimizer.tonic": "optimizer.tonic_ms",
    "optimizer.stats": "optimizer.stats_ms",
    "optimizer.qep": "optimizer.qep_ms",
    "operators.compile": "operators.compile_ms",
    "catalyst.analysis": "catalyst.analysis_ms",
    "catalyst.optimization": "catalyst.optimization_ms",
    "catalyst.planning": "catalyst.planning_ms",
    "exec.collect": "exec.collect_ms",
    "experiments.loop": "experiments.self_ms",
}
#: per-layer metrics taken from the first pass, not the warm passes
FIRST_PASS = {"queries.build_jobs", "cache.stage_persists"}


def catalog(trace: bool) -> list[dict]:
    """The metrics a run prints: ``BENCHMARK.json``'s per-layer ones when
    traced, else its end-to-end ones."""
    with open("BENCHMARK.json") as fh:
        return json.load(fh)["per_layer" if trace else "end_to_end"]


def tail(samples: list[float]) -> tuple[float, float]:
    """(percentile, value) at the highest percentile with ten samples
    beyond it; the median when there are ten samples or fewer."""
    n = len(samples)
    if n <= 10:
        return 50.0, statistics.median(samples)
    return 100.0 * (n - 10) / n, sorted(samples)[n - 11]


def pass_orders(ops: list[str], seed: int, n: int) -> list[list[str]]:
    """The op order of each of ``n`` passes, a function of the seed only."""
    rng = random.Random(f"order-{seed}")
    return [rng.sample(ops, len(ops)) for _ in range(n)]


def host_stamp(root: str) -> dict:
    import pyspark

    try:
        git = subprocess.run(["git", "-C", root, "rev-parse", "HEAD"], capture_output=True, text=True, timeout=10)
        commit = git.stdout.strip() if git.returncode == 0 else None
    except (OSError, subprocess.SubprocessError):
        commit = None
    return {
        "nproc": proc.nproc(),
        "spark_graft_cpus": os.environ.get("SPARK_GRAFT_CPUS"),
        "loadavg_before": list(os.getloadavg()),
        "pyspark": pyspark.__version__,
        "python": platform.python_version(),
        "git_commit": commit,
        "source_digest": code_digest(os.path.join(root, "postbound_spark")),
    }


# -- passes -------------------------------------------------------------------


class Pass:
    def __init__(self, traced: bool, first_span: int, first_exec: int):
        self.traced = traced
        self.first_span = first_span
        self.first_exec = first_exec
        self.last_span = first_span
        self.last_exec = first_exec
        self.wall = 0.0
        self.latencies: list[float] = []
        self.released = 0
        self.rows = 0
        self.storage_peak = 0
        self.counters: dict[str, int] = {}
        self.order: list[str] = []


class Runner:
    def __init__(self, spark, workload, tracer: Tracer):
        from postbound_spark.queries.pipeline import release_stage_caches

        self.spark = spark
        self.workload = workload
        self.tracer = tracer
        self.release = release_stage_caches
        self.attempted = 0
        self.failures: list[str] = []

    def run_pass(self, order: list[str], traced: bool) -> Pass:
        tracer, workload = self.tracer, self.workload
        tracer.enabled = traced
        tracer.counters.clear()
        rec = Pass(traced, len(tracer.spans), len(tracer.executions))
        rec.order = order
        excluded = 0.0
        start = time.perf_counter()
        for op in order:
            tracer.op += 1
            first_span = len(tracer.spans)
            t0 = time.perf_counter()
            try:
                with tracer.span("bench.op"):
                    result = workload.run_op(self.spark, op, tracer)
                error = None
            except Exception as exc:  # a raising op is a failed op, not a dead run
                result, error = None, f"{type(exc).__name__}: {exc}"
            t1 = time.perf_counter()
            rec.latencies.append(t1 - t0)
            tracer.watched = None
            if traced:
                tracer.harvest(first_span)
                rec.storage_peak = max(rec.storage_peak, tracer.storage_bytes())
            if error is None:
                error = workload.check(op, result)
                rec.rows += workload.rows(result)
            self.attempted += 1
            if error:
                self.failures.append(f"{op}: {error}"[:500])
            excluded += time.perf_counter() - t1
            if workload.release_each_op:
                rec.released += self.release()
        rec.wall = time.perf_counter() - start - excluded
        tracer.enabled = False
        rec.last_span, rec.last_exec = len(tracer.spans), len(tracer.executions)
        rec.counters = dict(tracer.counters)
        return rec


def end_to_end(setups, passes, peak_rss_mb) -> tuple[dict, dict]:
    warm = passes[1:]
    samples = [x for p in warm for x in p.latencies]
    pct, tail_s = tail(samples)
    values = {
        "setup_s": setups[0],
        "first_pass_s": passes[0].wall,
        "pass_s": statistics.median(p.wall for p in warm),
        "op_p50_ms": statistics.median(samples) * 1000.0,
        "op_tail_ms": tail_s * 1000.0,
        "peak_rss_mb": peak_rss_mb,
    }
    return values, {"op_tail_percentile": pct, "op_samples": len(samples)}


def pass_layers(tracer: Tracer, rec: Pass, selfs: list[float], sjobs: list[int], cores: int, names) -> dict:
    """Per-layer totals of one traced pass."""
    out = dict.fromkeys(names, 0.0)
    spans = tracer.spans[rec.first_span:rec.last_span]
    for i, span in enumerate(spans, start=rec.first_span):
        metric = SELF_MS.get(span.name)
        if metric:
            out[metric] += selfs[i] * 1000.0
        if span.name == "queries.build":
            out["queries.build_jobs"] += span.jobs1 - span.jobs0
        if span.name.startswith("optimizer."):
            out["optimizer.stats_jobs"] += sjobs[i]
    collect_ms = 0.0
    for ex in tracer.executions[rec.first_exec:rec.last_exec]:
        collect_ms += ex.wall_ms[1] - ex.wall_ms[0]
        for key, value in ex.spark.items():
            out[f"python.{key[len('python_'):]}" if key.startswith("python_") else f"exec.{key}"] += value
    if collect_ms > 0:
        out["exec.idle_core_frac"] = 1.0 - out["exec.executor_run_ms"] / (collect_ms * cores)
    out["exec.result_rows"] = rec.rows
    c = rec.counters
    out["optimizer.qerror_paired_ratio"] = c.get("qep.paired", 0) / c["qep.attempted"] if c.get("qep.attempted") else 0.0
    out["optimizer.tonic_trained_ratio"] = c.get("tonic.trained", 0) / c["tonic.attempted"] if c.get("tonic.attempted") else 0.0
    return out


def reconcile(tracer: Tracer, rec: Pass, selfs: list[float]) -> list[float]:
    """Per op: |op wall - (layer self times + tracer bookkeeping)| / op wall."""
    by_op: dict[int, list[int]] = {}
    for i in range(rec.first_span, rec.last_span):
        by_op.setdefault(tracer.spans[i].op, []).append(i)
    errors = []
    for idx in by_op.values():
        root = next(i for i in idx if tracer.spans[i].name == "bench.op")
        wall = tracer.spans[root].seconds
        covered = sum(selfs[i] for i in idx if i != root) + sum(tracer.spans[i].book for i in idx)
        errors.append(abs(wall - covered) / wall)
    return errors


def per_layer(tracer, passes, final_release, cores, workload) -> tuple[dict, dict]:
    names = [m["name"] for m in catalog(trace=True)]
    selfs, sjobs = self_times(tracer.spans), self_jobs(tracer.spans)
    traced_warm = [p for p in passes[1:] if p.traced]
    untraced_warm = [p for p in passes[1:] if not p.traced]
    per_pass = [pass_layers(tracer, p, selfs, sjobs, cores, names) for p in traced_warm]
    first = pass_layers(tracer, passes[0], selfs, sjobs, cores, names)
    values = {}
    for name in names:
        source = [first] if name in FIRST_PASS else per_pass
        values[name] = statistics.median(p[name] for p in source)
    values["cache.stage_persists"] = passes[0].released if workload.release_each_op else final_release
    values["cache.stored_bytes_peak"] = max(p.storage_peak for p in passes if p.traced)
    traced_wall = statistics.median(p.wall for p in traced_warm)
    untraced_wall = statistics.median(p.wall for p in untraced_warm)
    values["trace.overhead_frac"] = traced_wall / untraced_wall - 1.0
    errors = [e for p in passes if p.traced for e in reconcile(tracer, p, selfs)]
    values["trace.reconcile_err_max"] = max(errors)
    detail = {
        "traced_pass_s": traced_wall,
        "untraced_pass_s": untraced_wall,
        "ops_reconciled_within_5pct": sum(e <= 0.05 for e in errors),
        "ops_traced": len(errors),
    }
    return values, detail


def write_spans(tracer: Tracer, path: str) -> None:
    os.makedirs(os.path.dirname(path), exist_ok=True)
    with open(path, "w") as fh:
        json.dump(
            [[s.name, s.parent, s.op, s.start, s.end, s.book, s.jobs1 - s.jobs0] for s in tracer.spans],
            fh,
        )


# -- main -----------------------------------------------------------------------


def measure(args, cache: str, conf: dict) -> tuple[dict, dict, bool, int, int]:
    from postbound_spark.session import get_spark

    workload = WORKLOADS[args.workload]
    if not workload.load(cache, args.seed):
        subprocess.run(
            [sys.executable, os.path.join(HERE, "prepare.py"), "--workload", args.workload,
             "--seed", str(args.seed), "--cache", cache],
            check=True, timeout=850,
        )
        if not workload.load(cache, args.seed):
            raise RuntimeError(f"prepare.py left {cache} incomplete")
    cores = proc.nproc()
    # setup_s is the first, cold set-up: it starts the JVM and loads Spark's
    # classes, as a fresh process of the program does. The later ones
    # re-create the session on the warm JVM and go to the run record only.
    setups, spark = [], None
    for _ in range(SETUP_REPS):
        if spark is not None:
            spark.stop()
        t0 = time.perf_counter()
        spark = get_spark("perfbench", cpus=cores, extra_conf=conf)
        workload.register(spark)
        setups.append(time.perf_counter() - t0)
    tracer = Tracer()
    try:
        tracer.attach(spark)
        if args.trace:
            workload.instrument(tracer, spark)
        runner = Runner(spark, workload, tracer)
        ops = workload.ops(args.seed)
        n_warm = max(2, round(args.seconds / workload.nominal_pass_s))
        # first pass, unmeasured warm-up passes (the JIT is still compiling
        # Spark's hot paths), then the measured warm passes; a traced run
        # alternates traced and untraced measured passes, so their
        # difference measures the tracing overhead
        plan = [bool(args.trace)] + [False] * workload.warmup_passes
        plan += [bool(args.trace) and i % 2 == 0 for i in range(n_warm)]
        # the first pass keeps the listed order: which op pays the cold
        # costs changes first_pass_s by a fifth, and that would be noise
        orders = [ops] + pass_orders(ops, args.seed, len(plan) - 1)
        passes = [runner.run_pass(order, traced) for order, traced in zip(orders, plan)]
        walls = [p.wall for p in passes]
        del passes[1:1 + workload.warmup_passes]
        final_release = runner.release()
        jvm_pid = spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid()
        peak_rss_mb = (proc.vm_hwm_kb("self") + proc.vm_hwm_kb(jvm_pid)) / 1024.0
    finally:
        tracer.close()
        proc.shutdown(spark)
    detail = {
        "setups_s": setups,
        "passes_s": walls,
        "warm_passes": n_warm,
        "warmup_passes": workload.warmup_passes,
        "ops": ops,
        "failures": runner.failures[:20],
        "op_warm_ms": {
            op: statistics.median(p.latencies[p.order.index(op)] for p in passes[1:]) * 1000.0 for op in ops
        },
    }
    if args.trace:
        values, extra = per_layer(tracer, passes, final_release, cores, workload)
        write_spans(tracer, os.path.join(cache, "traces", f"{args.workload}-seed{args.seed}.json"))
    else:
        values, extra = end_to_end(setups, passes, peak_rss_mb)
    detail.update(extra)
    return values, detail, not runner.failures, runner.attempted, len(runner.failures)


def main() -> int:
    parser = argparse.ArgumentParser(description="spark-graft benchmark")
    parser.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--seconds", type=int, required=True)
    parser.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = parser.parse_args()

    root = os.getcwd()
    if not (os.path.isfile(os.path.join(root, "postbound_spark", "__init__.py")) and os.path.isdir(JOB_DIR)):
        print("perfbench: run from the root of a spark-graft checkout "
              "(postbound_spark/ and workloads/ not found)", file=sys.stderr)
        return 2
    sys.path.insert(0, root)
    cache = os.path.join(root, CACHE)
    os.makedirs(os.path.join(cache, "tmp"), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="run-", dir=os.path.join(cache, "tmp"))
    try:
        conf = proc.isolate(tmp)
        host = host_stamp(root)
        values, detail, correct, attempted, failed = measure(args, cache, conf)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    host["loadavg_after"] = list(os.getloadavg())
    record = {"workload": args.workload, "seed": args.seed, "seconds": args.seconds,
              "trace": args.trace, "host": host, **detail}
    metrics = {m["name"]: {"value": values[m["name"]], "unit": m["unit"]} for m in catalog(bool(args.trace))}
    print(json.dumps({"perfbench": record}))
    print(json.dumps({"correct": correct, "attempted": attempted, "failed": failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
