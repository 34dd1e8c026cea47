"""Self-tests of the benchmark's own machinery. Run from the repository root:

    python3 perfbench/selftest.py

- job counting keeps counting past ``spark.ui.retainedJobs`` (1000), where
  the status tracker's job-id list stops growing;
- the same seed reproduces the same input bytes, JOB subset and op order,
  and another seed changes them;
- span self-time arithmetic and the tail-percentile rule.
"""

from __future__ import annotations

import hashlib
import os
import shutil
import sys
import tempfile

import datagen
import proc
import run
from spans import Span, Tracer, covered, self_jobs, self_times
from workloads import JobWorkload

RETAINED_JOBS = 1000  # Spark's default spark.ui.retainedJobs


def _tree_digest(path: str) -> str:
    h = hashlib.sha256()
    for name in sorted(os.listdir(path)):
        h.update(name.encode())
        with open(os.path.join(path, name), "rb") as fh:
            h.update(fh.read())
    return h.hexdigest()


def test_job_count_past_retained_jobs(tmp: str) -> None:
    from postbound_spark.session import get_spark

    spark = get_spark("perfbench-selftest", cpus=2, extra_conf=proc.isolate(tmp))
    try:
        tracker = spark.sparkContext.statusTracker()
        rdd = spark.sparkContext.parallelize([0], 1)
        tracer = Tracer()
        tracer.attach(spark)
        tracer.enabled = True
        listed_before = len(tracker.getJobIdsForGroup(None))
        n = RETAINED_JOBS + 50
        with tracer.span("jobs") as span:
            for _ in range(n):
                rdd.count()  # exactly one job each
        spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty()
        listed = len(tracker.getJobIdsForGroup(None)) - listed_before
        assert span.jobs1 - span.jobs0 == n, (span.jobs0, span.jobs1)
        assert listed < n, f"the retained-job list grew by {listed}; expected it to stop at {RETAINED_JOBS}"
    finally:
        proc.shutdown(spark)


def test_seed_determinism(tmp: str) -> None:
    digests = {}
    for tag, seed in (("a", 1), ("b", 1), ("c", 2)):
        sf, imdb = os.path.join(tmp, f"sf-{tag}"), os.path.join(tmp, f"imdb-{tag}")
        datagen.write_sf_tables(sf, seed)
        datagen.write_imdb_tables(imdb, seed)
        digests[tag] = (_tree_digest(sf), _tree_digest(imdb))
    assert digests["a"] == digests["b"], "one seed wrote different bytes"
    assert digests["a"][0] != digests["c"][0] and digests["a"][1] != digests["c"][1], "seeds 1 and 2 wrote the same bytes"

    assert JobWorkload.subset(7) == JobWorkload.subset(7)
    assert len({tuple(JobWorkload.subset(s)) for s in range(10)}) > 1, "the seed never changes the JOB subset"

    ops = [f"op{i}" for i in range(8)]
    assert run.pass_orders(ops, 3, 4) == run.pass_orders(ops, 3, 4)
    assert run.pass_orders(ops, 3, 4) != run.pass_orders(ops, 4, 4)
    assert all(sorted(order) == ops for order in run.pass_orders(ops, 3, 4))


def test_span_arithmetic(tmp: str) -> None:
    root = Span("bench.op", -1, 0, start=0.0, end=10.0, book=0.5, jobs0=0, jobs1=7)
    child = Span("queries.build", 0, 0, start=1.0, end=4.0, book=0.25, jobs0=0, jobs1=2)
    grandchild = Span("catalyst.analysis", 1, 0, start=2.0, end=3.0, jobs0=0, jobs1=0)
    other = Span("exec.collect", 0, 0, start=5.0, end=9.0, jobs0=2, jobs1=7)
    spans = [root, child, grandchild, other]
    assert self_times(spans) == [10.0 - 7.0 - 0.5, 3.0 - 1.0 - 0.25, 1.0, 4.0]
    assert self_jobs(spans) == [0, 2, 0, 5]
    assert covered([(0, 5), (3, 8), (20, 30)], (2, 25)) == 6 + 5
    assert run.tail([float(i) for i in range(100)]) == (90.0, 89.0)
    assert run.tail([float(i) for i in range(9)]) == (50.0, 4.0)


def main() -> int:
    sys.path.insert(0, os.getcwd())
    os.makedirs(run.CACHE, exist_ok=True)
    failed = 0
    tests = [v for k, v in globals().items() if k.startswith("test_")]
    for test in tests:
        tmp = tempfile.mkdtemp(prefix="selftest-", dir=os.path.join(os.getcwd(), run.CACHE))
        try:
            test(tmp)
            print(f"ok   {test.__name__}")
        except AssertionError as exc:
            failed += 1
            print(f"FAIL {test.__name__}: {exc}")
        finally:
            shutil.rmtree(tmp, ignore_errors=True)
    print(f"{len(tests) - failed}/{len(tests)} passed")
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
