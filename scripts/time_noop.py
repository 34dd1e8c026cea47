"""Isolate a query's computation cost with the noop sink (guide §1.4).

Usage: python scripts/time_noop.py [--sf DIR] [--reps N] name [name ...]

Times df.write.format("noop") per query (warm-up + min-of-reps), labeling
jobs with setJobDescription so the UI/event log stays readable. This is an
analysis harness only — bench.py remains the declared measurement (collect(),
matching the reference's result-transfer timing model).
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

sys.path.insert(0, ".")


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="+")
    ap.add_argument("--sf", default=os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1"))
    ap.add_argument("--reps", type=int, default=3)
    args = ap.parse_args()

    from postbound_spark.queries import load_all
    from postbound_spark.session import get_spark

    registry = load_all()
    spark = get_spark("time-noop")
    spark.sparkContext.setLogLevel("ERROR")
    out: dict[str, float] = {}
    for name in args.names:
        builder = registry[name].builder
        spark.sparkContext.setJobDescription(f"{name}: warmup")
        builder(spark, args.sf).write.format("noop").mode("overwrite").save()
        reps = []
        for i in range(args.reps):
            spark.sparkContext.setJobDescription(f"{name}: rep {i}")
            t0 = time.perf_counter()
            builder(spark, args.sf).write.format("noop").mode("overwrite").save()
            reps.append(time.perf_counter() - t0)
        spark.sparkContext.setJobDescription(None)
        out[name] = round(min(reps), 3)
    print(json.dumps({"noop_sec": out, "sf": args.sf,
                      "loadavg": [round(x, 2) for x in os.getloadavg()]}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
