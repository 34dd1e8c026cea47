#!/usr/bin/env python
"""Per-query wall-time table for the TPC-H family entries the headline
bench does NOT time (round-9 verdict item 6): without a committed trend,
a plan regression in the untimed 18 entries would be invisible
round-over-round. Same discipline as bench.py — warm once, min-of-3,
rep-spread alongside — at sf0.1.

Usage::

    python experiments/tpch_family_bench.py \
        [--out=experiments/results/tpch_family_bench_rN.json]  (append-only: one file per point)
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, ".")

SF_DIR = "/root/testdata/sf0.1"

#: the headline set (bench.py) — everything TPC-H-shaped NOT in it gets
#: timed here, discovered from the registry so a new entry cannot be
#: silently untimed
from bench import HEADLINE  # noqa: E402

_TPCH_RE = re.compile(r"^(q\d+_|flagship_|top_suppliers|latest_order)")


def main() -> int:
    out = "experiments/results/tpch_family_bench_r11.json"
    for a in sys.argv[1:]:
        if a.startswith("--out="):
            out = a.split("=")[1]

    from postbound_spark.queries import load_all
    from postbound_spark.session import get_spark

    registry = load_all()
    names = sorted(
        n for n in registry if _TPCH_RE.match(n) and n not in HEADLINE
    )
    spark = get_spark("tpch-family-bench")
    spark.sparkContext.setLogLevel("ERROR")

    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    for name in names:
        registry[name].builder(spark, SF_DIR).collect()  # warm
        reps = []
        for _ in range(3):
            t0 = time.perf_counter()
            registry[name].builder(spark, SF_DIR).collect()
            reps.append(time.perf_counter() - t0)
        timings[name] = round(min(reps), 3)
        spreads[name] = round(max(reps) / min(reps), 2)
        print(f"{name}: {timings[name]}s (spread {spreads[name]})")

    result = {
        "metric": "tpch_family_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "rep_spread": spreads,
        "reps": 3,
        "sf": 0.1,
        # noise context rides with every point (round-10 verdict): load
        # average + timestamp make a trend file self-describing
        "loadavg": [round(x, 2) for x in os.getloadavg()],
        "timestamp": time.strftime("%Y-%m-%dT%H:%M:%S%z"),
    }
    if os.path.exists(out):
        # append-only trend series: one file per measurement, never
        # overwrite a recorded point (round-10 verdict defect)
        raise SystemExit(f"refusing to overwrite trend point {out}; "
                         "pass a fresh output name")
    with open(out, "w") as f:
        json.dump(result, f, indent=1)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
