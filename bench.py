"""Benchmark harness: run the headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS] and print ONE JSON
line: {"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}.

Mirrors the reference's ``execute_workload`` timing model
(/root/reference/postbound/bench.py:1019 — wall-clock per query including
result transfer); ours times ``collect()`` of each registered headline query.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

# Headline set: one per workload family — scan-agg, multi-join, window,
# semi/anti, set ops, dedup, similarity, text. Keep this list in sync with
# the heaviest representative queries as coverage grows.
HEADLINE = [
    "flagship_regional_revenue",
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q6_revenue_forecast",
    "q10_returned_items",
    "top_suppliers_having",
    "latest_order_per_customer",
    "q5_local_supplier_volume",
    "q18_large_volume_customer",
    # training-data pipeline families (documents/embeddings are fixed-size
    # fixtures; these measure the per-row operator cost, not scan scale)
    "dedup_minhash_lsh",
    "dedup_simhash",
    "ann_cosine_topk",
    "ann_lsh_topk",
    "events_window_agg",
    "events_sessionize",
    "text_quality_score",
    # optimizer-enforced plan (UES ordering + forced operators)
    "opt_forced_plan_regional_revenue",
    # fully native pipeline: text -> parse -> algebra -> compile
    "parsed_flagship_native",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    from postbound_spark.queries import load_all
    from postbound_spark.session import get_spark

    registry = load_all()
    missing = [n for n in HEADLINE if n not in registry]
    if missing:
        # a silently-shrinking headline set would read as a spurious
        # speedup against BASELINE.md — renames must update HEADLINE too
        raise KeyError(f"headline queries missing from registry: {missing}")
    names = list(HEADLINE)
    spark = get_spark("postbound-spark-bench")
    spark.sparkContext.setLogLevel("ERROR")

    # Warm each query once (JVM JIT + codegen + parquet footer cache), then
    # time the steady-state run — the reference's prewarm analog
    # (db/_db.py:120, postgres prewarm_tables). Cold-start compile time is a
    # per-shape constant that vanishes at scale; steady-state is the number
    # that extrapolates.
    # min-of-3 steady state: this host has noisy neighbors (BASELINE.md
    # documents ~1.7x load variance); a single timing can catch a straggler
    # task, so min-of-reps is the reproducible number (the reference's
    # repetition model, bench.py:1043, exists for the same reason). The
    # per-query spread (max/min across reps) is reported alongside so a
    # reader can tell a real regression from a noisy window. The registry
    # builders release the previous query's stage caches themselves; the
    # warm runs of one query share them.
    timings: dict[str, float] = {}
    spreads: dict[str, float] = {}
    for name in names:
        registry[name].builder(spark, sf_dir).collect()
        reps = []
        for _ in range(3):
            start = time.perf_counter()
            registry[name].builder(spark, sf_dir).collect()
            reps.append(time.perf_counter() - start)
        timings[name] = round(min(reps), 3)
        spreads[name] = round(max(reps) / min(reps), 2)

    total = round(sum(timings.values()), 3)
    sf = sf_dir.rstrip("/").rsplit("sf", 1)[-1]
    print(
        json.dumps(
            {
                "metric": "headline_total",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "rep_spread": spreads,
                "reps": 3,
                # strict numeric check: isdigit()-after-stripping-dots
                # accepted "0.1.2" and float() then crashed AFTER all
                # timings were collected, losing the run's one output line
                "sf": float(sf) if re.fullmatch(r"\d+(\.\d+)?", sf) else sf,
                # noise context: a trend point must carry its own host
                # state — 1/5/15-min load BEFORE anyone asks whether an
                # external load was running (round-10 verdict)
                "loadavg": [round(x, 2) for x in os.getloadavg()],
                "timestamp": time.strftime("%Y-%m-%dT%H:%M:%S%z"),
            }
        )
    )


if __name__ == "__main__":
    main()
