#!/usr/bin/env python
"""Shuffle-VOLUME scaling: measure shuffled bytes, not just wall time.

``scale_stress.py`` gates wall-clock exponents, but wall time conflates
CPU, I/O and shuffle; the thing that actually kills a 100-TB job is a
shuffle whose VOLUME grows super-linearly (a pair blow-up, an
accidental re-partition of the fact table, a broadcast that silently
became an exchange). This harness measures, per query and per scale,
the total shuffle-write bytes/records and scan input bytes from Spark's
own stage metrics (the REST status API — the exact numbers the Spark UI
shows an operator), and reports

    byte_exponent = log(bytes_big / bytes_small) / log(factor)

1.0 = shuffle volume linear in data volume; < 1.0 = sub-linear (sketch/
bounded-state operators); ~2.0 = a quadratic pair explosion. Queries
whose plans are broadcast-only can legitimately shuffle ~0 bytes at the
small scale — those report bytes but no exponent.

Usage:
    python experiments/shuffle_scaling.py [--factor=10]
        [--queries=a,b,c] [--out=experiments/results/shuffle_scaling.json]

Reuses scale_stress's cached ×factor corpus (.scale_fixtures/).
"""

from __future__ import annotations

import json
import math
import os
import sys
import urllib.request

sys.path.insert(0, ".")

from experiments.scale_stress import SRC_DIR, build_scaled_dir  # noqa: E402

#: shuffle-shape representatives: the fact-side TPC-H joins, the salted
#: band-join dedups, the user-keyed window, the gram-keyed semi-join,
#: the explode-heavy ranking, and the sketch (bounded-state control)
QUERIES = [
    "flagship_regional_revenue",
    "q5_local_supplier_volume",
    "dedup_minhash_lsh",
    "dedup_components",
    "events_sessionize",
    "text_tfidf_topk",
    "sample_contamination_check",
    "sketch_kmv_source_overlap",
]


def _stages(spark) -> list[dict]:
    ui = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    url = f"{ui}/api/v1/applications/{app}/stages?status=complete"
    with urllib.request.urlopen(url) as resp:
        return json.load(resp)


def _max_stage_id(spark) -> int:
    stages = _stages(spark)
    return max((s["stageId"] for s in stages), default=-1)


def _metrics_since(spark, last_id: int) -> dict[str, int]:
    new = [s for s in _stages(spark) if s["stageId"] > last_id]
    return {
        "shuffle_write_bytes": sum(s.get("shuffleWriteBytes", 0) for s in new),
        "shuffle_write_records": sum(
            s.get("shuffleWriteRecords", 0) for s in new
        ),
        "input_bytes": sum(s.get("inputBytes", 0) for s in new),
        "n_stages": len(new),
    }


def measure(spark, registry, sf_dir: str, names: list[str]) -> dict[str, dict]:
    out: dict[str, dict] = {}
    for name in names:
        before = _max_stage_id(spark)
        registry[name].builder(spark, sf_dir).collect()
        out[name] = _metrics_since(spark, before)
    return out


def main() -> None:
    opts = {
        a.split("=")[0].lstrip("-"): a.split("=", 1)[1]
        for a in sys.argv[1:]
        if a.startswith("--") and "=" in a
    }
    factor = int(opts.get("factor", "10"))
    out_path = opts.get(
        "out", "experiments/results/shuffle_scaling.json"
    )
    queries = opts.get("queries")
    selected = queries.split(",") if queries else QUERIES

    from postbound_spark.queries import load_all
    from postbound_spark.session import get_spark

    registry = load_all()
    missing = [n for n in selected if n not in registry]
    if missing:
        raise KeyError(f"shuffle-scaling queries missing: {missing}")
    spark = get_spark(
        "shuffle-scaling",
        extra_conf={
            # the REST status API is the measurement instrument here
            "spark.ui.enabled": "true",
            "spark.ui.retainedStages": "30000",
            "spark.ui.retainedJobs": "30000",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")

    big_dir = build_scaled_dir(spark, SRC_DIR, factor)
    small = measure(spark, registry, SRC_DIR, selected)
    big = measure(spark, registry, big_dir, selected)

    exponents: dict[str, float | None] = {}
    for name in selected:
        s, b = small[name]["shuffle_write_bytes"], big[name]["shuffle_write_bytes"]
        # < 1 MiB at the small scale = broadcast-only / constant-state
        # plan; a ratio over metadata-sized volume measures noise
        if s < (1 << 20):
            exponents[name] = None
        else:
            exponents[name] = round(math.log(b / s) / math.log(factor), 3)

    measured = [e for e in exponents.values() if e is not None]
    summary = {
        "metric": "shuffle_scaling",
        "factor": factor,
        "small": small,
        "big": big,
        "byte_exponent": exponents,
        "worst_byte_exponent": max(measured) if measured else None,
    }
    os.makedirs(os.path.dirname(out_path) or ".", exist_ok=True)
    with open(out_path, "w") as fh:
        json.dump(summary, fh, indent=1, sort_keys=True)
    print(json.dumps({k: summary[k] for k in ("metric", "factor", "byte_exponent", "worst_byte_exponent")}))


if __name__ == "__main__":
    main()
