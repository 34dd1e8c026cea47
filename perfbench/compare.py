"""Compare two sets of benchmark results, metric by metric and workload by
workload. Run from the repository root:

    python3 perfbench/compare.py parent.out change.out

Each file holds the standard output of one or more ``run.py`` runs. Two
sets taken at different core counts are refused (exit 2): their times do
not compare. For each metric the table gives each side's median and
quartiles, the change's median over the parent's, and ``worse`` where the
change's median is worse than the parent's by more than the bound in
``BENCHMARK.json``.
"""

from __future__ import annotations

import json
import statistics
import sys


def load(path: str) -> list[tuple[dict, dict]]:
    """(run record, result) pairs, in file order."""
    runs, record = [], None
    with open(path) as fh:
        for line in fh:
            if not line.startswith("{"):
                continue
            obj = json.loads(line)
            if "perfbench" in obj:
                record = obj["perfbench"]
            elif "metrics" in obj and record is not None:
                runs.append((record, obj))
                record = None
    return runs


def summary(values: list[float]) -> tuple[float, float, float]:
    if len(values) < 2:
        return values[0], values[0], values[0]
    q1, q2, q3 = statistics.quantiles(values, n=4)
    return q2, q1, q3


def main(argv: list[str]) -> int:
    if len(argv) != 3:
        print(__doc__, file=sys.stderr)
        return 2
    parent, change = load(argv[1]), load(argv[2])
    cores = {record["host"]["nproc"] for record, _ in parent + change}
    if len(cores) != 1:
        print(f"refusing to compare results taken at different core counts: {sorted(cores)}", file=sys.stderr)
        return 2
    with open("BENCHMARK.json") as fh:
        spec = json.load(fh)
    bounds = {m["name"]: (m["bound"], m["better"]) for m in spec["end_to_end"]}
    keys = sorted({(r["workload"], r["trace"]) for r, _ in parent + change})
    print(f"{'workload':20s} {'metric':32s} {'parent [q1, q3]':>30s} {'change [q1, q3]':>30s} {'ratio':>7s}")
    for workload, traced in keys:
        sides = [
            [res for rec, res in runs if rec["workload"] == workload and rec["trace"] == traced]
            for runs in (parent, change)
        ]
        if not all(sides):
            continue
        for name in sides[0][0]["metrics"]:
            (pm, p1, p3), (cm, c1, c3) = (summary([r["metrics"][name]["value"] for r in side]) for side in sides)
            ratio = cm / pm if pm else float("nan")
            flag = ""
            if name in bounds and not traced:
                bound, better = bounds[name]
                if (ratio > 1 + bound) if better == "lower" else (ratio < 1 - bound):
                    flag = "worse"
            print(f"{workload:20s} {name:32s} {pm:12.4g} [{p1:.4g}, {p3:.4g}] {cm:12.4g} [{c1:.4g}, {c3:.4g}] {ratio:7.3f} {flag}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv))
