"""Build one workload's inputs and verified results under the cache directory.

``run.py`` runs this in a child process before it measures, so data
generation, the oracle checks (with their own Spark session) and DuckDB
never count toward set-up time or the measured process's memory. Usage,
from the repository root:

    python3 perfbench/prepare.py --workload tpch_sf0.1 --seed 1 --cache .perfbench_cache
"""

from __future__ import annotations

import argparse
import os
import shutil
import sys
import tempfile

import proc
from workloads import WORKLOADS


def main() -> None:
    parser = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    parser.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    parser.add_argument("--seed", type=int, required=True)
    parser.add_argument("--cache", required=True)
    args = parser.parse_args()
    sys.path.insert(0, os.getcwd())
    os.makedirs(os.path.join(args.cache, "tmp"), exist_ok=True)
    tmp = tempfile.mkdtemp(prefix="prepare-", dir=os.path.join(args.cache, "tmp"))
    try:
        WORKLOADS[args.workload].prepare(args.cache, args.seed, proc.isolate(tmp))
    finally:
        shutil.rmtree(tmp, ignore_errors=True)


if __name__ == "__main__":
    main()
