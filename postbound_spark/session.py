"""SparkSession factory with scale-oriented defaults.

Defaults are chosen for a large cluster but work on local[N]:
- AQE on (runtime re-plan, skew-join handling, partition coalescing).
- CBO on so injected/collected statistics feed join planning
  (ref: PostBOUND delegates costing to the backend optimizer,
  postbound/opt/native.py:57 — Catalyst plays that role here).
- Arrow on for any pandas-UDF path (the sanctioned Python escape hatch).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def get_spark(
    app_name: str = "postbound-spark",
    *,
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or reuse) a SparkSession tuned for analytic workloads.

    ``cpus`` defaults to ``$SPARK_GRAFT_CPUS`` (the driver's contract) or the
    machine's CPU count. ``shuffle_partitions`` defaults to 2×cpus — enough
    parallelism for local mode; on a real cluster you would size it to
    data volume / target partition size (AQE coalesces the excess).
    """
    if cpus is None:
        cpus = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))
    if shuffle_partitions is None:
        shuffle_partitions = max(2 * cpus, 8)

    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # let AQE coalesce INSIDE persist()ed plans too (default false
        # pins a cached frame to the static shuffle-partition count to
        # preserve its output partitioning): the pipeline's stage caches
        # (queries/pipeline.py stage_cache) otherwise materialize a
        # 697-row candidate set as 64 near-empty partitions and every
        # downstream stage inherits 64-128 tiny tasks whose fixed per-task
        # cost dominates (measured ~80 ms/task on <10 rows each,
        # dedup_minhash_lsh warm rep). Scale-adaptive by construction:
        # AQE sizes partitions from actual bytes at ANY scale. No engine
        # code derives values from partition layout (no
        # monotonically_increasing_id/spark_partition_id/rand anywhere),
        # so cached-plan repartitioning cannot change results.
        .config("spark.sql.optimizer.canChangeCachedPlanOutputPartitioning", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.cbo.enabled", "true")
        .config("spark.sql.cbo.joinReorder.enabled", "true")
        .config("spark.sql.statistics.histogram.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # fixture events.parquet may carry TIMESTAMP(NANOS); set the read
        # flag once at creation so the catalog/streaming readers never
        # mutate shared session state mid-flight (their own sets become
        # idempotent re-sets of the same value)
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        # FAIR lets concurrently-submitted queries (ParallelQueryExecutor)
        # share executors instead of head-of-line blocking behind the first
        # query's stages; single-query workloads are unaffected.
        .config("spark.scheduler.mode", "FAIR")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEM", "8g"))
    )
    for key, value in (extra_conf or {}).items():
        builder = builder.config(key, value)
    return builder.getOrCreate()
