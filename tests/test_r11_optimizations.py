"""Focused gates for the round-11 optimization internals.

Each test pins the MECHANISM of an optimization whose absence would be
invisible to the correctness oracle (plans/driver costs change, results
don't): the stage-frame memo lifecycle, the measured broadcast verdict
that drops the LSH salt, and the prepared-expression cache.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def test_stage_frame_memoizes_until_release(spark, sf_small):
    from postbound_spark.catalog import clear_table_cache
    from postbound_spark.optimizer.selection import MeasuredBuildSide
    from postbound_spark.queries import load_all
    from postbound_spark.queries import pipeline as P

    calls = []

    def build():
        calls.append(1)
        return spark.range(3).withColumn("v", F.col("id") * 2)

    a = P.stage_frame(spark, "t_frame", "/tmp/sfX", build)
    b = P.stage_frame(spark, "t_frame", "/tmp/sfX", build)
    assert a is b and len(calls) == 1
    # a different fixture dir is a different frame
    P.stage_frame(spark, "t_frame", "/tmp/sfY", build)
    assert len(calls) == 2
    # release clears the memo (per-query lifecycle, like the data caches)
    P.release_stage_caches()
    P.stage_frame(spark, "t_frame", "/tmp/sfX", build)
    assert len(calls) == 3

    # the registry owns the per-query lifetime: rebuilding the same query
    # keeps its stage caches and frames warm, building another query
    # releases them
    reg = load_all()
    reg["q15_top_supplier"].builder(spark, sf_small)
    q15_caches = list(P._STAGE_CACHES)
    assert q15_caches and all(df.is_cached for df in q15_caches)
    P.stage_frame(spark, "t_frame", "/tmp/sfX", build)
    n = len(calls)
    reg["q15_top_supplier"].builder(spark, sf_small)
    P.stage_frame(spark, "t_frame", "/tmp/sfX", build)
    assert all(df.is_cached for df in q15_caches) and len(calls) == n
    reg["q11_important_stock"].builder(spark, sf_small)
    assert not any(df.is_cached for df in q15_caches)
    assert not any(df is c for df in P._STAGE_CACHES for c in q15_caches)
    P.stage_frame(spark, "t_frame", "/tmp/sfX", build)
    assert len(calls) == n + 1
    P.release_stage_caches()

    # the session owns the data-derived lifetime: two MeasuredBuildSide on
    # one session share a measurement (no second probe job) until
    # clear_table_cache drops it
    def next_job_id() -> int:
        return spark.sparkContext._jsc.sc().dagScheduler().nextJobId()

    frame = spark.range(10)
    j0 = next_job_id()
    assert MeasuredBuildSide(spark).rows_capped(frame, "t_lifecycle", 100) == 10
    j1 = next_job_id()
    assert MeasuredBuildSide(spark).rows_capped(frame, "t_lifecycle", 100) == 10
    assert next_job_id() == j1 > j0
    clear_table_cache(spark)
    assert MeasuredBuildSide(spark).rows_capped(frame, "t_lifecycle", 100) == 10
    assert next_job_id() > j1


def test_fits_broadcast_verdict_and_salt_bypass(spark, sf_small):
    from postbound_spark.optimizer.selection import MeasuredBuildSide
    from postbound_spark.queries import load_all
    from postbound_spark.queries.pipeline import release_stage_caches

    mb = MeasuredBuildSide(spark)
    tiny = spark.range(10).withColumn("k", F.col("id") % 3)
    assert mb.fits_broadcast(tiny, "t_fits_tiny") is True
    # a threshold of -1 disables broadcasting outright (Spark convention)
    assert MeasuredBuildSide(spark, threshold_bytes=-1).fits_broadcast(
        tiny, "t_fits_disabled"
    ) is False
    # a frame provably past a 1-byte threshold must not fit
    assert MeasuredBuildSide(spark, threshold_bytes=1).fits_broadcast(
        spark.range(1000), "t_fits_big"
    ) is False

    # end-to-end: at fixture scale the band table fits, so the candidate
    # join is UNSALTED (no __pb_salt column, no 8x Generate) and pins a
    # broadcast build — identical candidate pairs either way, which the
    # oracle entries for the minhash family verify continuously
    df = load_all()["dedup_minhash_lsh"].builder(spark, sf_small)
    plan = df._jdf.queryExecution().toString()
    assert "__pb_salt" not in plan
    release_stage_caches()


def test_expr_memo_reuses_composed_columns():
    from postbound_spark.functions import text as T
    from postbound_spark.functions.exprcache import expr_memo

    c1 = T.simhash16_from_hashes(F.col("th"))
    c2 = T.simhash16_from_hashes(F.col("th"))
    assert c1 is c2  # same expression text -> same cached Column
    assert T.simhash16_from_hashes(F.col("other")) is not c1

    calls = []

    @expr_memo
    def composer(col, k=1):
        calls.append(1)
        return col + k

    composer(F.col("x"), k=2)
    composer(F.col("x"), k=2)
    assert len(calls) == 1
    composer(F.col("x"), k=3)
    assert len(calls) == 2


def test_pair_kernels_spread_stream_side_and_short_circuit(spark, sf_small):
    """The verifier-tier all-pairs kernels must (a) spread the nested-loop
    stream side across the cores — a single-file fixture scan arrives as
    ONE partition and the BNLJ's parallelism IS that partition count — and
    (b) test the cheap id conjunct BEFORE the expensive set/vector term in
    the join condition, so the intersect/dot short-circuits for the
    id-mismatched half of the pair space."""
    from postbound_spark.queries import load_all
    from postbound_spark.queries import pipeline as P

    spread = P.spread_stream_side(spark.range(5))
    assert (
        spread.rdd.getNumPartitions()
        == spark.sparkContext.defaultParallelism
    )

    reg = load_all()
    # dedup_embedding_cosine keeps the (measured-small) nested-loop form:
    # cheap id conjunct first, spread stream side, pinned broadcast build
    plan = str(
        reg["dedup_embedding_cosine"]
        .builder(spark, sf_small)
        ._jdf.queryExecution()
        .executedPlan()
    )
    bnlj = next(
        line for line in plan.splitlines() if "BroadcastNestedLoopJoin" in line
    )
    assert bnlj.index("vec_id") < bnlj.index("aggregate")
    assert "RoundRobinPartitioning" in plan
    P.release_stage_caches()

    # r12: the shingle pair verifiers run through the inverted shingle
    # index — a posting equi-join + partial-aggregated match count; no
    # nested-loop join may remain at ANY scale
    for name in ("dedup_ngram_jaccard", "dedup_shingle_containment"):
        plan = str(
            reg[name].builder(spark, sf_small)._jdf.queryExecution().executedPlan()
        )
        assert "NestedLoopJoin" not in plan and "CartesianProduct" not in plan, name
        assert "partial_count" in plan, name  # map-side combine on the pairs
        P.release_stage_caches()

    # hubness has no join-condition filter; gate only the spread (its
    # prenormed-cosine shape is gated in test_r12_optimizations)
    plan = str(
        reg["ann_hubness_indegree"]
        .builder(spark, sf_small)
        ._jdf.queryExecution()
        .executedPlan()
    )
    assert "RoundRobinPartitioning" in plan
    P.release_stage_caches()


def test_probe_bucket_array_memoized_and_distinct_by_cast():
    from postbound_spark.queries.pipeline import _PROBE_MASKS, _probe_bucket_array

    a1 = _probe_bucket_array(F.col("bucket"))
    a2 = _probe_bucket_array(F.col("bucket"))
    assert a1 is a2  # one composition per process for the 9-probe array
    # the cast_long variant is a different expression and must not collide
    a3 = _probe_bucket_array(F.col("bucket"), cast_long=False)
    assert a3 is not a1
    # expression covers every Hamming<=1 flip of the 8-bit bucket
    text = str(a1)
    assert len(_PROBE_MASKS) == 9  # identity + 8 one-bit flips
    for m in _PROBE_MASKS[1:]:
        assert str(m) in text
