"""Focused gates for the round-12 optimization internals.

Each test pins a MECHANISM whose absence the correctness oracle cannot
see (plans and driver costs change, results do not): the exact inverted-
index form of the shingle pair verifiers, the measured routing of the
hubness 5-NN kernel, and the hardened prepared-expression cache.
"""

from __future__ import annotations

from pyspark.sql import functions as F


def test_hubness_prenormed_cosine_and_measured_spread(spark, sf_small):
    """The hubness pair cosine must pay ONE dot product per pair — norms
    are a per-row property from the shared quantize+norm stage (cosine_q
    per pair re-derived both norms: three interpreted higher-order folds
    per pair instead of one). And the measured-verdict routing (spread +
    pinned broadcast under the threshold, plain join above) must never
    change the histogram."""
    from postbound_spark.catalog import clear_table_cache
    from postbound_spark.queries import load_all
    from postbound_spark.queries.pipeline import release_stage_caches

    reg = load_all()
    fast_df = reg["ann_hubness_indegree"].builder(spark, sf_small)
    plan = str(fast_df._jdf.queryExecution().executedPlan())
    assert "RoundRobinPartitioning" in plan  # stream side spread
    cos_lines = [l for l in plan.splitlines() if "AS cos" in l]
    assert cos_lines and all(l.count("zip_with") == 1 for l in cos_lines)
    fast = fast_df.collect()
    release_stage_caches()

    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
        clear_table_cache(spark)
        slow_df = reg["ann_hubness_indegree"].builder(spark, sf_small)
        assert "RoundRobinPartitioning" not in str(
            slow_df._jdf.queryExecution().executedPlan()
        )
        slow = slow_df.collect()
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        clear_table_cache(spark)
        release_stage_caches()
    assert sorted(map(tuple, fast)) == sorted(map(tuple, slow))


def test_shingle_overlap_counts_match_array_intersection(spark, sf_small):
    """The posting-join match count IS |A∩B|: recompute the overlap stage's
    (inter, la, lb) via array_intersect on the shingle sets and compare
    row-for-row (shingle sets are distinct per doc, so the equality is
    exact, not probabilistic)."""
    from postbound_spark.queries import pipeline as P

    ov = P._shingle_pair_overlap(spark, sf_small).select(
        "doc_a", "doc_b", "inter", "la", "lb"
    )
    d = P._shingle_sets(spark, sf_small)
    x = d.select(F.col("doc_id").alias("doc_a"), F.col("sh").alias("sh_a"))
    y = d.select(F.col("doc_id").alias("doc_b"), F.col("sh").alias("sh_b"))
    ref = (
        ov.select("doc_a", "doc_b")
        .join(x, "doc_a")
        .join(y, "doc_b")
        .select(
            "doc_a",
            "doc_b",
            F.size(F.array_intersect("sh_a", "sh_b")).alias("inter"),
            F.size("sh_a").alias("la"),
            F.size("sh_b").alias("lb"),
        )
    )
    got = sorted(map(tuple, ov.collect()))
    want = sorted(map(tuple, ref.collect()))
    assert got == want and got  # non-empty on the fixture
    # and every emitted pair shares at least one shingle (the candidate
    # condition that makes the index exact for J>0 / containment>=1/2)
    assert all(row[2] >= 1 for row in got)
    P.release_stage_caches()


def test_cc_pointer_doubling_round_law_on_chain(spark):
    """A 64-node chain has diameter 63: plain one-hop min-label
    propagation would blow the 15-round cap, while the pointer-doubling
    kernel covers ~2^k hops by round k and must converge (labels = min
    node id = 0 for every node) in O(log d) rounds."""
    from postbound_spark.operators.graph import min_label_components

    n = 64
    edges = spark.createDataFrame(
        [(i, i + 1) for i in range(n - 1)], "src long, dst long"
    )
    sym = edges.union(edges.selectExpr("dst as src", "src as dst"))
    rc: list = []
    labels = min_label_components(sym, max_rounds=15, round_counter=rc)
    rows = {r["node"]: r["lbl"] for r in labels.collect()}
    assert rows == {i: 0 for i in range(n)}
    assert rc[0] <= 9, rc  # ~log2(63) + the no-change detection round


def test_expr_memo_skips_plan_bound_and_lambda_columns(spark):
    """r11 advisor findings: df-bound columns stringify identically across
    DataFrames but carry plan ids — they must bypass the memo; lambda
    variables get fresh names per composition and must not grow the cache;
    unresolved F.col attributes still memoize."""
    from postbound_spark.functions.exprcache import expr_memo

    calls = []

    @expr_memo
    def comp(c):
        calls.append(1)
        return c * 2

    df1 = spark.range(3).toDF("x")
    df2 = spark.range(4).toDF("x")
    comp(df1["x"])
    comp(df2["x"])
    assert len(calls) == 2  # no cross-DataFrame cache hit
    assert len(comp._expr_cache) == 0  # and nothing was stored

    assert comp(F.col("x")) is comp(F.col("x"))
    assert len(calls) == 3  # unresolved attributes still memoize

    n0 = len(comp._expr_cache)
    spark.range(1).select(
        F.transform(F.array(F.lit(1)), lambda v: comp(v)).alias("t")
    ).collect()
    assert len(comp._expr_cache) == n0  # lambda vars never enter the cache


def test_expr_memo_cache_is_bounded():
    from postbound_spark.functions import exprcache
    from postbound_spark.functions.exprcache import expr_memo

    @expr_memo
    def comp(k):
        return F.lit(k)

    for i in range(exprcache._CACHE_CAP + 10):
        comp(i)
    assert len(comp._expr_cache) <= exprcache._CACHE_CAP


def test_spread_stream_side_widens_single_partition(spark):
    from postbound_spark.queries import pipeline as P

    spread = P.spread_stream_side(spark.range(5).coalesce(1))
    assert (
        spread.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    )


def test_dense_pair_block_kernel_matches_jvm_path(spark, sf_small):
    """Above the measured dense-tier budget the exact pair kernels must
    route through the block GEMM kernel: no nested-loop/cartesian node
    in the plan (the VERDICT-2 plan gate) and results IDENTICAL to the
    all-JVM pair join — integer-quantized dots are exact in float64
    under any summation order, so the comparison is bit-for-bit tuple
    equality, not approximate."""
    from postbound_spark.catalog import clear_table_cache
    from postbound_spark.operators import densepair
    from postbound_spark.queries import load_all
    from postbound_spark.queries.pipeline import release_stage_caches

    reg = load_all()
    for name in ("dedup_embedding_cosine", "ann_hubness_indegree"):
        jvm = sorted(map(tuple, reg[name].builder(spark, sf_small).collect()))
        release_stage_caches()
        clear_table_cache(spark)
        saved = densepair.DENSE_PAIR_MAX_VECTORS
        densepair.DENSE_PAIR_MAX_VECTORS = 4  # force the kernel path
        try:
            df = reg[name].builder(spark, sf_small)
            plan = str(df._jdf.queryExecution().executedPlan())
            assert "NestedLoopJoin" not in plan and "Cartesian" not in plan
            assert "MapInArrow" in plan
            ker = sorted(map(tuple, df.collect()))
        finally:
            densepair.DENSE_PAIR_MAX_VECTORS = saved
            release_stage_caches()
            clear_table_cache(spark)
        assert jvm == ker and jvm, name


def test_dense_topk_superset_covers_boundary_ties(spark):
    """The argpartition kernel emits a SUPERSET (everything with cos >=
    the row's k-th value); with exact-duplicate vectors the boundary tie
    widens and the claim is that the window still reconstructs the exact
    global top-k. Build a corpus that is MOSTLY one duplicated vector
    (maximal ties, including across tile boundaries) and compare the
    kernel+window 5-NN graph against the brute-force pairwise window."""
    from pyspark.sql.window import Window

    from postbound_spark.functions import vectors as V
    from postbound_spark.operators import densepair

    dup = [1.0] * 8
    others = [[float(i + 1), float(-i - 2)] * 4 for i in range(4)]
    rows = [(i, dup if i % 3 else others[i % 4]) for i in range(40)]
    qn = (
        spark.createDataFrame(rows, "vec_id long, v array<double>")
        .select("vec_id", V.quantize(F.col("v")).alias("qv"))
        .select("vec_id", "qv", V.norm_q(F.col("qv")).alias("nrm"))
    )
    saved = densepair.BLOCK_ROWS
    densepair.BLOCK_ROWS = 8  # force 5 blocks -> ties straddle tiles
    try:
        cand = densepair.dense_pair_topk_candidates(spark, qn, 40, 5)
    finally:
        densepair.BLOCK_ROWS = saved
    a, b = qn.alias("a"), qn.alias("b")
    brute = a.join(b, F.col("a.vec_id") != F.col("b.vec_id")).select(
        F.col("a.vec_id").alias("src"),
        F.col("b.vec_id").alias("dst"),
        (
            V.dot_q(F.col("a.qv"), F.col("b.qv")).cast("double")
            / (F.col("a.nrm") * F.col("b.nrm"))
        ).alias("cos"),
    )
    w = Window.partitionBy("src").orderBy(F.desc("cos"), F.asc("dst"))

    def knn(pairs):
        return sorted(
            map(
                tuple,
                pairs.withColumn("rnk", F.row_number().over(w))
                .where(F.col("rnk") <= 5)
                .select("src", "dst")
                .collect(),
            )
        )

    got, want = knn(cand), knn(brute)
    assert got == want and len(want) == 40 * 5


def test_q15_q11_twice_consumed_aggregate_is_persisted(spark, sf_small):
    """q15's revenue view feeds both the row side and the MAX subquery,
    q11's part-value aggregate feeds both the row side and the 0.005
    grand-total threshold; neither ReuseExchange nor AQE stage reuse
    deduplicated the two aggregate subtrees, so the lineitem / partsupp
    fact scan ran TWICE per collect. The stage-cache persist makes the
    shared aggregate an InMemoryRelation consumed by both sides, and the
    release lifecycle must drop it between queries."""
    from postbound_spark.queries import load_all
    from postbound_spark.queries.pipeline import release_stage_caches

    reg = load_all()
    for name in ("q15_top_supplier", "q11_important_stock"):
        df = reg[name].builder(spark, sf_small)
        plan = str(df._jdf.queryExecution().optimizedPlan())
        assert "InMemoryRelation" in plan, name
        df.collect()
        assert release_stage_caches() >= 1, name
