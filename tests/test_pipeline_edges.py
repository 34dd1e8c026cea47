"""Edge-corpus oracle parity for the round-6 text operators.

The driver fixtures contain no empty documents, so engine/oracle
divergence on degenerate texts would be invisible to the standard
sweep. This module rebuilds a corpus that HAS those rows (empty text,
whitespace-only text, single-char text) and requires full oracle parity
on it — pinning the ``sequence(1, stop<1)`` descending-range guard in
``quality_char_entropy`` (the functions/text.py:65 trap) and the
empty-bigram short-circuit in ``sample_importance_dsir``.

It also pins the MECHANISMS of the pair, hubness, dense-GEMM, shingle
and connected-components kernels, whose absence the correctness oracle
cannot see (plans and driver costs change, results do not).
"""

from __future__ import annotations

import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest
from pyspark.sql import functions as F

from postbound_spark.testing import compare_query

SF_SRC = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def edge_dir(tmp_path_factory):
    d = tmp_path_factory.mktemp("edge_corpus")
    for f in os.listdir(SF_SRC):
        if f.endswith(".parquet") and f != "documents.parquet":
            os.symlink(os.path.join(SF_SRC, f), os.path.join(d, f))
    docs = pq.read_table(os.path.join(SF_SRC, "documents.parquet"))
    base = docs.to_pylist()
    next_id = max(r["doc_id"] for r in base) + 1
    for i, (text, lang) in enumerate(
        [("", "en"), ("   ", "en"), ("x", "de"), ("\n\t", "fr")]
    ):
        base.append(
            {
                "doc_id": next_id + i,
                "text": text,
                "lang": lang,
                "source": "edge",
                "n_chars": len(text),
            }
        )
    pq.write_table(
        pa.Table.from_pylist(base, schema=docs.schema),
        os.path.join(d, "documents.parquet"),
    )
    return str(d)


@pytest.mark.parametrize(
    "name", ["quality_char_entropy", "sample_importance_dsir"]
)
def test_edge_corpus_oracle_parity(spark, edge_dir, name):
    ok, msg = compare_query(spark, name, edge_dir)
    assert ok, f"{name} diverged on the edge corpus: {msg}"


def test_adaptive_plane_count_clamps_at_production_scale():
    """Round-9 (advisor): above 32 * 2^20 (~33.5M) vectors the min-k scan
    has no satisfying k in [4, 20] — next() without a default raised a
    bare StopIteration exactly at the scale the production mode exists
    for. Clamped to 20; the DuckDB oracle spells the same clamp via
    coalesce(min(k), 20)."""
    from postbound_spark.queries.pipeline import adaptive_plane_count

    assert adaptive_plane_count(100) == 4
    assert adaptive_plane_count(32 << 20) == 20        # exact boundary
    assert adaptive_plane_count((32 << 20) + 1) == 20  # past it: clamp
    assert adaptive_plane_count(10**12) == 20


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

    # the shingle pair verifiers run through the inverted shingle
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
    # prenormed-cosine shape is gated in
    # test_hubness_prenormed_cosine_and_measured_spread)
    plan = str(
        reg["ann_hubness_indegree"]
        .builder(spark, sf_small)
        ._jdf.queryExecution()
        .executedPlan()
    )
    assert "RoundRobinPartitioning" in plan
    P.release_stage_caches()


def test_spread_stream_side_widens_single_partition(spark):
    from postbound_spark.queries import pipeline as P

    spread = P.spread_stream_side(spark.range(5).coalesce(1))
    assert (
        spread.rdd.getNumPartitions() == spark.sparkContext.defaultParallelism
    )


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
