"""Physical-plan quality gates — the scale disciplines asserted, not hoped.

Each test pins a property that survives a 100× scale-up: filters reaching
the parquet scan, column pruning, broadcast of dimension tables, map-side
partial aggregation, JVM-only hot paths (no Python eval operators), and
top-k without a global sort. A regression here is invisible to the
correctness oracle — plans stay right while getting 100× slower — which is
exactly why it gets its own suite.
"""

from __future__ import annotations

import re

import pytest
from pyspark.sql import functions as F

from postbound_spark.queries import load_all


def _formatted_plan(df) -> str:
    spark = df.sparkSession
    mode = spark._jvm.org.apache.spark.sql.execution.ExplainMode.fromString(
        "formatted"
    )
    return df._jdf.queryExecution().explainString(mode)


def _has_operator(plan: str, name: str) -> bool:
    """A physical ``name`` operator in a formatted plan: its numbered
    details header ``(N) name``, not the bare substring, which
    ``WindowGroupLimit`` or any attribute spelled with it also matches."""
    return re.search(rf"^\(\d+\) {name}$", plan, re.M) is not None


@pytest.fixture(autouse=True)
def _release_stage_caches():
    """Failure-safe stage-cache teardown: several gated queries persist()
    stage boundaries; releasing in-test leaks the cache when an assertion
    fails before the trailing call, distorting memory and the
    InMemoryTableScan-sensitive assertions of later tests."""
    yield
    from postbound_spark.queries.pipeline import release_stage_caches

    release_stage_caches()


@pytest.fixture(scope="module")
def registry():
    return load_all()


def _build(registry, spark, sf, name):
    return registry[name].builder(spark, sf)


def test_q6_filters_reach_parquet_scan(registry, spark, sf_small):
    plan = _formatted_plan(_build(registry, spark, sf_small, "q6_revenue_forecast"))
    assert "PushedFilters: [" in plan
    assert "GreaterThanOrEqual(l_shipdate" in plan  # range predicate pushed


def test_q6_column_pruning(registry, spark, sf_small):
    plan = _formatted_plan(_build(registry, spark, sf_small, "q6_revenue_forecast"))
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    # 4 needed columns of lineitem's 16; the wide ones must not be read
    assert "l_comment" not in read_schema and "l_orderkey" not in read_schema


def test_flagship_broadcasts_dimensions(registry, spark, sf_small):
    plan = _formatted_plan(
        _build(registry, spark, sf_small, "flagship_regional_revenue")
    )
    assert "BroadcastHashJoin" in plan
    assert "BroadcastExchange" in plan


def test_q1_partial_aggregation(registry, spark, sf_small):
    plan = _formatted_plan(_build(registry, spark, sf_small, "q1_pricing_summary"))
    # map-side combine before the shuffle: partial_* functions present
    assert "partial_sum" in plan or "partial_avg" in plan


def test_text_hot_path_is_jvm_only(registry, spark, sf_small):
    for name in ("text_quality_score", "dedup_simhash", "dedup_minhash_lsh"):
        plan = _formatted_plan(_build(registry, spark, sf_small, name))
        assert "BatchEvalPython" not in plan, f"{name} fell off codegen into Python"
        assert "ArrowEvalPython" not in plan, f"{name} crossed into Python"


def test_topk_avoids_global_sort(registry, spark, sf_small):
    plan = _formatted_plan(_build(registry, spark, sf_small, "ann_cosine_topk"))
    # orderBy().limit() must compile to per-partition top-k + k-row merge
    assert "TakeOrderedAndProject" in plan


def test_whole_stage_codegen_covers_scan_pipeline(registry, spark, sf_small):
    # AQE only materializes codegen stages in the *final* plan, so run the
    # query first, then read the executed plan ("*(n)" marks a codegen span)
    df = _build(registry, spark, sf_small, "q6_revenue_forecast")
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "*(" in plan, "scan→filter→partial-agg pipeline fell out of codegen"


def test_asof_join_has_no_nested_loop(registry, spark, sf_small):
    """The as-of composition must plan as window-over-union — a single
    key shuffle — never an inequality BroadcastNestedLoopJoin."""
    plan = _formatted_plan(_build(registry, spark, sf_small, "events_asof_join"))
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Window" in plan


def test_range_join_binned_is_equi_join(registry, spark, sf_small):
    """The binned range join must be a hash/sort-merge equi-join on
    (key, bin) with the BETWEEN as residual — never a BNLJ."""
    plan = _formatted_plan(
        _build(registry, spark, sf_small, "events_range_join_binned")
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "Join" in plan


def test_q12_non_equi_residual_stays_on_equi_join(registry, spark, sf_small):
    """Q12's shipdate-vs-orderdate+30d comparison must ride as residual on
    the o_orderkey equi-join — a BNLJ here would be O(n·m) at scale."""
    plan = _formatted_plan(
        _build(registry, spark, sf_small, "q12_shipping_priority_split")
    )
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan


def test_q2_decorrelates_to_single_fact_pass(registry, spark, sf_small):
    """Q2's correlated MIN subquery must become a per-part window over ONE
    lineitem pass — the correlated form re-scans the fact table per row."""
    plan = _formatted_plan(_build(registry, spark, sf_small, "q2_min_cost_supplier"))
    assert _has_operator(plan, "Window")
    scans = [
        l for l in plan.splitlines()
        if "Location" in l and "lineitem.parquet" in l
    ]
    assert len(scans) == 1, f"expected 1 lineitem scan, got {len(scans)}"


def test_q21_aggregated_exists_has_no_per_row_rescan(registry, spark, sf_small):
    """Q21's EXISTS/NOT-EXISTS pair is folded into one single-pass
    pair-level aggregate + per-order window (r12) — the plan must contain
    no nested-loop join, exactly ONE lineitem scan (the r11 form paid
    two: stats + late-lines probe), and the window that replaces the
    stats join-back."""
    plan = _formatted_plan(_build(registry, spark, sf_small, "q21_waiting_suppliers"))
    assert "BroadcastNestedLoopJoin" not in plan
    assert _has_operator(plan, "Window")
    scans = [
        l for l in plan.splitlines()
        if "Location" in l and "lineitem.parquet" in l
    ]
    assert len(scans) == 1, f"expected 1 lineitem scan, got {len(scans)}"


def test_stats_driven_broadcast_flips_with_threshold(registry, spark, sf_small):
    """The round-1 scale-killer fix: q5/q17/q18 broadcast SF-scaled sides
    only while the stats say they fit. Shrinking the threshold to 1 byte
    must flip those joins to shuffle strategies (no OOM path at 100x);
    restoring it must bring the broadcasts back at this tiny SF."""
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    try:
        for name in [
            "q5_local_supplier_volume",
            "q17_small_quantity_revenue",
            "q18_large_volume_customer",
        ]:
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "1")
            plan_small = _formatted_plan(_build(registry, spark, sf_small, name))
            # SF-scaled sides must fall back to a shuffle strategy; only
            # the fixed-size dims (region/nation, hard F.broadcast) may
            # still broadcast
            assert (
                "SortMergeJoin" in plan_small or "ShuffledHashJoin" in plan_small
            ), name

            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "10MB")
            plan_big = _formatted_plan(_build(registry, spark, sf_small, name))
            assert plan_big.count("BroadcastHashJoin") > plan_small.count(
                "BroadcastHashJoin"
            ), name
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)


def test_selection_records_assignment(spark, sf_small):
    """StatsDrivenJoinSelection dogfoods PhysicalOperatorAssignment: every
    decision lands in the same artifact the optimizer stages emit."""
    from postbound_spark.catalog import load_tables
    from postbound_spark.optimizer.hints import JoinOperator
    from postbound_spark.optimizer.selection import StatsDrivenJoinSelection

    t = load_tables(spark, sf_small, ["nation", "lineitem"])
    sel = StatsDrivenJoinSelection(spark, threshold_bytes=1 << 20)
    assert sel.choose(t["nation"], "nation") is JoinOperator.BROADCAST_HASH
    sel_tiny = StatsDrivenJoinSelection(spark, threshold_bytes=1)
    assert sel_tiny.choose(t["lineitem"], "lineitem") is JoinOperator.SORT_MERGE
    assert sel.assignment.operator_for(frozenset({"nation"})) is JoinOperator.BROADCAST_HASH
    assert sel_tiny.assignment.operator_for(frozenset({"lineitem"})) is JoinOperator.SORT_MERGE


def test_aqe_recovers_broadcast_for_small_joined_builds(registry, spark, sf_small):
    """The stats-driven selection leaves joined build sides unhinted when
    Catalyst's inflated join-size estimate exceeds the threshold (see
    optimizer/selection.py); this asserts the promised recovery actually
    happens — after execution, AQE's final plan runs q5's dim-bundle join
    as a broadcast join from the REAL runtime sizes."""
    df = _build(registry, spark, sf_small, "q5_local_supplier_volume")
    df.collect()  # AQE finalizes the plan during execution
    final = df._jdf.queryExecution().executedPlan().toString()
    assert "AdaptiveSparkPlan isFinalPlan=true" in final
    assert "BroadcastHashJoin" in final


def test_repetition_filter_is_shuffle_free_scan(registry, spark, sf_small):
    plan = _formatted_plan(
        _build(registry, spark, sf_small, "text_repetition_filter")
    )
    # per-doc repetition stats must be a single map-only scan: no exchange,
    # no Python evaluation — pure higher-order column math inside codegen
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_vocab_topk_partial_agg_and_no_global_sort(registry, spark, sf_small):
    plan = _formatted_plan(_build(registry, spark, sf_small, "corpus_vocab_topk"))
    # wordcount must combine map-side before the shuffle…
    assert "partial_count" in plan
    # …and the top-50 must be TakeOrdered (per-partition heaps), never a
    # full sort of the vocabulary
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan.replace("TakeOrderedAndProject", "")


def test_stratified_sample_is_map_side_until_tiny_agg(registry, spark, sf_small):
    plan = _formatted_plan(_build(registry, spark, sf_small, "sample_stratified"))
    # exactly one aggregation exchange on the 5-value lang key; the hash
    # bucketing itself must not shuffle (rangepartitioning for the final
    # orderBy of 5 rows is fine)
    assert plan.count("hashpartitioning(") == 1
    assert "BatchEvalPython" not in plan


def test_quantize_broadcasts_global_scale(registry, spark, sf_small):
    plan = _formatted_plan(_build(registry, spark, sf_small, "emb_quantize_int8"))
    # the one-row max-abs scale joins back as a broadcast (nested-loop over
    # a single-row build side), never a shuffled cross product
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan


def test_contamination_probes_broadcast_benchmark(registry, spark, sf_small):
    plan = _formatted_plan(
        _build(registry, spark, sf_small, "contamination_ngram_overlap")
    )
    # the benchmark shingle vocabulary is the build side of a broadcast
    # hash join — the corpus side must not shuffle to meet it
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan


def test_domain_cap_filters_inside_window_stage(registry, spark, sf_small):
    plan = _formatted_plan(_build(registry, spark, sf_small, "sample_domain_cap"))
    # one shuffle on source; the rn <= 10 cut runs in the same stage as the
    # window (Spark's WindowGroupLimit pushes the rank limit pre-shuffle)
    assert plan.count("hashpartitioning(") == 1
    assert "WindowGroupLimit" in plan


def test_mix_weights_grand_total_reuses_grouped_agg(registry, spark, sf_small):
    df = _build(registry, spark, sf_small, "corpus_mix_weights")
    plan = _formatted_plan(df)
    # the ppm denominator must come from the cached grouped aggregate (one
    # InMemoryTableScan feeding a broadcast), not a second corpus scan
    assert "InMemoryTableScan" in plan or "TableCacheQueryStage" in plan
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan


def test_flagship_fact_table_is_not_the_broadcast_side(registry, spark, sf_small):
    """The lineitem scan's compressed-bytes estimate can slip under the
    broadcast threshold while the filtered dim⋈orders bundle inflates past
    it — without measured selection, Catalyst broadcasts the fact table.
    MeasuredJoinPolicy must flip the build side to the measured-small one."""
    df = _build(registry, spark, sf_small, "flagship_regional_revenue")
    df.collect()
    executed = df._jdf.queryExecution().executedPlan().toString()
    fact_joins = [
        l for l in executed.splitlines()
        if "Join" in l and "l_orderkey" in l and "o_orderkey" in l
    ]
    assert fact_joins, executed
    # r12-opt fact-first fold: lineitem is the LEFT (streamed) child of the
    # fact join, so the broadcast build must be the right (orders) side —
    # a BuildLeft here would mean the fact scan itself got broadcast
    assert "BroadcastHashJoin" in fact_joins[0], fact_joins[0]
    assert "BuildLeft" not in fact_joins[0], fact_joins[0]


def test_measured_policy_width_is_pruning_aware(spark, sf_small):
    """r11-opt: build-side widths must be sized at the POST-PRUNING width
    (what the broadcast relation actually stores), not the full subtree
    schema. The flagship's 4-table bundle is ~592 B/row unpruned but only
    (n_name, o_orderkey) survive above the fact join (~30 B) — the
    unpruned width under-admitted the limit-probe cap and the policy
    merge-pinned a SortMergeJoin onto a 25k-row build side at sf0.1."""
    from postbound_spark.optimizer.selection import (
        MeasuredJoinPolicy,
        estimated_row_bytes,
    )
    from postbound_spark.plans import relalg as ra

    # the DIMS-FIRST fold that exposed the width bug (the shipping flagship
    # now folds fact-first for one-round broadcast materialization, so the
    # regression tree is built inline: a 4-table bundle as the build side)
    region = ra.Selection(ra.Relation(table="region", alias="r"), "r_name = 'ASIA'")
    bundle = ra.ThetaJoin(
        ra.ThetaJoin(
            ra.ThetaJoin(region, ra.Relation(table="nation", alias="n"),
                         "r_regionkey = n_regionkey"),
            ra.Relation(table="customer", alias="c"),
            "n_nationkey = c_nationkey",
        ),
        ra.Selection(ra.Relation(table="orders", alias="o"),
                     "o_orderdate >= TIMESTAMP '1996-01-01'"),
        "c_custkey = o_custkey",
    )
    joined = ra.ThetaJoin(
        bundle, ra.Relation(table="lineitem", alias="l"), "o_orderkey = l_orderkey"
    )
    root = ra.Limit(
        ra.Sort(
            ra.Grouping(
                joined,
                keys=("n_name",),
                aggregates=(
                    ("num_orders", "count(*)"),
                    ("revenue", "round(sum(l_extendedprice * (1 - l_discount)), 4)"),
                ),
            ),
            keys=(ra.SortKey("revenue", ascending=False), ra.SortKey("n_name")),
        ),
        limit=10,
    )
    node = joined
    pol = MeasuredJoinPolicy(spark, prefix="test-prune")
    pol.bind_root(root)
    bundle_cols = pol._pruned_columns(node.left)
    # the group key and the fact-join key are referenced above the bundle
    assert {"n_name", "o_orderkey"} <= bundle_cols
    # columns consumed INSIDE the bundle (join keys between its tables,
    # pushed filter columns) must be pruned away
    assert "c_custkey" not in bundle_cols and "o_orderdate" not in bundle_cols
    fact_cols = pol._pruned_columns(node.right)
    assert {"l_orderkey", "l_extendedprice", "l_discount"} <= fact_cols

    # and the width shrinks accordingly on the compiled bundle frame
    from postbound_spark.catalog import load_tables
    from postbound_spark.operators import compile_plan

    cat = load_tables(
        spark, sf_small, ["region", "nation", "customer", "orders", "lineitem"]
    )
    bundle_df = compile_plan(node.left, spark, cat)
    assert estimated_row_bytes(bundle_df, bundle_cols) < (
        estimated_row_bytes(bundle_df) / 4
    )

    # end-to-end: the compiled flagship carries NO merge-pinned sort-merge
    # join — the measured bundle broadcasts
    df = compile_plan(root, spark, cat, selection=pol)
    plan = _formatted_plan(df)
    assert "SortMergeJoin" not in plan, plan[:600]


def test_pruned_width_falls_back_without_naming_ancestor(spark):
    """r12-opt hardening of the r11 advisor finding: the repr-token width
    may only apply when a star-free Projection or a Grouping ancestor
    NAMES the columns it consumes. An unprojected join root (every
    build-side column is in the final output) or a ``*`` / ``alias.*``
    projection must fall back to the full schema width — an under-counted
    width would inflate the limit-probe cap and could bless a broadcast
    far over the memory threshold."""
    from postbound_spark.optimizer.selection import MeasuredJoinPolicy
    from postbound_spark.plans import relalg as ra

    join = ra.ThetaJoin(
        ra.Relation(table="nation", alias="n"),
        ra.Relation(table="region", alias="r"),
        "n_regionkey = r_regionkey",
    )
    pol = MeasuredJoinPolicy(spark, prefix="t-star")
    pol.bind_root(join)  # root IS the join: unprojected output
    assert pol._pruned_columns(join.left) is None
    pol.bind_root(ra.Projection(join, ("*",)))
    assert pol._pruned_columns(join.left) is None
    pol.bind_root(ra.Projection(join, ("n.*",)))
    assert pol._pruned_columns(join.left) is None
    # a star-free projection names the kept columns — pruning applies
    # (multiplication is NOT a star projection)
    pol.bind_root(ra.Projection(join, ("n_name * 2",)))
    cols = pol._pruned_columns(join.left)
    assert cols is not None and "n_name" in cols
    assert "n_nationkey" not in cols


def test_measured_policy_skips_jobs_when_estimates_agree(spark, sf_small):
    from postbound_spark.catalog import load_tables, session_memo
    from postbound_spark.optimizer.selection import MeasuredJoinPolicy
    from postbound_spark.plans import relalg as ra

    t = load_tables(spark, sf_small, ["region", "nation"])
    pol = MeasuredJoinPolicy(spark, prefix="test-agree")
    node = ra.ThetaJoin(
        ra.Relation(table="region"), ra.Relation(table="nation"),
        "r_regionkey = n_regionkey",
    )
    # two tiny base scans: both estimates fit, ratio is small — no decision,
    # and crucially no COUNT(*) job was memoized
    assert pol.decide(node, t["region"], t["nation"]) is None
    assert not any(
        k[0] == "rows" and k[1].startswith("test-agree|") for k in session_memo(spark)
    )


def test_measured_policy_pins_shuffle_when_nothing_fits(spark, sf_small):
    """When measurement proves neither side fits but a static estimate sits
    near the threshold (the fact-scan-underestimate pathology), the policy
    must pin the shuffle family rather than stay silent — silence would
    leave the stale static broadcast in place."""
    from pyspark.sql import functions as F

    from postbound_spark.catalog import load_tables
    from postbound_spark.optimizer.selection import MeasuredJoinPolicy
    from postbound_spark.plans import relalg as ra

    t = load_tables(spark, sf_small, ["region", "nation", "customer"])
    pol = MeasuredJoinPolicy(spark, prefix="test-shuffle", threshold_bytes=200)
    node = ra.ThetaJoin(
        ra.Relation(table="region"),
        ra.ThetaJoin(
            ra.Relation(table="nation"), ra.Relation(table="customer"),
            "n_nationkey = c_nationkey",
        ),
        "r_regionkey = n_regionkey",
    )
    right = t["nation"].join(
        t["customer"], F.col("n_nationkey") == F.col("c_nationkey")
    )
    assert pol.decide(node, t["region"], right) == "shuffle"


def test_measured_memo_keys_distinguish_filtered_subtrees(spark, sf_small):
    """Two subtrees over the same table set but different predicates must
    not share a measurement — replaying a filtered count for an unfiltered
    join would force a broadcast of the wrong size."""
    from postbound_spark.optimizer.selection import MeasuredJoinPolicy
    from postbound_spark.plans import relalg as ra

    pol = MeasuredJoinPolicy(spark, prefix="test-keys")
    a = ra.Selection(ra.Relation(table="orders"), "o_totalprice > 100")
    b = ra.Selection(ra.Relation(table="orders"), "o_totalprice > 500000")
    c = ra.Relation(table="orders")
    keys = {pol._key(x) for x in (a, b, c)}
    assert len(keys) == 3, keys


def test_keep_list_shuffles_carry_only_ids(registry, spark, sf_small):
    """The composite keep list must drop token/bigram arrays before each
    exchange: two narrow window shuffles (content hash, source cap), no
    Python operators, no array columns crossing an exchange."""
    plan = _formatted_plan(_build(registry, spark, sf_small, "pipeline_keep_list"))
    assert plan.count("hashpartitioning(") == 2
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    # the exchanges' input schemas stay narrow (no ws/bg arrays shuffled)
    import re as _re

    exchange_inputs = _re.findall(r"\(\d+\) Exchange\nInput \[\d+\]: \[([^\]]*)\]", plan)
    for cols in exchange_inputs:
        assert "ws#" not in cols and "bg#" not in cols, cols


def test_pattern_scrub_is_map_only(registry, spark, sf_small):
    plan = _formatted_plan(_build(registry, spark, sf_small, "text_pattern_scrub"))
    # redaction is one regex pass per row inside codegen: no exchange, no
    # Python evaluation — a pure corpus scan at any scale
    assert "Exchange" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_boilerplate_ngrams_single_wordcount_shuffle(registry, spark, sf_small):
    plan = _formatted_plan(
        _build(registry, spark, sf_small, "text_boilerplate_ngrams")
    )
    # per-doc dedup happens map-side (array_distinct pre-explode), then one
    # wordcount shuffle with partial agg and a TakeOrdered top slice
    assert plan.count("hashpartitioning(") == 1
    assert "partial_count" in plan
    assert "TakeOrderedAndProject" in plan


def test_seq_packing_window_and_group_share_exchange(registry, spark, sf_small):
    plan = _formatted_plan(_build(registry, spark, sf_small, "corpus_seq_packing"))
    # the running-offset window partitions by source; the (source, seq_id)
    # groupBy is satisfied by that same partitioning — exactly one hash
    # exchange (the final orderBy's range partitioning is the only other)
    assert plan.count("hashpartitioning(") == 1
    assert plan.count("rangepartitioning(") == 1
    assert "Window" in plan


def test_common_token_ratio_broadcasts_vocab(registry, spark, sf_small):
    plan = _formatted_plan(
        _build(registry, spark, sf_small, "quality_common_token_ratio")
    )
    # the 25-token vocabulary collapses to one row and broadcasts; the
    # document side must never shuffle to meet it
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert "SortMergeJoin" not in plan
    # only the token histogram shuffles
    assert plan.count("hashpartitioning(") == 1


def test_pq_adc_never_shuffles_vectors(registry, spark, sf_small):
    plan = _formatted_plan(_build(registry, spark, sf_small, "ann_pq_adc_topk"))
    # codebook + ADC table broadcast as one row; encoding/scoring is a
    # map-only fold; shortlist + re-rank are TakeOrdered — the vector
    # corpus must never hash- or range-partition
    assert plan.count("hashpartitioning(") == 0
    assert plan.count("rangepartitioning(") == 0
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_funnel_shuffles_only_on_user(registry, spark, sf_small):
    import re as _re

    plan = _formatted_plan(_build(registry, spark, sf_small, "events_funnel"))
    # every exchange in the funnel is keyed on user_id — the event log is
    # never re-shuffled by any other key, and the shrinking step frames
    # ride broadcast joins
    keys = set(_re.findall(r"hashpartitioning\((\w+)#", plan))
    assert keys <= {"user_id"}, keys
    assert "CartesianProduct" not in plan


def test_chunk_windows_is_map_only_expansion(registry, spark, sf_small):
    plan = _formatted_plan(
        _build(registry, spark, sf_small, "corpus_chunk_windows")
    )
    # the 1→N chunk explode must not shuffle documents; only the
    # presentation ORDER BY range-partitions the (narrow) output rows
    assert plan.count("hashpartitioning(") == 0
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Generate" in plan  # the explode expansion runs in-stage


def test_countmin_overestimates_and_stays_keyed(registry, spark, sf_small):
    df = _build(registry, spark, sf_small, "sketch_countmin_tokens")
    rows = df.collect()
    assert rows, "sketch produced no estimates"
    # the count-min guarantee: estimates never undercount
    assert all(r.cm_est >= r.true_cnt for r in rows)
    plan = _formatted_plan(df)
    # sketch build and histogram are map-side-combined keyed shuffles; the
    # 1024-cell sketch and 20-token coord frames ride broadcast joins
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan


def test_funnel_counts_are_monotone(registry, spark, sf_small):
    rows = _build(registry, spark, sf_small, "events_funnel").collect()
    counts = [r.n_users for r in sorted(rows, key=lambda r: r.step_no)]
    assert len(counts) == 3 and counts[0] > 0
    # a funnel can only narrow
    assert counts[0] >= counts[1] >= counts[2]


def test_chunk_windows_cover_every_token(registry, spark, sf_small):
    from pyspark.sql import functions as F

    from postbound_spark.catalog import load_table
    from postbound_spark.functions import text as T

    chunks = _build(registry, spark, sf_small, "corpus_chunk_windows")
    per_doc = {
        r.doc_id: (r.n_chunks, r.total)
        for r in chunks.groupBy("doc_id")
        .agg(
            F.count("*").alias("n_chunks"),
            F.sum("n_tokens").alias("total"),
        )
        .collect()
    }
    docs = load_table(spark, sf_small, "documents").select(
        "doc_id", F.size(T.tokens(F.col("text"))).alias("n")
    )
    for r in docs.collect():
        n_chunks, total = per_doc[r.doc_id]
        # stride-16 windows of size 32: every token appears in >= 1 chunk
        # and interior tokens in exactly 2, so total covered positions sit
        # between n and 2n
        assert n_chunks == max((r.n - 32 + 15) // 16, 0) + 1
        assert r.n <= total <= 2 * r.n


def test_cohort_retention_keyed_on_user_then_tiny_rollup(registry, spark, sf_small):
    import re as _re

    df = _build(registry, spark, sf_small, "events_cohort_retention")
    rows = df.collect()
    # offset 0 row exists per cohort and dominates (every user is active
    # in their own first week)
    by_cohort = {}
    for r in rows:
        by_cohort.setdefault(r.cohort_week, {})[r.week_offset] = r.n_users
    for offsets in by_cohort.values():
        assert 0 in offsets
        assert all(offsets[0] >= n for n in offsets.values())
    plan = _formatted_plan(df)
    keys = set(_re.findall(r"hashpartitioning\((\w+)#", plan))
    # the event log shuffles only on user_id; the final rollup's key pair
    # is the only other exchange
    assert keys <= {"user_id", "cohort_week", "week_offset"}, keys


def test_tfidf_builds_df_from_tf_not_second_scan(registry, spark, sf_small):
    df = _build(registry, spark, sf_small, "text_tfidf_topk")
    plan = _formatted_plan(df)
    # document frequencies aggregate OVER the cached tf frame, not a
    # second corpus explode: exactly one scan of documents' text column
    # (the n_docs count reads no text) feeds the whole query
    assert "InMemoryTableScan" in plan or "TableCacheQueryStage" in plan
    assert "WindowGroupLimit" in plan  # per-doc top-3 cut pre-shuffle
    assert "CartesianProduct" not in plan


def test_bm25_scores_only_query_term_postings(registry, spark, sf_small):
    df = _build(registry, spark, sf_small, "text_bm25_topk")
    plan = _formatted_plan(df)
    # the 3-term query frame, its df table, and the (n_docs, avgdl)
    # scalar all broadcast; the top-10 is TakeOrdered, never a global sort
    assert "BroadcastHashJoin" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan


def test_ssb_native_path_broadcasts_every_dimension(registry, spark, sf_small):
    for name in ("parsed_ssb_partbrand", "parsed_ssb_geography"):
        plan = _formatted_plan(_build(registry, spark, sf_small, name))
        # the star's dimension chains (incl. nation/region joined twice)
        # all broadcast against the lineitem⋈orders fact; the region
        # selection reaches the parquet scan (assert the CONCRETE filter —
        # a bare "PushedFilters: [" also matches the empty list every
        # scan prints)
        assert "SortMergeJoin" not in plan, name
        assert "BroadcastHashJoin" in plan, name
        pushed = [l for l in plan.splitlines() if "PushedFilters" in l]
        assert any("r_name" in l for l in pushed), name


def test_lm_score_broadcasts_the_model_and_stays_jvm(registry, spark, sf_small):
    df = _build(registry, spark, sf_small, "quality_lm_score")
    plan = _formatted_plan(df)
    # the CCNet deployment shape: both LM tables (bigram + continuation
    # counts) are vocabulary-bounded and BROADCAST, so the corpus-sized
    # scoring path never shuffles document rows on a model key; the
    # whole computation is built-in expressions (no Python eval operator
    # in the hot path)
    assert plan.count("BroadcastExchange") >= 2
    assert "SortMergeJoin" not in plan
    # the LM is BOUNDED BY CONSTRUCTION: the top-K vocabulary cut is a
    # TakeOrderedAndProject (per-partition heads, K rows on the driver),
    # never a global Sort — this is what keeps the broadcast safe when
    # the corpus's distinct-bigram vocabulary is billions of rows
    assert "TakeOrderedAndProject" in plan
    from postbound_spark.functions.text import LM_VOCAB_K

    assert f"limit={LM_VOCAB_K}" in plan or str(LM_VOCAB_K) in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_ann_recall_prunes_and_never_sorts_globally(registry, spark, sf_small):
    df = _build(registry, spark, sf_small, "ann_recall_at_k")
    plan = _formatted_plan(df)
    # exact side: corpus x 5 broadcast query rows (BroadcastNestedLoop,
    # never a shuffled CartesianProduct); LSH side: bucket equi-join
    # against the 45-row broadcast probe list; both top-10s are window
    # group limits cut before the rank exchange — no global sort of the
    # corpus appears anywhere
    assert "BroadcastNestedLoopJoin" in plan
    assert "BroadcastHashJoin" in plan
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan


def test_jl_rescore_is_map_only_with_takeordered(registry, spark, sf_small):
    df = _build(registry, spark, sf_small, "ann_jl_rescore_topk")
    plan = _formatted_plan(df)
    # projection + coarse scoring are map-side against the broadcast
    # query row; both top-k cuts are TakeOrdered; the shortlist carries
    # its own vectors, so no join back to the corpus appears
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert plan.count("Exchange") <= 2  # broadcast of the 1-row query side
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_hll_registers_combine_map_side(registry, spark, sf_small):
    df = _build(registry, spark, sf_small, "sketch_hll_distinct_tokens")
    plan = _formatted_plan(df)
    # the whole sketch is 64 registers: the per-bucket max must partial-
    # aggregate before its shuffle (constant state at any corpus size),
    # and nothing leaves the JVM
    assert "partial_max" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "CartesianProduct" not in plan  # 1-row x 1-row is broadcast NL


def test_hll_estimate_only_has_no_distinct_exchange(registry, spark, sf_small):
    """The production HLL variant (round-5 advisory #2): registers come
    from the raw token stream via partial max — the plan must contain NO
    token-keyed exchange at all. The accuracy-gauge sibling pays a full
    distinct-token shuffle for its exact companion column; this one's
    exchanges are exactly (a) the 64-key bucket exchange and (b) the
    single-partition summary — constant width at any corpus size."""
    df = _build(registry, spark, sf_small, "sketch_hll_estimate_only")
    plan = _formatted_plan(df)
    assert "partial_max" in plan
    # no distinct: neither a HashAggregate keyed by the token/hash column
    # nor more than the two constant-width exchanges may appear (the
    # formatted plan names each operator once in its detail section)
    import re as _re

    detail_exchanges = _re.findall(r"^\(\d+\) Exchange\b.*$", plan, _re.M)
    assert len(detail_exchanges) == 2, detail_exchanges
    assert "hashpartitioning(bucket" in plan  # (a) the 64-key exchange
    assert "SinglePartition" in plan  # (b) the 1-row summary
    # never keyed by the raw token hash — that would be the distinct
    assert not _re.search(r"hashpartitioning\(th#", plan)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bpe_pairs_count_over_vocab_not_corpus(registry, spark, sf_small):
    df = _build(registry, spark, sf_small, "tokenizer_bpe_pair_counts")
    plan = _formatted_plan(df)
    # the BPE trick: pair explosion happens AFTER the wordcount reduction,
    # so the expensive stage is vocab-sized; both aggs partial-combine and
    # the top-20 is TakeOrdered, never a global sort
    assert "partial_count" in plan or "partial_sum" in plan
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_semantic_dedup_pairs_cluster_local(registry, spark, sf_small):
    """dedup_semantic_clusters: assignment is map-only behind ONE
    broadcast centroid row, and the candidate-pair join is an EQUI-join
    on the cluster id — never a cartesian all-pairs (that is exactly the
    O(n^2) dedup_embedding_cosine tier this operator replaces at scale)."""
    df = _build(registry, spark, sf_small, "dedup_semantic_clusters")
    plan = _formatted_plan(df)
    assert "CartesianProduct" not in plan
    # cluster-keyed pair search: an equi-join whose key is the cluster id
    assert "cluster" in plan and (
        "SortMergeJoin" in plan or "ShuffledHashJoin" in plan
        or "BroadcastHashJoin" in plan
    )
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dsir_model_tables_bounded_and_broadcast(registry, spark, sf_small):
    """sample_importance_dsir: the score table is bucket-bounded (B=256
    regardless of corpus size) and BROADCAST onto the feature stream; the
    feature counts partial-aggregate map-side; top-20 is TakeOrdered."""
    df = _build(registry, spark, sf_small, "sample_importance_dsir")
    plan = _formatted_plan(df)
    assert "BroadcastHashJoin" in plan  # score table joins broadcast-side
    assert "partial_count" in plan  # bucket counts combine map-side
    assert "TakeOrderedAndProject" in plan  # k-row driver merge, no sort
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_char_entropy_shuffle_is_alphabet_bounded(registry, spark, sf_small):
    """quality_char_entropy: the char explode partial-aggregates BEFORE
    its shuffle, so what crosses the network is the per-(doc, char)
    histogram (alphabet-bounded per doc), never the raw character stream;
    the whole pipeline stays JVM-side with zero joins."""
    df = _build(registry, spark, sf_small, "quality_char_entropy")
    plan = _formatted_plan(df)
    assert "partial_count" in plan
    assert "Join" not in plan and "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_substring_spans_share_one_gram_shuffle(registry, spark, sf_small):
    """dedup_substring_spans: the occurrence census is a window count
    OVER (PARTITION BY gram), so the census and the span stream share
    ONE gram-keyed exchange — no gram self-join, no second corpus scan,
    no stage cache; the coverage union is a keyed (doc_id, pos)
    distinct; nothing is ever all-pairs."""
    df = _build(registry, spark, sf_small, "dedup_substring_spans")
    plan = _formatted_plan(df)
    import re as _re

    assert "CartesianProduct" not in plan
    # exactly one gram-keyed exchange (the shared window shuffle)
    gram_exchanges = _re.findall(r"hashpartitioning\(gram#", plan)
    assert len(gram_exchanges) == 1, gram_exchanges
    assert "Window" in plan
    # the only join is the final doc-keyed LEFT join back onto base docs
    join_nodes = _re.findall(r"^\(\d+\) \w*Join\w*", plan, _re.M)
    assert len(join_nodes) == 1, join_nodes
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_temperature_mix_single_scan_broadcast_total(registry, spark, sf_small):
    """sample_temperature_mix: one partial-agg shuffle on the source key;
    the one-row weight total derives from the grouped (cached) result —
    never a second corpus scan — and is BROADCAST back for the integer
    share division."""
    df = _build(registry, spark, sf_small, "sample_temperature_mix")
    plan = _formatted_plan(df)
    assert "partial_sum" in plan or "partial_count" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    # the weight total must come from the cached grouped aggregate (same
    # discipline as the corpus_mix_weights gate), not a second corpus scan
    assert "InMemoryTableScan" in plan or "TableCacheQueryStage" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_bpe_merge_round_corpus_touched_once(registry, spark, sf_small):
    """tokenizer_bpe_merge_round: the corpus reduces to the cached
    (word, freq) vocabulary through ONE wordcount shuffle; the argmax
    rule is a 1-row broadcast and the merge is a map-only rewrite, so
    every per-iteration stage is vocab-bounded — the property that
    makes a 50k-iteration trainer affordable."""
    df = _build(registry, spark, sf_small, "tokenizer_bpe_merge_round")
    plan = _formatted_plan(df)
    assert "InMemoryTableScan" in plan or "TableCacheQueryStage" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "CartesianProduct" not in plan
    assert "TakeOrderedAndProject" in plan  # both top-k cuts, never a sort
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_cluster_sources_matrix_is_keyed_never_allpairs(registry, spark, sf_small):
    """dedup_cluster_sources: the (component, source) membership list
    self-joins KEYED on component (fan-out capped at source count), the
    labels->documents attach is a keyed join, and the final matrix
    aggregate partial-counts map-side — no cartesian step anywhere, no
    Python in the plan."""
    df = _build(registry, spark, sf_small, "dedup_cluster_sources")
    plan = _formatted_plan(df)
    assert "Join" in plan  # keyed join nodes present ...
    assert "CartesianProduct" not in plan  # ... and never all-pairs
    assert "partial_count" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_budget_fill_prefix_scan_is_two_level(registry, spark, sf_small):
    """sample_token_budget_fill: the running token sum must NOT be a
    single window partitioned by source alone (one task per source =
    terabytes per task). The gate pins the two-level scan: the per-doc
    window partitions by (source, bucket) — 64-row partitions by
    construction — with the bucket OFFSET window running over the
    bucket-level metadata rows only; allocations join broadcast; bucket
    sums partial-aggregate map-side; exact-integer arithmetic means no
    Python anywhere."""
    df = _build(registry, spark, sf_small, "sample_token_budget_fill")
    plan = _formatted_plan(df)
    perdoc_windows = [
        l
        for l in plan.splitlines()
        if "windowspecdefinition(source#" in l and ", bucket#" in l
    ]
    assert perdoc_windows, "per-doc running sum must partition by (source, bucket)"
    assert plan.count(") Window") == 2  # offset window + within-bucket window
    assert "BroadcastHashJoin" in plan  # allocation table broadcast
    assert "partial_sum" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_fertility_single_narrow_scan(registry, spark, sf_small):
    """tokenizer_fertility: one corpus scan reading ONLY (lang, text) —
    column pruning reaches parquet — one partial-aggregated shuffle on
    the lang key, zero joins, zero windows, JVM-only expressions."""
    df = _build(registry, spark, sf_small, "tokenizer_fertility")
    plan = _formatted_plan(df)
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "doc_id" not in read_schema and "n_chars" not in read_schema
    assert "source" not in read_schema
    assert "partial_sum" in plan
    assert "Join" not in plan and "Window" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_anomaly_zscore_moments_broadcast(registry, spark, sf_small):
    """events_anomaly_zscore: the per-type moment triple is a tiny
    broadcast side onto the hourly counts; both aggregations partial-
    aggregate map-side; scan reads only (ts, event_type); no Python."""
    df = _build(registry, spark, sf_small, "events_anomaly_zscore")
    plan = _formatted_plan(df)
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "value" not in read_schema and "props" not in read_schema
    assert "BroadcastHashJoin" in plan
    assert "partial_sum" in plan and "partial_count" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_topk_per_window_uses_window_group_limit(registry, spark, sf_small):
    """events_topk_per_window: the rank<=3 filter must execute as
    WindowGroupLimit (partial + final — each window partition keeps 3
    rows per sort, never materializing the full per-window ordering),
    with the per-(window, user) totals partial-aggregated in exact
    decimal before the one keyed shuffle."""
    df = _build(registry, spark, sf_small, "events_topk_per_window")
    plan = _formatted_plan(df)
    assert plan.count("WindowGroupLimit") >= 2  # partial + final
    assert "partial_sum" in plan
    read_schema = next(l for l in plan.splitlines() if "ReadSchema" in l)
    assert "props" not in read_schema and "event_type" not in read_schema
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_epoch_schedule_single_scan_broadcast_total(registry, spark, sf_small):
    """sample_epoch_schedule: same contract as the temperature-mix gate —
    one partial-agg shuffle on source, the budget/weight total derived
    from the cached grouped result (not a second corpus scan) and
    broadcast back, all-integer arithmetic so no Python anywhere."""
    df = _build(registry, spark, sf_small, "sample_epoch_schedule")
    plan = _formatted_plan(df)
    assert "partial_sum" in plan or "partial_count" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan
    assert "InMemoryTableScan" in plan or "TableCacheQueryStage" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_summary_card_broadcast_composition(registry, spark, sf_small):
    """corpus_summary_card: four single-row aggregates composed by
    BROADCAST nested-loop joins (1-row sides — the only sane cross
    shape), every aggregate partial-aggregated map-side, no
    CartesianProduct, no Python."""
    df = _build(registry, spark, sf_small, "corpus_summary_card")
    plan = _formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan or "partial_sum" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_lang_confusion_matrix_is_bounded(registry, spark, sf_small):
    """text_lang_confusion: the per-row decision list stays JVM-side,
    the (lang, pred) matrix partial-aggregates before its one shuffle
    (bounded at n_langs^2 rows), and the per-lang totals derive from
    the CACHED cell matrix (broadcast back) — never a second corpus
    scan."""
    df = _build(registry, spark, sf_small, "text_lang_confusion")
    plan = _formatted_plan(df)
    assert "partial_count" in plan
    assert "BroadcastHashJoin" in plan
    assert "InMemoryTableScan" in plan or "TableCacheQueryStage" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_split_assign_is_map_side_routed(registry, spark, sf_small):
    """sample_split_assign: the split route is a per-row md5 computed
    map-side (no dictionary of groups joined or broadcast for ROUTING —
    the hash is the routing table), the only corpus-keyed stage is the
    3-row aggregate with map-side partials, and the total-doc share
    joins a 1-row broadcast. No Python, no cartesian blowup."""
    df = _build(registry, spark, sf_small, "sample_split_assign")
    plan = _formatted_plan(df)
    assert "partial_count" in plan or "partial_sum" in plan
    assert "BroadcastNestedLoopJoin" in plan  # the 1-row total share join
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_source_kl_bounded_after_wordcount(registry, spark, sf_small):
    """corpus_source_kl: ONE corpus-sized wordcount shuffle with map-side
    partials; everything after the top-K head cut is broadcast-joined
    (the n_sources x vocab table is semi-joined down to n_sources x K
    BEFORE the dense grid), the head itself is a TakeOrdered, and the
    cached (source, token) stage feeds both the corpus histogram and
    the restricted counts without a second scan."""
    df = _build(registry, spark, sf_small, "corpus_source_kl")
    plan = _formatted_plan(df)
    assert "partial_count" in plan
    assert "TakeOrderedAndProject" in plan
    assert "BroadcastHashJoin" in plan
    assert "InMemoryTableScan" in plan or "TableCacheQueryStage" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_zipf_fit_constant_state_after_topk(registry, spark, sf_small):
    """text_zipf_fit: the wordcount is the only corpus-sized stage
    (map-side partial agg), the top-100 cut is TakeOrderedAndProject
    (per-partition heaps — never a global Sort over the vocabulary),
    and the regression reduces 100 rows to one. No Python."""
    df = _build(registry, spark, sf_small, "text_zipf_fit")
    plan = _formatted_plan(df)
    assert "partial_count" in plan
    assert "TakeOrderedAndProject" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_emb_outlier_broadcast_centroids_and_group_limit(registry, spark, sf_small):
    """emb_outlier_centroid: the (label, pos) centroid shuffle partial-
    aggregates map-side (bounded at n_labels x dim), the n_labels-row
    centroid table broadcasts onto a map-only scoring pass over the
    CACHED quantized vectors, and the bottom-5 runs as a per-label
    WindowGroupLimit — never a global sort over the scored corpus.
    No pairwise join, no Python."""
    df = _build(registry, spark, sf_small, "emb_outlier_centroid")
    plan = _formatted_plan(df)
    assert "partial_sum" in plan
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan
    assert "InMemoryTableScan" in plan or "TableCacheQueryStage" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_burstiness_vocab_bounded_after_histogram(registry, spark, sf_small):
    """corpus_burstiness: the (doc_id, token) histogram partial-
    aggregates map-side before its one corpus-sized shuffle, the
    per-token rollup is vocabulary-bounded, and the head cut is
    TakeOrderedAndProject — never a global sort. No Python."""
    df = _build(registry, spark, sf_small, "corpus_burstiness")
    plan = _formatted_plan(df)
    assert "partial_count" in plan
    assert "TakeOrderedAndProject" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_markov_transitions_user_keyed_then_bounded(registry, spark, sf_small):
    """events_markov_transitions: one user-keyed window exchange (the
    sessionization partitioning — per-user state, never a global sort),
    the matrix partial-aggregates to n_types^2 rows, and the row totals
    broadcast back from the CACHED matrix (no second corpus scan).
    No Python, no cartesian blowup."""
    df = _build(registry, spark, sf_small, "events_markov_transitions")
    plan = _formatted_plan(df)
    assert "partial_count" in plan
    assert "BroadcastHashJoin" in plan
    assert "InMemoryTableScan" in plan or "TableCacheQueryStage" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_containment_lsh_is_bucket_local(registry, spark, sf_small):
    """dedup_containment_lsh (round-7 scale tier): containment must ride
    the MinHash band EQUI-join candidate stream — zero nested-loop or
    cartesian operators anywhere in the plan (the all-pairs theta
    self-join lives only in the dedup_shingle_containment verifier
    tier), shingle sets reused from cache, no Python."""
    df = _build(registry, spark, sf_small, "dedup_containment_lsh")
    plan = _formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "InMemoryTableScan" in plan or "TableCacheQueryStage" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_hubness_candidates_is_bucket_local(registry, spark, sf_small):
    """ann_hubness_candidates (round-7 scale tier): the candidate graph
    must come from the bucket-keyed equi-join (salted), the 5-NN cut
    from a per-src WindowGroupLimit — never an all-pairs theta join or
    a global sort over the pair stream. No Python."""
    df = _build(registry, spark, sf_small, "ann_hubness_candidates")
    plan = _formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_hubness_adaptive_same_shape_as_fixed(registry, spark, sf_small):
    """ann_hubness_adaptive (round-8): the production mode shares the
    fixed tier's exact pipeline — bucket-local salted equi-join,
    WindowGroupLimit 5-NN cut, no all-pairs, no Python — the only
    difference is the plane count (sized by one count() before the plan
    is built, so the PLAN itself is knob-independent)."""
    df = _build(registry, spark, sf_small, "ann_hubness_adaptive")
    plan = _formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "WindowGroupLimit" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_directional_build_sides_flips_on_command(registry, spark, sf_small):
    """opt_directional_build_sides (round-8): the forced directions must
    be visible in the physical plan — the fact join a ShuffledHashJoin
    with BuildLeft (orders is the LEFT subtree), the top join a
    BroadcastHashJoin building the dims side."""
    df = _build(registry, spark, sf_small, "opt_directional_build_sides")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "ShuffledHashJoin" in plan and "BuildLeft" in plan, plan[:600]
    assert "BroadcastHashJoin" in plan


def test_correlated_scalar_decorrelates_to_keyed_join(registry, spark, sf_small):
    """parsed_correlated_scalar (round-8): each correlated scalar
    aggregate must execute as GROUP-BY-key + LEFT equi-join (hash or
    sort-merge), NEVER per-outer-row nested evaluation. The single
    uncorrelated guard is allowed its one-row BroadcastNestedLoopJoin
    (a constant attach); no CartesianProduct anywhere; no Python."""
    df = _build(registry, spark, sf_small, "parsed_correlated_scalar")
    import re as _re

    plan = _formatted_plan(df)
    assert "CartesianProduct" not in plan
    # formatted explain names each node twice (tree + detail) — count
    # the numbered detail entries
    assert len(_re.findall(r"\(\d+\) BroadcastNestedLoopJoin", plan)) <= 1
    assert "LeftOuter" in plan
    assert "HashAggregate" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_contamination_check_is_gram_keyed(registry, spark, sf_small):
    """sample_contamination_check: train-vocabulary reduction must
    partial-aggregate map-side and membership must be a gram-keyed
    LEFT SEMI join — never a document-pairwise comparison. Gram sets
    ride the cached tokenization; no Python."""
    df = _build(registry, spark, sf_small, "sample_contamination_check")
    plan = _formatted_plan(df)
    assert "LeftSemi" in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "InMemoryTableScan" in plan or "TableCacheQueryStage" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_split_leakage_rides_component_pipeline(registry, spark, sf_small):
    """sample_split_leakage: after the components loop, the audit is ONE
    component-keyed partial aggregate + single-row readout — no extra
    corpus scan, no cross product, no Python."""
    df = _build(registry, spark, sf_small, "sample_split_leakage")
    plan = _formatted_plan(df)
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_rate_curve_is_bucket_local_and_windows_deciles(registry, spark, sf_small):
    """dedup_rate_curve: the decile census rides the LSH candidate
    equi-join stream; the cumulative readout windows the 7-row decile
    table, never the pair stream. No nested-loop, no Python."""
    df = _build(registry, spark, sf_small, "dedup_rate_curve")
    plan = _formatted_plan(df)
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "partial_count" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_seasonality_is_bounded_cells(registry, spark, sf_small):
    """events_seasonality_profile: map-only projection into a 168-cell
    partial-agg shuffle; the total broadcasts. No Python."""
    df = _build(registry, spark, sf_small, "events_seasonality_profile")
    plan = _formatted_plan(df)
    assert "partial_count" in plan
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_dim_health_is_64_group_aggregate(registry, spark, sf_small):
    """emb_dim_health: posexplode is map-side; the only shuffle is the
    64-group partial aggregate of exact integer moments. No Python."""
    df = _build(registry, spark, sf_small, "emb_dim_health")
    plan = _formatted_plan(df)
    assert "partial_sum" in plan
    assert "Generate" in plan  # posexplode, map-side
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_kmv_sketch_is_window_group_limited(registry, spark, sf_small):
    """sketch_kmv_source_overlap: the bottom-k cut must run as
    WindowGroupLimit (partial per input partition BEFORE the exchange —
    the sketch's mergeability realized by the engine); the source-list
    fan-out is a broadcast of an S-row side, never a shuffled cross
    product; no Python in the plan."""
    df = _build(registry, spark, sf_small, "sketch_kmv_source_overlap")
    plan = _formatted_plan(df)
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastExchange" in plan or "BroadcastNestedLoopJoin" in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_kmv_estimate_only_drops_the_exact_join(registry, spark, sf_small):
    """The production KMV plan must be strictly lighter than the gauge's:
    the exact-overlap token equi-join (the corpus-sized step the sketch
    exists to replace) is gone, so the estimate-only plan has FEWER
    exchanges; the bottom-k WindowGroupLimit and the broadcast-only pair
    fan-out remain."""
    prod = _formatted_plan(
        _build(registry, spark, sf_small, "sketch_kmv_estimate_only")
    )
    gauge = _formatted_plan(
        _build(registry, spark, sf_small, "sketch_kmv_source_overlap")
    )
    assert "WindowGroupLimit" in prod
    assert "CartesianProduct" not in prod
    assert prod.count("Exchange") < gauge.count("Exchange")
    assert "BatchEvalPython" not in prod and "ArrowEvalPython" not in prod


def test_priority_sampling_is_window_group_limited(registry, spark, sf_small):
    """sample_priority_weighted: map-only weight/hash projection into one
    source-keyed exchange; the k-per-source cut must run as
    WindowGroupLimit (partial pre-exchange); no Python, no cross
    product."""
    df = _build(registry, spark, sf_small, "sample_priority_weighted")
    plan = _formatted_plan(df)
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_array_operators_stay_in_codegen(registry, spark, sf_small):
    """parsed_array_operators: the @>/<@/&& lowering must execute as
    built-in collection functions inside whole-stage codegen — a
    map-side filter over one scan, no shuffle for the predicate, no
    lambda falling off to Python, no join of any kind."""
    df = _build(registry, spark, sf_small, "parsed_array_operators")
    plan = _formatted_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "Join" not in plan and "CartesianProduct" not in plan
    # the lowering's built-ins sit IN the Filter condition over the scan
    assert "array_except" in plan and "arrays_overlap" in plan
    # exactly one exchange (the ORDER BY's range partitioning) — the
    # predicate itself is map-side
    assert plan.count("Exchange") <= 2  # plan node + detail section


def test_set_offset_is_bounded_not_global_sort(registry, spark, sf_small):
    """parsed_set_offset: ORDER BY + LIMIT/OFFSET over the union must
    execute as a limit+offset-bounded TakeOrdered, never a full global
    sort of the combined result; the filters still reach both scans."""
    df = _build(registry, spark, sf_small, "parsed_set_offset")
    plan = _formatted_plan(df)
    assert "TakeOrderedAndProject" in plan
    assert "Sort " not in plan.replace("TakeOrderedAndProject", "")
    assert "PushedFilters: [" in plan
    assert "BatchEvalPython" not in plan


def test_fetch_ties_partial_windowgrouplimit(registry, spark, sf_small):
    """WITH TIES compiles to the scale-safe top-n shape: a Partial
    WindowGroupLimit per input partition BEFORE the single exchange (each
    task forwards at most n rows plus local ties), no global range sort
    below the rank window."""
    df = _build(registry, spark, sf_small, "parsed_fetch_ties")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan and "Partial" in plan
    # the dead below-window Sort is unwrapped — no range exchange remains
    assert "rangepartitioning" not in plan.split("WindowGroupLimit")[-1]


def test_tablesample_stays_map_side(registry, spark, sf_small):
    """TABLESAMPLE keeps the ANSI evaluation order — Sample directly
    above the scan, WHERE above the sample (the sample is taken BEFORE
    filtering, so Catalyst rightly does not push the filter through it)
    — and the whole sample+filter pipeline is map-side: the only
    exchange is the count aggregation's partial->final."""
    from postbound_spark.catalog import load_tables
    from postbound_spark.operators import compile_plan
    from postbound_spark.plans.algebra import parse_relalg
    from postbound_spark.plans.parser import parse_query

    cat = load_tables(spark, sf_small, ["orders"])
    df = compile_plan(
        parse_relalg(
            parse_query(
                "SELECT count(*) AS c FROM orders "
                "TABLESAMPLE BERNOULLI (10 PERCENT) REPEATABLE(3) "
                "WHERE o_totalprice > 1000"
            )
        ),
        spark,
        cat,
    )
    plan = _formatted_plan(df)
    assert "Sample" in plan
    # ANSI order: Filter evaluates above Sample, Sample sits on the scan
    assert plan.index("Filter") < plan.index("Sample") < plan.index("Scan parquet")
    # one exchange node only (tree line "Exchange (n)"): the
    # partial->final count aggregation
    assert plan.count("Exchange (") <= 1


def test_case_exists_decorrelates_to_count_join(registry, spark, sf_small):
    """Round-10: a correlated EXISTS in CASE position compiles to the
    decorrelated shape — grouped per-key count LEFT-joined onto the
    outer — with NO per-row subquery (no nested scan inside a filter)
    and NO cartesian product for the correlated probes. The uncorrelated
    probe attaches as a 1-row broadcast cross product, the only
    BroadcastNestedLoopJoin allowed in this plan."""
    df = _build(registry, spark, sf_small, "parsed_case_exists")
    plan = _formatted_plan(df)
    assert "HashAggregate" in plan  # the per-key counts
    # correlated probes join per key, never nested-loop over data rows:
    # every nested-loop instance must be a 1-row scalar attach (the
    # uncorrelated ASIA probe), i.e. its build side is an aggregate
    assert plan.count("CartesianProduct") == 0
    joins = plan.count("BroadcastHashJoin") + plan.count("SortMergeJoin")
    assert joins >= 2  # one decorrelated left join per correlated EXISTS


def test_expr_in_membership_is_broadcast_constant(registry, spark, sf_small):
    """Round-10: uncorrelated IN-membership booleans lower to 1-row
    count subplans attached by broadcast — the outer nation scan is
    never shuffled (no exchange keyed on the outer side), which is the
    shape that survives a 100x outer-table scale-up."""
    df = _build(registry, spark, sf_small, "parsed_expr_in_membership")
    plan = _formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan  # 1-row constant attaches
    assert "CartesianProduct" not in plan
    # all three memberships fold into scalar constants: no join ON the
    # outer key column remains
    assert "SortMergeJoin" not in plan


def test_except_all_count_difference_shape(registry, spark, sf_small):
    """Round-10: bag EXCEPT ALL uses the count-difference plan — each
    side partial-aggregates to (value, count) BEFORE its exchange (two
    compacted aggregate exchanges + a value-keyed join), not Spark's
    union rewrite that shuffles both inputs' full rows (no ReplicateRows
    from the Difference; the nested INTERSECT ALL keeps its native form)."""
    df = _build(registry, spark, sf_small, "parsed_except_all")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "__ea_lc" in plan or "__ea_n" in plan  # the count-form columns
    # partial aggregation compacts map-side before every exchange
    assert "partial_count" in plan


def test_quantified_comparison_no_nested_loop_on_data(registry, spark, sf_small):
    """Round-10: quantified comparisons lower to the min/max form — the
    plan holds 1-row aggregate attaches (BroadcastNestedLoopJoin over
    single-row builds is the constant attach) and per-key count/extreme
    left joins, with NO cartesian product and no join keyed per data
    row of the quantifier's subquery."""
    df = _build(registry, spark, sf_small, "parsed_quantified_comparisons")
    plan = _formatted_plan(df)
    assert "CartesianProduct" not in plan
    assert "HashAggregate" in plan  # the count/min/max reductions


def test_row_in_subquery_is_multicolumn_semijoin(registry, spark, sf_small):
    """Round-10: row-valued IN compiles ONE semi join keyed on both row
    columns — no row explosion, no cartesian, broadcast-able build side."""
    df = _build(registry, spark, sf_small, "parsed_row_in_subquery")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan
    assert "CartesianProduct" not in plan


def test_corr_scalar_join_decorrelates_per_key(registry, spark, sf_small):
    """Round-11: a correlated scalar subquery whose body contains an
    explicit LEFT JOIN (TPC-H Q2/Q17 family) compiles to the per-key
    shape — the inner join's output grouped ONCE by the correlation key,
    LEFT-joined back onto the outer — with no per-row subquery execution
    and no cartesian product anywhere in the plan."""
    df = _build(registry, spark, sf_small, "parsed_corr_scalar_join")
    plan = _formatted_plan(df)
    assert "HashAggregate" in plan          # per-key max over the join
    assert "__latkey" in plan               # grouped on the correlation key
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    # the correlation is a keyed equi-join, never a nested loop
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan)


def test_ordered_agg_mixed_single_aggregate_no_python(registry, spark, sf_small):
    """Round-11: the comparator-lambda ordered-agg lowering stays one
    hash aggregate collecting per-group arrays plus per-group in-memory
    sorts — no extra exchange beyond the group-key shuffle, no Python
    evaluation, no window machinery."""
    df = _build(registry, spark, sf_small, "parsed_ordered_agg_mixed")
    plan = _formatted_plan(df)
    assert "HashAggregate" in plan or "ObjectHashAggregate" in plan
    assert "PythonUDF" not in plan and "BatchEvalPython" not in plan
    assert "Window" not in plan
    # one group-key exchange feeding the aggregate plus the final
    # sort's range exchange — nothing else shuffles (formatted mode
    # lists each node in the tree AND the details section)
    assert plan.count("Exchange") <= 4


def test_scalar_top1_is_window_group_limited(registry, spark, sf_small):
    """Round-11: the as-of scalar (correlated ORDER BY ... LIMIT 1)
    compiles to a group-limited window over the inner + one keyed LEFT
    join — no per-row subquery, no cartesian, and Spark's
    InferWindowGroupLimit bounds the per-key sort."""
    df = _build(registry, spark, sf_small, "parsed_scalar_top1")
    plan = _formatted_plan(df)
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert ("BroadcastHashJoin" in plan) or ("SortMergeJoin" in plan)


def test_exclude_group_ties_shares_one_exchange(registry, spark, sf_small):
    """Round-11: the EXCLUDE GROUP/TIES desugar's frame and peer windows
    stack on ONE exchange — the subtraction adds window operators, never
    a shuffle."""
    df = _build(registry, spark, sf_small, "parsed_exclude_group_ties")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Exchange") == 1
    assert "CartesianProduct" not in plan


def test_groups_frame_two_windows_one_exchange(registry, spark, sf_small):
    """Round-11: the GROUPS-frame rewrite (dense_rank peer index one
    level below, RANGE frame above) partitions BOTH windows on the same
    key, so the whole query rides ONE exchange — the peer index is a
    second Window pass on the already-sorted partition, never a join or
    a second shuffle."""
    df = _build(registry, spark, sf_small, "parsed_groups_frame")
    plan = df._jdf.queryExecution().executedPlan().toString()
    # one hash exchange for BOTH window passes; the only other exchange
    # is the final ORDER BY's range partitioning
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("Exchange") == 2
    assert "Join" not in plan
    assert "CartesianProduct" not in plan


def test_exists_having_is_grouped_semi_join(registry, spark, sf_small):
    """Round-11: the EXISTS-with-HAVING decorrelation aggregates ONCE on
    (correlation key, group key) and LEFT SEMI joins — never a per-row
    subquery or nested loop."""
    df = _build(registry, spark, sf_small, "parsed_exists_having")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "LeftSemi" in plan
    assert "HashAggregate" in plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_lateral_groupby_is_keyed_aggregate_join(registry, spark, sf_small):
    """Round-11: grouped LATERAL aggregates ONCE on (correlation key,
    group key) and joins back per key — no per-outer-row subquery, no
    nested loop."""
    df = _build(registry, spark, sf_small, "parsed_lateral_groupby")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "HashAggregate" in plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_join_lateral_topn_is_window_group_limited(registry, spark, sf_small):
    """Round-11: LEFT JOIN LATERAL ... LIMIT n rides ONE row_number
    window partitioned on the correlation key (WindowGroupLimit keeps it
    per-key top-n) and a keyed LEFT join — never a per-outer-row
    subquery."""
    df = _build(registry, spark, sf_small, "parsed_join_lateral")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "WindowGroupLimit" in plan
    assert "CartesianProduct" not in plan and "NestedLoop" not in plan


def test_window_over_agg_single_aggregate(registry, spark, sf_small):
    """Round-11: windows over aggregates ride ONE hash aggregate; the
    Window passes run over the aggregate's per-group output, never a
    second scan of the input."""
    df = _build(registry, spark, sf_small, "parsed_window_over_agg")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1
    assert "CartesianProduct" not in plan


def test_pivot_single_aggregate_single_scan(registry, spark, sf_small):
    """Round-11 (wave 24): PIVOT desugars to ONE hash aggregate with a
    filtered-CASE aggregate per IN item — single scan, map-side
    partials, no per-item re-scan, no Expand, no Union of per-item
    branches."""
    df = _build(registry, spark, sf_small, "parsed_pivot")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1
    assert "Union" not in plan and "CartesianProduct" not in plan
    fmt = _formatted_plan(df)
    assert "partial_count" in fmt  # map-side combine of the pivot aggs


def test_unpivot_single_scan_generate(registry, spark, sf_small):
    """Round-11 (wave 24): UNPIVOT is a single-scan index explode +
    CASE pickers — one Generate multiplies rows by the item count;
    never one re-scan (or UNION branch) per unpivoted column."""
    df = _build(registry, spark, sf_small, "parsed_unpivot")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("FileScan") == 1
    assert "Generate explode" in plan
    assert "Union" not in plan


def test_asof_join_union_window_plan(registry, spark, sf_small):
    """Round-11 (wave 27): ASOF JOIN compiles to the union-window
    composition — ONE exchange on the match keys, a per-key sort, a
    single Window — never an inequality BroadcastNestedLoop and never a
    within-key pairs blow-up (no extra join at all)."""
    df = _build(registry, spark, sf_small, "parsed_asof_join")
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BroadcastNestedLoopJoin" not in plan
    assert "CartesianProduct" not in plan
    assert "Union" in plan and "Window" in plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan


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
