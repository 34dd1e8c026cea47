"""Temporal operator edge semantics (asof_join / range_join_binned) —
regression suite for the round-2 review findings: NULL exclusion, tie
determinism, exact big-integer binning. Also the LSH text functions
and the prepared-expression memo (``expr_memo``) they are built on."""

from __future__ import annotations

from pyspark.sql import functions as F

from postbound_spark.operators.temporal import asof_join, range_join_binned


def test_asof_null_right_rows_never_match(spark):
    left = spark.createDataFrame([(1, 100), (2, 100)], "k int, ts int")
    right = spark.createDataFrame(
        [(1, None, "null-ts"), (1, 50, "real"), (None, 10, "null-key")],
        "k int, ts int, v string",
    )
    out = asof_join(left, right, keys=["k"], left_ts="ts", right_ts="ts",
                    prefix="p_").orderBy("k").collect()
    assert out[0]["p_v"] == "real"      # NULL-ts row must not shadow it
    assert out[1]["p_v"] is None        # no right rows for k=2


def test_asof_tie_break_is_deterministic(spark):
    left = spark.createDataFrame([(1, 100)], "k int, ts int")
    right = spark.createDataFrame(
        [(1, 100, "a"), (1, 100, "b")], "k int, ts int, v string"
    )
    results = set()
    for n_parts in (1, 3, 7):
        r = right.repartition(n_parts)
        row = asof_join(left, r, keys=["k"], left_ts="ts", right_ts="ts",
                        prefix="p_").collect()[0]
        results.add(row["p_v"])
    assert results == {"b"}  # max payload struct wins, independent of layout


def test_asof_empty_right_cols_means_timestamp_only(spark):
    left = spark.createDataFrame([(1, 100)], "k int, ts int")
    right = spark.createDataFrame([(1, 50, "x")], "k int, ts int, v string")
    out = asof_join(left, right, keys=["k"], left_ts="ts", right_ts="ts",
                    right_cols=[], prefix="p_")
    assert set(out.columns) == {"k", "ts", "p_ts"}


def test_range_join_exact_at_nanosecond_epochs(spark):
    """Bin computation must be exact integer division — double division
    mis-bins epochs above 2^53."""
    base = 1_700_000_000_000_000_000  # ns epoch, > 2^53
    points = spark.createDataFrame(
        [(1, base + 999_999_999)], "k int, p long"
    )
    intervals = spark.createDataFrame(
        [(1, base, base + 1_000_000_000, "hit")], "k int, lo long, hi long, tag string"
    )
    out = range_join_binned(
        points, intervals, keys=["k"], point_col="p",
        lo_col="lo", hi_col="hi", bin_width=1_000_000_000,
    ).collect()
    assert len(out) == 1 and out[0]["tag"] == "hit"


def test_lsh_empty_shingles_produce_no_band_keys(spark):
    from postbound_spark.functions import text as T

    df = spark.createDataFrame([("a b",), ("w x y z q r",)], "text string")
    out = df.select(
        T.lsh_band_keys(
            T.minhash_signature(T.word_shingles(T.tokens(F.col("text"))), 8), 4, 2
        ).alias("keys")
    ).collect()
    assert out[0]["keys"] == []        # < 3 tokens: no shingles, no buckets
    assert len(out[1]["keys"]) == 4    # real doc: one key per band


def test_xor_agg_all_null_group_is_null(spark):
    from postbound_spark.functions.udf import register_all

    register_all(spark)
    df = spark.createDataFrame(
        [(1, None), (1, None), (2, 5)], "g int, v long"
    )
    rows = {
        r["g"]: r["x"]
        for r in df.groupBy("g").agg(F.expr("pb_xor_agg(v)").alias("x")).collect()
    }
    assert rows[1] is None and rows[2] == 5


def test_minhash_universal_family_range_and_determinism(spark):
    """Signature values stay in [0, P): the (a*h + b) mod P arithmetic must
    never overflow BIGINT (Spark would wrap silently, DuckDB would error)
    and identical shingle sets must produce identical signatures."""
    from pyspark.sql import functions as F

    from postbound_spark.functions import text as T

    df = spark.createDataFrame(
        [("a b c d e f",), ("a b c d e f",), ("x y z w v u t",)], ["text"]
    )
    sig = T.minhash_signature(T.word_shingles(T.tokens(F.col("text"))), 8)
    rows = df.select(sig.alias("sig")).collect()
    for r in rows:
        assert len(r.sig) == 8
        assert all(0 <= v < T.MINHASH_P for v in r.sig), r.sig
    assert rows[0].sig == rows[1].sig  # identical text -> identical signature
    assert rows[0].sig != rows[2].sig


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


def test_expr_memo_skips_plan_bound_and_lambda_columns(spark):
    """Df-bound columns stringify identically across DataFrames but carry
    plan ids — they must bypass the memo; lambda variables get fresh
    names per composition and must not grow the cache; unresolved F.col
    attributes still memoize."""
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
