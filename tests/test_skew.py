"""salted_join == plain join (row multiset), on genuinely skewed data —
every events row shares one of three hot type keys."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from postbound_spark.catalog import load_table
from postbound_spark.operators.skew import salted_join


def _skewed_sides(spark, sf_dir):
    ev = load_table(spark, sf_dir, "events")
    # collapse event_type onto 3 hot keys -> heavy shuffle skew by design
    left = ev.select(
        (F.crc32(F.col("event_type")) % 3).alias("k"), "event_id", "value"
    )
    right = (
        ev.groupBy((F.crc32(F.col("event_type")) % 3).alias("k"))
        .agg(F.count("*").alias("n_type"))
    )
    return left, right


def _multiset(df):
    return sorted(tuple(r) for r in df.collect())

def test_salted_inner_matches_plain(spark, sf_small):
    left, right = _skewed_sides(spark, sf_small)
    plain = left.join(right, on=["k"], how="inner")
    salted = salted_join(left, right, on=["k"], how="inner", salt=8)
    assert sorted(salted.columns) == sorted(plain.columns)
    assert _multiset(salted.select(*plain.columns)) == _multiset(plain)


def test_salted_left_outer_keeps_unmatched(spark, sf_small):
    left, right = _skewed_sides(spark, sf_small)
    right_partial = right.filter(F.col("k") != 0)  # key 0 loses its match
    plain = left.join(right_partial, on=["k"], how="left")
    salted = salted_join(left, right_partial, on=["k"], how="left", salt=4)
    assert _multiset(salted.select(*plain.columns)) == _multiset(plain)
    # unmatched rows really are present with nulls
    assert salted.filter(F.col("n_type").isNull()).count() > 0


def test_salted_join_rejects_full_outer(spark, sf_small):
    left, right = _skewed_sides(spark, sf_small)
    with pytest.raises(ValueError):
        salted_join(left, right, on=["k"], how="full")


def test_salt_on_rejects_join_keys_only(spark, sf_small):
    """Salting by the join keys alone maps every row of a hot key to ONE
    salt bucket — nothing spreads; the API refuses the foot-gun."""
    left, right = _skewed_sides(spark, sf_small)
    with pytest.raises(ValueError, match="beyond the join keys"):
        salted_join(left, right, on=["k"], salt_on=["k"])


def test_salt_on_explicit_stable_columns(spark, sf_small):
    """salt_on pins the salt derivation to caller-chosen stable columns, so
    a volatile column elsewhere in the row cannot re-salt retried tasks
    differently; results still match the plain join."""
    left, right = _skewed_sides(spark, sf_small)
    # a derived float column that salting must NOT touch
    left_noisy = left.withColumn("noise", F.rand(seed=1))
    plain = left_noisy.join(right, on=["k"], how="inner")
    salted = salted_join(
        left_noisy, right, on=["k"], how="inner", salt=8,
        salt_on=["k", "event_id"],
    )
    assert _multiset(salted.select("k", "event_id", "n_type")) == _multiset(
        plain.select("k", "event_id", "n_type")
    )


def test_salt_actually_spreads_hot_key(spark, sf_small):
    left, right = _skewed_sides(spark, sf_small)
    salted = salted_join(left, right, on=["k"], salt=8)
    # the physical plan joins on (k, __pb_salt): the hot key's rows hash to
    # up to 8 distinct shuffle keys instead of 1
    plan = salted._jdf.queryExecution().executedPlan().toString()
    assert "__pb_salt" in plan


def test_salt_one_means_off_even_for_keys_only_frames(spark, sf_small):
    """salt < 2 is the documented 'salting off' switch: it must degrade to
    a plain join without tripping the salt_on validation, even when the
    left frame carries nothing beyond the join keys."""
    left = load_table(spark, sf_small, "orders").select("o_custkey")
    right = load_table(spark, sf_small, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_acctbal"
    )
    plain = left.join(right, on=["o_custkey"]).count()
    assert salted_join(left, right, on=["o_custkey"], salt=1).count() == plain


# ---------------------------------------------------------------------------
# round 5: the measure -> policy -> mechanism loop closed
# (profile_key_skew's report now has an automatic consumer)
# ---------------------------------------------------------------------------

from postbound_spark.operators.skew import (  # noqa: E402
    decide_salt,
    plan_skew_mitigation,
    skew_aware_join,
)


def _skewed_pair(spark, n=20_000, hot_frac=0.3):
    """Left frame where one key holds ~hot_frac of all rows + a dim.
    Materialized so the key-building xxhash64 never appears in downstream
    join plans — the salts-only-when-skewed test greps plans for the salt
    hash and must not match the data generator's."""
    left = spark.range(n).select(
        F.when(
            (F.col("id") % F.lit(int(1 / hot_frac))) == 0, F.lit(7)
        ).otherwise(F.pmod(F.xxhash64("id"), F.lit(500))).alias("k"),
        F.col("id").alias("row_id"),
    ).localCheckpoint(eager=True)
    right = spark.range(500).select(
        F.col("id").alias("k"), (F.col("id") * 2).alias("payload")
    )
    return left, right


def test_decide_salt_policy():
    # uniform: hottest reducer ~= average -> no salt
    assert decide_salt(1 / 500, 32) == 1
    # 30% on one key over 32 reducers -> imbalance ~9.6 -> salt 4
    assert decide_salt(0.3, 32) == 4
    # extreme skew is capped
    assert decide_salt(1.0, 4096, max_salt=32) == 32
    with pytest.raises(ValueError):
        decide_salt(1.5, 32)


def test_plan_skew_mitigation_measures_hot_share(spark):
    left, _ = _skewed_pair(spark)
    # the dev session runs 8 shuffle partitions -> imbalance ~2.7; pin the
    # threshold so the decision is deterministic across session presets
    plan = plan_skew_mitigation(left, ["k"], target_imbalance=2.0)
    assert 0.25 <= plan["hot_share"] <= 0.35
    assert plan["hot_key"] == (7,)
    assert plan["salt"] >= 2
    uniform = spark.range(10_000).select(
        F.pmod(F.xxhash64("id"), F.lit(5000)).alias("k"), F.col("id").alias("row_id")
    )
    assert plan_skew_mitigation(uniform, ["k"])["salt"] == 1


def test_plan_skew_mitigation_sampled_estimate(spark):
    """At warehouse scale the profile runs on a sample — a 30% hot key
    is still ~30% of a 10% sample."""
    left, _ = _skewed_pair(spark, n=50_000)
    plan = plan_skew_mitigation(
        left, ["k"], sample_fraction=0.1, target_imbalance=2.0
    )
    assert 0.2 <= plan["hot_share"] <= 0.4
    assert plan["salt"] >= 2


def test_skew_aware_join_matches_plain_join(spark):
    left, right = _skewed_pair(spark)
    auto = skew_aware_join(left, right, ["k"], salt_on=["k", "row_id"])
    plain = left.join(right, on=["k"], how="inner")
    assert auto.count() == plain.count()
    assert (
        auto.agg(F.sum("payload").alias("s")).collect()[0]["s"]
        == plain.agg(F.sum("payload").alias("s")).collect()[0]["s"]
    )


def test_skew_aware_join_salts_only_when_skewed(spark):
    left, right = _skewed_pair(spark)
    salted_plan = skew_aware_join(
        left, right, ["k"], salt_on=["k", "row_id"], target_imbalance=2.0
    )._jdf.queryExecution().optimizedPlan().toString()
    assert "__pb_salt" in salted_plan and "xxhash64" in salted_plan
    uniform = spark.range(10_000).select(
        F.pmod(F.xxhash64("id"), F.lit(5000)).alias("k"),
        F.col("id").alias("row_id"),
    )
    # materialize first so the profile's xxhash64 (used to BUILD the key
    # column) does not appear in the join plan we inspect
    uniform = uniform.localCheckpoint(eager=True)
    plain_plan = skew_aware_join(
        uniform, right, ["k"], salt_on=["k", "row_id"]
    )._jdf.queryExecution().optimizedPlan().toString()
    assert "__pb_salt" not in plain_plan and "xxhash64" not in plain_plan


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
