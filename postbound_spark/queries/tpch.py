"""Analytic core queries over the TPC-H-ish fixtures (SURVEY.md §7 M0).

The flagship query and its neighbors exercise scan, filter, multi-way equi
join, grouping, having, sorting, and limiting — the backbone the reference's
workloads (JOB/SSB/Stats) are made of. Several are built through the relalg
layer (:mod:`postbound_spark.plans.relalg`) to demonstrate the logical plan →
DataFrame path; the rest use the DataFrame API directly (both end in the same
Catalyst plan).

Scale notes: region/nation are tiny dimensions → Catalyst broadcast-joins them
automatically (verified via ``explain``); the orders⋈lineitem join is the only
genuine shuffle and is an equi-join on the natural key, which AQE can re-plan
or skew-split at 100 TB.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from postbound_spark.catalog import load_tables
from postbound_spark.operators import compile_plan
from postbound_spark.optimizer.selection import (
    MeasuredBuildSide,
    MeasuredJoinPolicy,
    StatsDrivenJoinSelection,
)
from postbound_spark.plans import relalg as ra
from postbound_spark.queries import query
from postbound_spark.queries.pipeline import bounded_sort, stage_cache


def _sized(spark: SparkSession, df: DataFrame) -> DataFrame:
    """Stats-driven build side: broadcast only when Catalyst's plan-time
    size estimate fits the session's broadcast threshold; otherwise leave
    unhinted so AQE degrades to a shuffle join instead of OOMing the driver.

    Used for every build side that GROWS with the scale factor (customer =
    SF x 150k, supplier = SF x 10k, part = SF x 200k, per-key aggregates of
    lineitem) — the round-1 audit's scale-killer list. Fixed-size dimensions
    (region = 5 rows, nation = 25 rows at every SF) keep a plain
    ``F.broadcast``."""
    return StatsDrivenJoinSelection(spark).build_side(df)


def _measured(spark: SparkSession) -> MeasuredBuildSide:
    """Measured-cardinality build-side decisions (ref PreciseCardinalities,
    ``opt/_cardinalities.py:20``) for intermediates whose Catalyst estimate
    is inflated past usefulness — see :class:`MeasuredBuildSide`."""
    return MeasuredBuildSide(spark)

FLAGSHIP_ORACLE = """
SELECT n.n_name,
       count(*) AS num_orders,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue
FROM region r
JOIN nation n ON r.r_regionkey = n.n_regionkey
JOIN customer c ON n.n_nationkey = c.c_nationkey
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE r.r_name = 'ASIA' AND o.o_orderdate >= TIMESTAMP '1996-01-01'
GROUP BY n.n_name
ORDER BY revenue DESC, n.n_name
LIMIT 10
"""


def flagship_plan() -> ra.RelNode:
    """The M0 flagship as a relalg tree (left-deep join order, filters pushed
    onto the scans — what a join-order stage would emit).

    r12-opt: the fold starts from the FACT table so every dimension joins as
    an independent leaf. The previous dims-first order
    (((region⋈nation)⋈customer)⋈orders)⋈lineitem nested each broadcast
    build inside the next BroadcastExchange, and AQE materializes nested
    broadcast stages strictly bottom-up — three SERIAL broadcast rounds
    (one driver job round trip each) before the probe could start
    (measured: 6 jobs/collect, ~0.1 s per round at sf0.1). Fact-first,
    all four dimension builds are leaf subtrees with no exchange below
    them, so AQE materializes every broadcast in ONE concurrent round
    (measured: 3 jobs/collect). Inner joins commute — identical results
    (oracle-gated) — and the measured build-side policy still declines any
    dimension that outgrows the broadcast threshold at larger SFs."""
    region = ra.Selection(ra.Relation(table="region", alias="r"), "r_name = 'ASIA'")
    nation = ra.Relation(table="nation", alias="n")
    customer = ra.Relation(table="customer", alias="c")
    orders = ra.Selection(
        ra.Relation(table="orders", alias="o"),
        "o_orderdate >= TIMESTAMP '1996-01-01'",
    )
    lineitem = ra.Relation(table="lineitem", alias="l")
    joined = ra.ThetaJoin(
        ra.ThetaJoin(
            ra.ThetaJoin(
                ra.ThetaJoin(lineitem, orders, "o_orderkey = l_orderkey"),
                customer,
                "c_custkey = o_custkey",
            ),
            nation,
            "n_nationkey = c_nationkey",
        ),
        region,
        "r_regionkey = n_regionkey",
    )
    grouped = ra.Grouping(
        joined,
        keys=("n_name",),
        aggregates=(
            ("num_orders", "count(*)"),
            ("revenue", "round(sum(l_extendedprice * (1 - l_discount)), 4)"),
        ),
    )
    sorted_ = ra.Sort(
        grouped,
        keys=(ra.SortKey("revenue", ascending=False), ra.SortKey("n_name")),
    )
    return ra.Limit(sorted_, limit=10)


@query("flagship_regional_revenue", oracle=FLAGSHIP_ORACLE)
def flagship_regional_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    catalog = load_tables(spark, sf_dir, ["region", "nation", "customer", "orders", "lineitem"])
    # measured operator selection for the compile path: the filtered
    # region→…→orders bundle is the truly small side of the lineitem join,
    # invisible to Catalyst's width-multiplied join estimate (see
    # MeasuredJoinPolicy — memoized COUNT(*) per intermediate, ref
    # PreciseCardinalities opt/_cardinalities.py:20)
    policy = MeasuredJoinPolicy(spark, prefix=f"flagship@{sf_dir}")
    return compile_plan(flagship_plan(), spark, catalog, selection=policy)


@query(
    "q1_pricing_summary",
    oracle="""
SELECT l_returnflag,
       l_linestatus,
       round(sum(l_quantity), 2) AS sum_qty,
       round(sum(l_extendedprice), 2) AS sum_base_price,
       round(sum(l_extendedprice * (1 - l_discount)), 4) AS sum_disc_price,
       round(sum(l_extendedprice * (1 - l_discount) * (1 + l_tax)), 6) AS sum_charge,
       round(avg(l_quantity), 4) AS avg_qty,
       round(avg(l_extendedprice), 4) AS avg_price,
       round(avg(l_discount), 6) AS avg_disc,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-01'
GROUP BY l_returnflag, l_linestatus
ORDER BY l_returnflag, l_linestatus
""",
)
def q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1 shape: single scan + hash aggregate. All arithmetic stays in
    whole-stage codegen; the aggregate is partial (map-side) before the
    2-group shuffle — the cheapest possible plan at any scale."""
    lineitem = load_tables(spark, sf_dir, ["lineitem"])["lineitem"]
    disc_price = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    return (
        lineitem.filter(F.col("l_shipdate") <= F.lit("1998-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(F.sum(disc_price), 4).alias("sum_disc_price"),
            F.round(F.sum(disc_price * (1 + F.col("l_tax"))), 6).alias("sum_charge"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
            F.round(F.avg("l_discount"), 6).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        # bound: return flag x line status, 3 x 2 groups at any scale
        .transform(bounded_sort, "l_returnflag", "l_linestatus")
    )


@query(
    "q3_shipping_priority",
    oracle="""
SELECT l.l_orderkey,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
       o.o_orderdate,
       o.o_orderpriority
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
WHERE c.c_mktsegment = 'BUILDING' AND o.o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY l.l_orderkey, o.o_orderdate, o.o_orderpriority
ORDER BY revenue DESC, l.l_orderkey
LIMIT 20
""",
)
def q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["customer", "orders", "lineitem"])
    # r12-opt: fact-probe order with INDEPENDENT leaf broadcasts. The
    # previous customer⋈orders bundle nested one broadcast build inside
    # another (customer broadcast → bundle join job → bundle broadcast →
    # probe: three serial AQE materialization rounds, 4 jobs/collect);
    # with orders and customer each measured/broadcast directly against
    # the lineitem probe, both builds are leaf scans and AQE materializes
    # them in ONE concurrent round (2 jobs/collect). Join results are
    # identical (inner joins commute; the segment filter now applies via
    # the customer hash join instead of pre-reducing orders) and each
    # side is still a measured decision — above its threshold it ships
    # unhinted and AQE falls back to the shuffle family.
    orders_f = _measured(spark).build_side(
        t["orders"]
        .filter(F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        # project to the columns the rest of the query references BEFORE
        # the measured build-side decision (guide's "project before the
        # exchange"): the width estimate then reflects what the broadcast
        # relation actually stores, so the limit-probe cap admits the
        # side up to its true threshold
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority"),
        f"q3_orders_f@{sf_dir}",
    )
    customer_f = _measured(spark).build_side(
        t["customer"]
        .filter(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey"),
        f"q3_customer_f@{sf_dir}",
    )
    return (
        t["lineitem"]
        .join(orders_f, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(customer_f, F.col("c_custkey") == F.col("o_custkey"))
        .groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "revenue"
            )
        )
        .select("l_orderkey", "revenue", "o_orderdate", "o_orderpriority")
        .orderBy(F.col("revenue").desc(), "l_orderkey")
        .limit(20)
    )


@query(
    "q6_revenue_forecast",
    oracle="""
SELECT round(sum(l_extendedprice * l_discount), 4) AS revenue,
       count(*) AS n_items
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount BETWEEN 0.05 AND 0.07
  AND l_quantity < 24
""",
)
def q6_revenue_forecast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6 shape: pure scan + filter + global agg. The filters reach the
    parquet reader as PushedFilters (verified via explain) — at 100 TB this is
    an embarrassingly parallel scan with no shuffle at all."""
    lineitem = load_tables(spark, sf_dir, ["lineitem"])["lineitem"]
    return (
        lineitem.filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        ).agg(
            F.round(F.sum(F.col("l_extendedprice") * F.col("l_discount")), 4).alias("revenue"),
            F.count(F.lit(1)).alias("n_items"),
        )
    )


@query(
    "q10_returned_items",
    oracle="""
SELECT c.c_custkey,
       c.c_name,
       round(sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS revenue,
       n.n_name
FROM customer c
JOIN orders o ON c.c_custkey = o.o_custkey
JOIN lineitem l ON o.o_orderkey = l.l_orderkey
JOIN nation n ON c.c_nationkey = n.n_nationkey
WHERE l.l_returnflag = 'R'
GROUP BY c.c_custkey, c.c_name, n.n_name
ORDER BY revenue DESC, c.c_custkey
LIMIT 20
""",
)
def q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    t = load_tables(spark, sf_dir, ["customer", "orders", "lineitem", "nation"])
    # r12-opt: fact-probe order with independent leaf broadcasts (see q3).
    # The customer⋈orders bundle nested its broadcast builds (customer
    # broadcast → bundle job → bundle broadcast → probe; 5 jobs/collect)
    # and shipped c_name through two exchanges; orders and customer
    # measured/broadcast directly against the filtered-lineitem probe
    # materialize in ONE AQE round (2 jobs/collect), and joining
    # lineitem_R⋈orders before customer keeps the per-broadcast payload
    # minimal (orders carries only its two keys). Each side stays a
    # measured decision — above its threshold it ships unhinted and AQE
    # falls back to the shuffle family.
    orders_b = _measured(spark).build_side(
        t["orders"].select("o_orderkey", "o_custkey"),
        f"q10_orders@{sf_dir}",
    )
    customer_b = _measured(spark).build_side(
        t["customer"].select("c_custkey", "c_name", "c_nationkey"),
        f"q10_customer@{sf_dir}",
    )
    return (
        t["lineitem"]
        .filter(F.col("l_returnflag") == "R")
        .join(orders_b, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(customer_b, F.col("c_custkey") == F.col("o_custkey"))
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 4).alias(
                "revenue"
            )
        )
        .select("c_custkey", "c_name", "revenue", "n_name")
        .orderBy(F.col("revenue").desc(), "c_custkey")
        .limit(20)
    )


@query(
    "top_suppliers_having",
    oracle="""
SELECT s.s_suppkey,
       s.s_name,
       CAST(round(sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 1000000 + 0.5) AS BIGINT)) / 1000000.0, 4) AS DOUBLE) AS total_revenue
FROM supplier s
JOIN lineitem l ON s.s_suppkey = l.l_suppkey
GROUP BY s.s_suppkey, s.s_name
HAVING sum(CAST(floor(l.l_extendedprice * (1 - l.l_discount) * 1000000 + 0.5) AS BIGINT)) > 100000000000
ORDER BY total_revenue DESC, s.s_suppkey
""",
)
def top_suppliers_having(spark: SparkSession, sf_dir: str) -> DataFrame:
    """GROUP BY + HAVING (ref clause: qal/_qal.py:7283) — HAVING compiles to a
    post-aggregation filter. The threshold compares an integer-micros sum
    (the functions/vectors quantization pattern): double summation is
    order-dependent, so a supplier whose revenue sits within ulps of
    100000 could flip membership between Spark's partial aggregation and
    the oracle's sequential sum — long sums are exact AND as fast as
    double sums, where a DECIMAL sum costs ~2x (measured)."""
    t = load_tables(spark, sf_dir, ["supplier", "lineitem"])
    micros = F.sum(
        F.floor(
            F.col("l_extendedprice") * (1 - F.col("l_discount")) * 1000000
            + F.lit(0.5)
        ).cast("long")
    )
    return (
        t["supplier"]
        .join(t["lineitem"], F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_suppkey", "s_name")
        .agg(
            F.round(micros / 1000000.0, 4).cast("double").alias("total_revenue"),
            micros.alias("_raw"),
        )
        .filter(F.col("_raw") > 100000 * 1000000)
        .drop("_raw")
        # bound: one row per supplier, a dimension (SF x 10k rows)
        .transform(bounded_sort, F.col("total_revenue").desc(), "s_suppkey")
    )


@query(
    "latest_order_per_customer",
    oracle="""
SELECT c_custkey, o_orderkey, o_orderdate, o_totalprice
FROM (
    SELECT c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
           row_number() OVER (PARTITION BY c.c_custkey
                              ORDER BY o.o_orderdate DESC, o.o_orderkey) AS rn
    FROM customer c JOIN orders o ON c.c_custkey = o.o_custkey
) ranked
WHERE rn = 1
ORDER BY c_custkey
LIMIT 100
""",
)
def latest_order_per_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Postgres DISTINCT ON (c_custkey) … ORDER BY o_orderdate DESC analog
    (ref: Select clause DISTINCT ON, qal/_qal.py:5867) — rewritten as the
    row_number()==1 window filter, the standard Spark formulation."""
    from pyspark.sql.window import Window

    t = load_tables(spark, sf_dir, ["customer", "orders"])
    w = Window.partitionBy("c_custkey").orderBy(F.col("o_orderdate").desc(), F.col("o_orderkey"))
    return (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"))
        .withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("c_custkey", "o_orderkey", "o_orderdate", "o_totalprice")
        .orderBy("c_custkey")
        .limit(100)
    )


# --- wider TPC-H-shaped coverage (adapted to the fixture schema: no
# partsupp table, lineitem carries only l_shipdate — TESTDATA.md) ----------

_Q4_ORACLE = """
SELECT o.o_orderpriority, count(*) AS order_count
FROM orders o
WHERE o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1996-04-01'
  AND EXISTS (SELECT * FROM lineitem l
              WHERE l.l_orderkey = o.o_orderkey
                AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY o.o_orderpriority
ORDER BY o.o_orderpriority
"""


@query("q4_order_priority", oracle=_Q4_ORACLE)
def q4_order_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4 shape (correlated EXISTS → left-semi join; late-shipping
    stands in for the reference's commit<receipt since the fixture lineitem
    has only l_shipdate). The correlated comparison rides ON the semi join
    — no pre-aggregation, one shuffle on l_orderkey. At scale the semi
    join's build side is the filtered 3-month orders slice, far smaller
    than lineitem."""
    t = load_tables(spark, sf_dir, ["orders", "lineitem"])
    o = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1996-04-01").cast("timestamp"))
    ).alias("o")
    l = t["lineitem"].alias("l")
    matched = o.join(
        l,
        on=(F.col("l.l_orderkey") == F.col("o.o_orderkey"))
        & (F.col("l.l_shipdate") > F.col("o.o_orderdate") + F.expr("INTERVAL 60 DAY")),
        how="left_semi",
    )
    return (
        matched.groupBy("o_orderpriority")
        .agg(F.count(F.lit(1)).alias("order_count"))
        # bound: the 5 order priorities
        .transform(bounded_sort, "o_orderpriority")
    )


_Q5_ORACLE = """
SELECT n.n_name, round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM region r, nation n, customer c, orders o, lineitem l, supplier s
WHERE r.r_regionkey = n.n_regionkey AND n.n_nationkey = c.c_nationkey
  AND c.c_custkey = o.o_custkey AND o.o_orderkey = l.l_orderkey
  AND l.l_suppkey = s.s_suppkey AND s.s_nationkey = c.c_nationkey
  AND r.r_name = 'EUROPE'
  AND o.o_orderdate >= TIMESTAMP '1996-01-01'
  AND o.o_orderdate < TIMESTAMP '1997-01-01'
GROUP BY n.n_name
ORDER BY revenue DESC, n.n_name
"""


@query("q5_local_supplier_volume", oracle=_Q5_ORACLE)
def q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: 6-way join with the cycle-closing local-supplier condition
    (s_nationkey = c_nationkey). region/nation broadcast unconditionally
    (fixed-size); the SF-scaled orders slice, customer, and supplier are
    stats/measurement-driven — broadcast while small, shuffle join once
    they outgrow the threshold. The orders ⋈ lineitem fact-fact shuffle
    dominates at 100 TB either way."""
    t = load_tables(
        spark, sf_dir, ["region", "nation", "customer", "orders", "lineitem", "supplier"]
    )
    # r12-opt: fact-probe order with independent leaf broadcasts (see q3).
    # The previous orders⋈(customer⋈(nation⋈region)) bundle nested FOUR
    # broadcast builds (region → nation bundle → dims bundle → orders
    # bundle), which AQE materializes strictly bottom-up — four serial
    # rounds, 9 jobs/collect. With every dimension joined directly onto
    # the lineitem probe, all five builds are leaf scans and materialize
    # in ONE concurrent AQE round (2 jobs/collect). The cycle-closing
    # local-supplier condition (s_nationkey = c_nationkey) rides on the
    # supplier join, after customer is bound. SF-scaled sides (orders
    # slice, customer) stay measured decisions; fixed-size nation/region
    # keep the plain broadcast.
    orders_f = _measured(spark).build_side(
        t["orders"]
        .filter(
            (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .select("o_orderkey", "o_custkey"),
        f"q5_orders_f@{sf_dir}",
    )
    customer_b = _measured(spark).build_side(
        t["customer"].select("c_custkey", "c_nationkey"),
        f"q5_customer@{sf_dir}",
    )
    joined = (
        t["lineitem"]
        .join(orders_f, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(customer_b, F.col("c_custkey") == F.col("o_custkey"))
        .join(
            _sized(spark, t["supplier"]),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .join(F.broadcast(t["nation"]), F.col("c_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(t["region"].filter(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
    )
    return (
        joined.groupBy("n_name")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        # bound: the nations of one region, at most 25 rows
        .transform(bounded_sort, F.desc("revenue"), "n_name")
    )


_Q7_ORACLE = """
SELECT supp_nation, cust_nation, l_year,
       round(sum(CAST(volume AS DOUBLE)), 2) AS revenue
FROM (
  SELECT n1.n_name AS supp_nation, n2.n_name AS cust_nation,
         extract(year FROM l.l_shipdate) AS l_year,
         l.l_extendedprice * (1 - l.l_discount) AS volume
  FROM supplier s, lineitem l, orders o, customer c, nation n1, nation n2
  WHERE s.s_suppkey = l.l_suppkey AND o.o_orderkey = l.l_orderkey
    AND c.c_custkey = o.o_custkey AND s.s_nationkey = n1.n_nationkey
    AND c.c_nationkey = n2.n_nationkey
    AND ((n1.n_name = 'NATION_3' AND n2.n_name = 'NATION_7')
      OR (n1.n_name = 'NATION_7' AND n2.n_name = 'NATION_3'))
) shipping
GROUP BY supp_nation, cust_nation, l_year
ORDER BY supp_nation, cust_nation, l_year
"""


@query("q7_volume_shipping", oracle=_Q7_ORACLE)
def q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7: the same dimension table in two roles (supplier's nation
    vs customer's nation) with a disjunctive cross-role filter. Both nation
    copies broadcast; the disjunction is applied after both bindings are
    present — Catalyst cannot push it to either scan alone, the textbook
    case for post-join residual predicates."""
    t = load_tables(
        spark, sf_dir, ["supplier", "lineitem", "orders", "customer", "nation"]
    )
    n1 = t["nation"].select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_name").alias("supp_nation")
    )
    n2 = t["nation"].select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("cust_nation")
    )
    joined = (
        t["lineitem"]
        .join(_sized(spark, t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("s_nationkey") == F.col("n1_key"))
        .join(F.broadcast(n2), F.col("c_nationkey") == F.col("n2_key"))
        .filter(
            ((F.col("supp_nation") == "NATION_3") & (F.col("cust_nation") == "NATION_7"))
            | ((F.col("supp_nation") == "NATION_7") & (F.col("cust_nation") == "NATION_3"))
        )
    )
    return (
        joined.withColumn("l_year", F.year("l_shipdate"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        # bound: 2 nation pairs x ship years (a calendar domain)
        .transform(bounded_sort, "supp_nation", "cust_nation", "l_year")
    )


_Q14_ORACLE = """
SELECT round(100.00 * sum(CASE WHEN p.p_type LIKE 'PROMO%'
                               THEN l.l_extendedprice * (1 - l.l_discount)
                               ELSE 0 END)
             / sum(l.l_extendedprice * (1 - l.l_discount)), 4) AS promo_revenue
FROM lineitem l, part p
WHERE l.l_partkey = p.p_partkey
  AND l.l_shipdate >= TIMESTAMP '1996-09-01'
  AND l.l_shipdate < TIMESTAMP '1996-10-01'
"""


@query("q14_promo_revenue", oracle=_Q14_ORACLE)
def q14_promo_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14: conditional aggregation ratio over a fact⋈dim join.
    part's join strategy is stats-driven (broadcast while its size
    estimate fits the threshold, shuffle join beyond); the CASE rides
    inside the global aggregate so the whole query is scan → join →
    single partial+final agg, no extra key shuffle."""
    t = load_tables(spark, sf_dir, ["lineitem", "part"])
    l = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1996-09-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-10-01").cast("timestamp"))
    )
    disc = F.col("l_extendedprice") * (1 - F.col("l_discount"))
    promo = F.when(F.col("p_type").like("PROMO%"), disc).otherwise(F.lit(0))
    return (
        l.join(_sized(spark, t["part"]), F.col("l_partkey") == F.col("p_partkey"))
        .agg(
            F.round(100.0 * F.sum(promo) / F.sum(disc), 4).alias("promo_revenue")
        )
    )


_Q17_ORACLE = """
SELECT round(sum(l.l_extendedprice) / 7.0, 2) AS avg_yearly
FROM lineitem l, part p
WHERE p.p_partkey = l.l_partkey AND p.p_brand = 'Brand#1'
  AND p.p_size <= 5
  AND l.l_quantity < (SELECT 0.5 * avg(l2.l_quantity)
                      FROM lineitem l2 WHERE l2.l_partkey = p.p_partkey)
"""


@query("q17_small_quantity_revenue", oracle=_Q17_ORACLE)
def q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: correlated scalar subquery (per-part average quantity),
    decorrelated into a per-part WINDOW over one fact pass (the same
    rewrite q2 uses, r12-opt). The part predicate touches only part
    attributes, so the semi-joined rows keep every lineitem of each
    surviving part intact — the window average is over the identical row
    multiset the old full-lineitem groupBy produced (and l_quantity is
    integer-valued in double, so the sum is exact at any association
    order: bit-identical thresholds). The r11 form scanned and
    partially aggregated ALL of lineitem a second time just to join the
    threshold back; now only the brand/size-filtered slice (~0.4% of
    rows) crosses the one exchange."""
    from pyspark.sql.window import Window

    t = load_tables(spark, sf_dir, ["lineitem", "part"])
    part = t["part"].filter(
        (F.col("p_brand") == "Brand#1") & (F.col("p_size") <= 5)
    )
    w = Window.partitionBy("l_partkey")
    return (
        t["lineitem"]
        .join(_sized(spark, part), F.col("l_partkey") == F.col("p_partkey"))
        .select("l_partkey", "l_quantity", "l_extendedprice")
        .withColumn("qty_threshold", 0.5 * F.avg("l_quantity").over(w))
        .filter(F.col("l_quantity") < F.col("qty_threshold"))
        .agg(F.round(F.sum("l_extendedprice") / 7.0, 2).alias("avg_yearly"))
    )


_Q18_ORACLE = """
SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice,
       round(sum(l.l_quantity), 2) AS total_qty
FROM customer c, orders o, lineitem l
WHERE o.o_orderkey IN (SELECT l_orderkey FROM lineitem
                       GROUP BY l_orderkey HAVING sum(l_quantity) > 180)
  AND c.c_custkey = o.o_custkey AND o.o_orderkey = l.l_orderkey
GROUP BY c.c_name, c.c_custkey, o.o_orderkey, o.o_orderdate, o.o_totalprice
ORDER BY o.o_totalprice DESC, o.o_orderdate, o.o_orderkey
LIMIT 20
"""


@query("q18_large_volume_customer", oracle=_Q18_ORACLE)
def q18_large_volume_customer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: IN over an aggregated subquery. The outer GROUP BY keys
    are functionally determined by ``o_orderkey`` (order PK + the 1:1
    customer join), so the outer ``sum(l_quantity)`` per group IS the
    per-order sum the HAVING clause already computed — the rewrite reuses
    that aggregate instead of re-joining and re-aggregating lineitem. One
    lineitem scan + one l_orderkey shuffle total (the naive plan pays both
    twice); the filtered aggregate is tiny, so AQE turns the orders join
    into a broadcast probe. At 100 TB this halves the dominant cost."""
    t = load_tables(spark, sf_dir, ["customer", "orders", "lineitem"])
    big_orders = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(F.sum("l_quantity").alias("sum_qty"))
        .filter(F.col("sum_qty") > 180)
    )
    return (
        t["orders"]
        .join(big_orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(_sized(spark, t["customer"]), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            "o_orderdate",
            "o_totalprice",
            F.round("sum_qty", 2).alias("total_qty"),
        )
        .orderBy(F.desc("o_totalprice"), "o_orderdate", "o_orderkey")
        .limit(20)
    )


_Q19_ORACLE = """
SELECT round(sum(l.l_extendedprice * (1 - l.l_discount)), 2) AS revenue
FROM lineitem l, part p
WHERE p.p_partkey = l.l_partkey
  AND ((p.p_brand = 'Brand#1' AND p.p_size BETWEEN 1 AND 15
        AND l.l_quantity BETWEEN 1 AND 11)
    OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25
        AND l.l_quantity BETWEEN 10 AND 20)
    OR (p.p_brand = 'Brand#3' AND p.p_size BETWEEN 1 AND 35
        AND l.l_quantity BETWEEN 20 AND 30))
"""


@query("q19_discounted_revenue", oracle=_Q19_ORACLE)
def q19_discounted_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: disjunction of conjunctive brand/size/quantity branches
    spanning both join sides. Catalyst pushes the per-side implied filters
    (brand ∈ {...}, quantity ranges) below the join and keeps the full
    disjunction as the join residual — assert-worthy pushdown behavior at
    scale (the scan must not read every part row)."""
    t = load_tables(spark, sf_dir, ["lineitem", "part"])
    l, p = t["lineitem"], t["part"]
    cond = (
        (F.col("p_brand") == "Brand#1")
        & F.col("p_size").between(1, 15)
        & F.col("l_quantity").between(1, 11)
    ) | (
        (F.col("p_brand") == "Brand#2")
        & F.col("p_size").between(1, 25)
        & F.col("l_quantity").between(10, 20)
    ) | (
        (F.col("p_brand") == "Brand#3")
        & F.col("p_size").between(1, 35)
        & F.col("l_quantity").between(20, 30)
    )
    return (
        l.join(_sized(spark, p), F.col("l_partkey") == F.col("p_partkey"))
        .filter(cond)
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
    )


# --- completing the 22-query family (fixture-adapted: no partsupp table,
# lineitem is the part<->supplier link; no commit/receipt dates, lateness is
# defined against o_orderdate) ---------------------------------------------

_Q2_ORACLE = """
SELECT p.p_partkey, p.p_name, s.s_name, n.n_name,
       round(l.l_extendedprice, 2) AS best_price
FROM part p, supplier s, lineitem l, nation n, region r
WHERE p.p_partkey = l.l_partkey AND s.s_suppkey = l.l_suppkey
  AND s.s_nationkey = n.n_nationkey AND n.n_regionkey = r.r_regionkey
  AND r.r_name = 'EUROPE' AND p.p_size = 5 AND p.p_type = 'LARGE'
  AND l.l_extendedprice = (
      SELECT min(l2.l_extendedprice)
      FROM lineitem l2, supplier s2, nation n2, region r2
      WHERE l2.l_partkey = p.p_partkey AND s2.s_suppkey = l2.l_suppkey
        AND s2.s_nationkey = n2.n_nationkey
        AND n2.n_regionkey = r2.r_regionkey AND r2.r_name = 'EUROPE')
ORDER BY best_price DESC, p.p_partkey, s.s_name
LIMIT 100
"""


@query("q2_min_cost_supplier", oracle=_Q2_ORACLE)
def q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2 shape: correlated MIN subquery ("the cheapest source for
    each part in a region"). The oracle keeps the correlated form; the
    Spark build decorrelates it as a per-part window MIN over the already
    filtered+joined relation — ONE pass, no re-join of the subquery arm,
    so the fact side is scanned once instead of twice at 100 TB. Equality
    on l_extendedprice compares stored parquet doubles (no arithmetic),
    so it is exact on both engines."""
    from pyspark.sql.window import Window

    t = load_tables(spark, sf_dir, ["part", "supplier", "lineitem", "nation", "region"])
    europe_sup = (
        t["supplier"]
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(
            F.broadcast(t["region"].filter(F.col("r_name") == "EUROPE")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
    )
    parts = t["part"].filter((F.col("p_size") == 5) & (F.col("p_type") == "LARGE"))
    joined = (
        t["lineitem"]
        .join(_sized(spark, parts), F.col("l_partkey") == F.col("p_partkey"))
        .join(
            # the supplier⋈nation⋈region bundle's Catalyst estimate is
            # width-multiplied past the threshold, which left a
            # SortMergeJoin (2 Exchange + 2 Sort) on the fact join; the
            # pruned projection + measured probe broadcasts it while it
            # truly fits and degrades to the shuffle family above that
            # (r11-opt, same pattern as the flagship fix)
            _measured(spark).build_side(
                europe_sup.select("s_suppkey", "s_name", "n_name"),
                f"q2_europe_sup@{sf_dir}",
            ),
            F.col("l_suppkey") == F.col("s_suppkey"),
        )
    )
    w = Window.partitionBy("p_partkey")
    return (
        joined.withColumn("min_price", F.min("l_extendedprice").over(w))
        .filter(F.col("l_extendedprice") == F.col("min_price"))
        .select(
            "p_partkey", "p_name", "s_name", "n_name",
            F.round("l_extendedprice", 2).alias("best_price"),
        )
        .orderBy(F.desc("best_price"), "p_partkey", "s_name")
        .limit(100)
    )


_Q8_ORACLE = """
SELECT o_year,
       round(sum(CAST(CASE WHEN nation = 'NATION_3' THEN volume ELSE 0 END
                     AS DECIMAL(18,6)))
             / sum(CAST(volume AS DECIMAL(18,6))), 6) AS mkt_share
FROM (
  SELECT extract(year FROM o.o_orderdate) AS o_year,
         CAST(l.l_extendedprice * (1 - l.l_discount) AS DECIMAL(18,6)) AS volume,
         n2.n_name AS nation
  FROM part p, supplier s, lineitem l, orders o, customer c,
       nation n1, nation n2, region r
  WHERE p.p_partkey = l.l_partkey AND s.s_suppkey = l.l_suppkey
    AND l.l_orderkey = o.o_orderkey AND o.o_custkey = c.c_custkey
    AND c.c_nationkey = n1.n_nationkey AND n1.n_regionkey = r.r_regionkey
    AND r.r_name = 'ASIA' AND s.s_nationkey = n2.n_nationkey
    AND o.o_orderdate >= TIMESTAMP '1996-01-01'
    AND o.o_orderdate < TIMESTAMP '1998-01-01'
    AND p.p_type = 'ECONOMY'
) all_nations
GROUP BY o_year
ORDER BY o_year
"""


@query("q8_market_share", oracle=_Q8_ORACLE)
def q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: national market share — nation in two roles again (customer
    region filter vs supplier nation in the numerator CASE). Volumes are
    summed as DECIMAL(18,6) so the share ratio is exact and
    order-independent on both engines; only the final ratio is rounded."""
    t = load_tables(
        spark, sf_dir,
        ["part", "supplier", "lineitem", "orders", "customer", "nation", "region"],
    )
    n1 = t["nation"].select(
        F.col("n_nationkey").alias("n1_key"), F.col("n_regionkey").alias("n1_region")
    )
    n2 = t["nation"].select(
        F.col("n_nationkey").alias("n2_key"), F.col("n_name").alias("nation")
    )
    asia = t["region"].filter(F.col("r_name") == "ASIA")
    orders = t["orders"].filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    joined = (
        t["lineitem"]
        .join(
            _sized(spark, t["part"].filter(F.col("p_type") == "ECONOMY")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(_sized(spark, t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(F.broadcast(n1), F.col("c_nationkey") == F.col("n1_key"))
        .join(F.broadcast(asia), F.col("n1_region") == F.col("r_regionkey"))
        .join(F.broadcast(n2), F.col("s_nationkey") == F.col("n2_key"))
    )
    volume = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)")
    return (
        joined.select(F.year("o_orderdate").alias("o_year"), volume.alias("volume"), "nation")
        .groupBy("o_year")
        .agg(
            F.round(
                (
                    F.sum(F.when(F.col("nation") == "NATION_3", F.col("volume")).otherwise(0))
                    / F.sum("volume")
                ).cast("double"),
                6,
            ).alias("mkt_share")
        )
        # bound: the order years of the 1996-1997 window, 2 rows
        .transform(bounded_sort, "o_year")
    )


_Q9_ORACLE = """
SELECT nation, o_year,
       round(sum(CAST(amount AS DECIMAL(18,6))), 2) AS sum_profit
FROM (
  SELECT n.n_name AS nation,
         extract(year FROM o.o_orderdate) AS o_year,
         CAST(l.l_extendedprice * (1 - l.l_discount)
              - 0.1 * p.p_retailprice * l.l_quantity AS DECIMAL(18,6)) AS amount
  FROM part p, supplier s, lineitem l, orders o, nation n
  WHERE s.s_suppkey = l.l_suppkey AND p.p_partkey = l.l_partkey
    AND o.o_orderkey = l.l_orderkey AND s.s_nationkey = n.n_nationkey
    AND p.p_type = 'STANDARD'
) profit
GROUP BY nation, o_year
ORDER BY nation, o_year DESC
"""


@query("q9_product_type_profit", oracle=_Q9_ORACLE)
def q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9 shape: profit per supplier-nation per year (0.1 *
    p_retailprice stands in for ps_supplycost — the fixture has no
    partsupp). All dims broadcast; orders⋈lineitem is the one shuffle.
    The profit expression is computed in double (bit-identical IEEE on
    both engines) then summed as decimal for order-independence."""
    t = load_tables(spark, sf_dir, ["part", "supplier", "lineitem", "orders", "nation"])
    amount = (
        F.col("l_extendedprice") * (1 - F.col("l_discount"))
        - 0.1 * F.col("p_retailprice") * F.col("l_quantity")
    ).cast("decimal(18,6)")
    return (
        t["lineitem"]
        .join(
            _sized(spark, t["part"].filter(F.col("p_type") == "STANDARD")),
            F.col("l_partkey") == F.col("p_partkey"),
        )
        .join(_sized(spark, t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(t["orders"], F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(t["nation"]), F.col("s_nationkey") == F.col("n_nationkey"))
        .select(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").alias("o_year"),
            amount.alias("amount"),
        )
        .groupBy("nation", "o_year")
        .agg(F.round(F.sum("amount").cast("double"), 2).alias("sum_profit"))
        # bound: 25 nations x order years (a calendar domain)
        .transform(bounded_sort, "nation", F.desc("o_year"))
    )


_Q11_ORACLE = """
WITH partval AS (
  SELECT l.l_partkey, sum(CAST(l.l_extendedprice * l.l_quantity AS DECIMAL(18,4))) AS value
  FROM lineitem l, supplier s, nation n
  WHERE l.l_suppkey = s.s_suppkey AND s.s_nationkey = n.n_nationkey
    AND n.n_name = 'NATION_3'
  GROUP BY l.l_partkey)
SELECT l_partkey, round(CAST(value AS DOUBLE), 2) AS part_value
FROM partval
WHERE value > (SELECT sum(CAST(value AS DECIMAL(18,4))) * 0.005 FROM partval)
ORDER BY part_value DESC, l_partkey
"""


@query("q11_important_stock", oracle=_Q11_ORACLE)
def q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11 shape: scalar subquery over the SAME aggregate (parts whose
    value exceeds a fraction of the total). The per-part aggregate is
    computed once and reused for both the rows and the threshold — the
    grand total joins back as a broadcast scalar, not a driver collect.
    Decimal sums make the > threshold comparison exact on both engines."""
    t = load_tables(spark, sf_dir, ["lineitem", "supplier", "nation"])
    nation_sup = (
        t["supplier"]
        .join(
            F.broadcast(t["nation"].filter(F.col("n_name") == "NATION_3")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select("s_suppkey")
    )
    partval = (
        t["lineitem"]
        .join(_sized(spark, nation_sup), F.col("l_suppkey") == F.col("s_suppkey"), "left_semi")
        .groupBy("l_partkey")
        .agg(
            F.sum((F.col("l_extendedprice") * F.col("l_quantity")).cast("decimal(18,4)"))
            .alias("value")
        )
        # r12-opt: consumed twice (rows + grand-total threshold) with no
        # exchange/stage reuse firing — persist the part-bounded
        # aggregate so the fact semi-join+agg runs once; stage-cache
        # lifecycle releases it per query.
        .transform(stage_cache)
    )
    threshold = partval.agg((F.sum("value") * 0.005).alias("threshold"))
    return (
        partval.join(F.broadcast(threshold))
        .filter(F.col("value") > F.col("threshold"))
        .select(
            "l_partkey",
            F.round(F.col("value").cast("double"), 2).alias("part_value"),
        )
        .orderBy(F.desc("part_value"), "l_partkey")
    )


_Q12_ORACLE = """
SELECT l.l_linestatus,
       CAST(sum(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
       CAST(sum(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
FROM orders o, lineitem l
WHERE o.o_orderkey = l.l_orderkey
  AND l.l_shipdate >= o.o_orderdate + INTERVAL 30 DAY
  AND l.l_shipdate >= TIMESTAMP '1996-01-01'
  AND l.l_shipdate < TIMESTAMP '1997-01-01'
GROUP BY l.l_linestatus
ORDER BY l.l_linestatus
"""


@query("q12_shipping_priority_split", oracle=_Q12_ORACLE)
def q12_shipping_priority_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12 shape: priority-split counts over late shipments
    (l_linestatus stands in for l_shipmode, shipped ≥30 days after order
    stands in for receipt>commit — fixture has only l_shipdate). Pure
    integer counts — trivially deterministic; the join predicate's
    non-equi part (shipdate vs orderdate+30) rides as residual on the
    o_orderkey equi-join, never a BNLJ."""
    t = load_tables(spark, sf_dir, ["orders", "lineitem"])
    l = t["lineitem"].filter(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        l.join(
            t["orders"],
            (F.col("o_orderkey") == F.col("l_orderkey"))
            & (F.col("l_shipdate") >= F.col("o_orderdate") + F.expr("INTERVAL 30 DAY")),
        )
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
        # bound: the 2 line statuses
        .transform(bounded_sort, "l_linestatus")
    )


_Q13_ORACLE = """
SELECT c_count, count(*) AS custdist
FROM (
  SELECT c.c_custkey, count(o.o_orderkey) AS c_count
  FROM customer c LEFT OUTER JOIN orders o
    ON c.c_custkey = o.o_custkey AND o.o_orderpriority <> '1-URGENT'
  GROUP BY c.c_custkey
) c_orders
GROUP BY c_count
ORDER BY custdist DESC, c_count DESC
"""


@query("q13_customer_distribution", oracle=_Q13_ORACLE)
def q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: customers-per-order-count histogram — LEFT OUTER join with
    a predicate ON the join (not WHERE: customers with zero qualifying
    orders must survive with count 0), then a second aggregation over the
    first. count(o_orderkey) counts only matched rows, exactly the outer
    join + COUNT(col) null semantics."""
    t = load_tables(spark, sf_dir, ["customer", "orders"])
    c_orders = (
        t["customer"]
        .join(
            t["orders"].filter(F.col("o_orderpriority") != "1-URGENT"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_outer",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return (
        c_orders.groupBy("c_count")
        .agg(F.count(F.lit(1)).alias("custdist"))
        # bound: the distinct per-customer order counts; orders per
        # customer is a fixed ratio (10 on average), not a scale factor
        .transform(bounded_sort, F.desc("custdist"), F.desc("c_count"))
    )


_Q15_ORACLE = """
WITH revenue AS (
  SELECT l_suppkey AS supplier_no,
         sum(CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(18,6))) AS total_revenue
  FROM lineitem
  WHERE l_shipdate >= TIMESTAMP '1996-01-01'
    AND l_shipdate < TIMESTAMP '1996-04-01'
  GROUP BY l_suppkey)
SELECT s.s_suppkey, s.s_name, round(CAST(r.total_revenue AS DOUBLE), 2) AS total_revenue
FROM supplier s, revenue r
WHERE s.s_suppkey = r.supplier_no
  AND r.total_revenue = (SELECT max(total_revenue) FROM revenue)
ORDER BY s.s_suppkey
"""


@query("q15_top_supplier", oracle=_Q15_ORACLE)
def q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: supplier(s) with the maximum quarterly revenue — a view
    (CTE) consumed twice: once for rows, once for MAX. Both uses read one
    pass: ``max(total_revenue) OVER ()`` stamps the maximum on every row
    of the supplier-keyed revenue aggregate, and a filter keeps the rows
    that equal it, so the lineitem scan runs once without a persist or a
    join back. The empty window gathers the aggregate into one partition,
    which its supplier key bounds, so the final ``orderBy`` finds its
    input in one partition and plans no range exchange. Revenue sums are
    decimal, so the
    = MAX equality is exact (double sums would make "the max row"
    engine-dependent at the last ulp)."""
    from pyspark.sql.window import Window

    t = load_tables(spark, sf_dir, ["supplier", "lineitem"])
    revenue = (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1996-04-01").cast("timestamp"))
        )
        .groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(
            F.sum((F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast("decimal(18,6)"))
            .alias("total_revenue")
        )
    )
    top = revenue.withColumn(
        "max_revenue", F.max("total_revenue").over(Window.partitionBy())
    ).filter(F.col("total_revenue") == F.col("max_revenue"))
    return (
        t["supplier"]
        .join(top, F.col("s_suppkey") == F.col("supplier_no"))
        .select(
            "s_suppkey", "s_name",
            F.round(F.col("total_revenue").cast("double"), 2).alias("total_revenue"),
        )
        .orderBy("s_suppkey")
    )


_Q16_ORACLE = """
SELECT p.p_brand, p.p_type, p.p_size,
       count(DISTINCT l.l_suppkey) AS supplier_cnt
FROM lineitem l, part p
WHERE p.p_partkey = l.l_partkey
  AND p.p_brand <> 'Brand#1' AND p.p_type NOT LIKE 'PROMO%'
  AND p.p_size IN (1, 5, 10, 15, 20)
  AND l.l_suppkey NOT IN (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0)
GROUP BY p.p_brand, p.p_type, p.p_size
ORDER BY supplier_cnt DESC, p.p_brand, p.p_type, p.p_size
"""


@query("q16_supplier_part_counts", oracle=_Q16_ORACLE)
def q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16 shape: COUNT(DISTINCT supplier) per part attribute bucket,
    excluding a supplier denylist via NOT IN (negative-balance suppliers
    stand in for the 'complaints' comment scan). s_suppkey is non-null so
    NOT IN ≡ anti join (the null-aware trap doesn't bite here; the
    null-aware case is covered by pred_not_in_null_aware)."""
    t = load_tables(spark, sf_dir, ["lineitem", "part", "supplier"])
    parts = t["part"].filter(
        (F.col("p_brand") != "Brand#1")
        & ~F.col("p_type").like("PROMO%")
        & F.col("p_size").isin(1, 5, 10, 15, 20)
    )
    bad_sup = t["supplier"].filter(F.col("s_acctbal") < 0).select("s_suppkey")
    return (
        t["lineitem"]
        .join(_sized(spark, parts), F.col("l_partkey") == F.col("p_partkey"))
        .join(_sized(spark, bad_sup), F.col("l_suppkey") == F.col("s_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").alias("supplier_cnt"))
        # bound: brand x type x the 5 listed sizes
        .transform(
            bounded_sort, F.desc("supplier_cnt"), "p_brand", "p_type", "p_size"
        )
    )


_Q20_ORACLE = """
SELECT s.s_name, n.n_name
FROM supplier s, nation n
WHERE s.s_nationkey = n.n_nationkey
  AND n.n_regionkey = 2
  AND s.s_suppkey IN (
    SELECT l.l_suppkey
    FROM lineitem l
    WHERE l.l_partkey IN (SELECT p_partkey FROM part WHERE p_type = 'SMALL')
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1997-01-01'
    GROUP BY l.l_suppkey, l.l_partkey
    HAVING sum(CAST(l.l_quantity AS DECIMAL(18,2))) > 50)
ORDER BY s.s_name
"""


@query("q20_potential_promotion", oracle=_Q20_ORACLE)
def q20_potential_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20 shape: nested INs — suppliers who shipped >50 units of any
    SMALL part this year (the partsupp availability check becomes a
    shipped-quantity aggregate). Both IN levels compile to semi joins;
    the inner part filter is a broadcast semi join BELOW the aggregate so
    the groupBy only sees qualifying lines."""
    t = load_tables(spark, sf_dir, ["supplier", "nation", "lineitem", "part"])
    small_parts = t["part"].filter(F.col("p_type") == "SMALL").select("p_partkey")
    qualifying = (
        t["lineitem"]
        .filter(
            (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-01-01").cast("timestamp"))
        )
        .join(_sized(spark, small_parts), F.col("l_partkey") == F.col("p_partkey"), "left_semi")
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,2)")).alias("qty"))
        .filter(F.col("qty") > 50)
        .select("l_suppkey")
    )
    return (
        t["supplier"]
        .join(
            F.broadcast(t["nation"].filter(F.col("n_regionkey") == 2)),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .join(qualifying, F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .select("s_name", "n_name")
        # bound: at most one row per supplier, a dimension (SF x 10k rows);
        # the narrowed stage is the supplier scan probing the broadcast
        # semi-join build (a shuffled semi join would also put its
        # reduce side in that one task)
        .transform(bounded_sort, "s_name")
    )


_Q21_ORACLE = """
SELECT s.s_name, count(*) AS numwait
FROM supplier s, lineitem l1, orders o
WHERE s.s_suppkey = l1.l_suppkey AND o.o_orderkey = l1.l_orderkey
  AND o.o_orderstatus = 'F'
  AND l1.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
  AND EXISTS (SELECT * FROM lineitem l2
              WHERE l2.l_orderkey = l1.l_orderkey
                AND l2.l_suppkey <> l1.l_suppkey)
  AND NOT EXISTS (SELECT * FROM lineitem l3
                  WHERE l3.l_orderkey = l1.l_orderkey
                    AND l3.l_suppkey <> l1.l_suppkey
                    AND l3.l_shipdate > o.o_orderdate + INTERVAL 60 DAY)
GROUP BY s.s_name
ORDER BY numwait DESC, s.s_name
"""


@query("q21_waiting_suppliers", oracle=_Q21_ORACLE)
def q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21 shape: the EXISTS + NOT EXISTS pair ("some other supplier
    in the order, but no OTHER supplier was late"; late = shipped >60 days
    after order date, fixture-adapted). Single-pass form (r12-opt): the
    r11 build consumed lineitem⋈F-orders TWICE (once under a
    countDistinct/Expand per-order stats aggregate that was broadcast
    back, once as the late-lines probe). Now ONE pass groups that join to
    (orderkey, suppkey) pairs — late_cnt>0 marks a late supplier and
    late_cnt IS the row's EXISTS-filtered multiplicity, so counting pair
    rows / late pairs over a window partitioned by orderkey reproduces
    both countDistincts exactly (pair rows ARE the distinct suppliers of
    the order). One repartition on l_orderkey up front serves the pair
    aggregate AND the window (hash(orderkey) clusters (orderkey,suppkey)
    groups), so the fact data crosses exactly one exchange; numwait =
    SUM(late_cnt) = the late-line count the old form produced.

    Skew assumption: repartitioning BEFORE the pair aggregate ships every
    line un-aggregated (no map-side partial aggregate ahead of the
    exchange). That costs nothing while each (order, supplier) pair has
    few lines, as in TPC-H; a dataset with wide orders (many lines per
    pair) should re-measure it against a partial aggregate first."""
    from pyspark.sql.window import Window

    t = load_tables(spark, sf_dir, ["supplier", "lineitem", "orders"])
    f_orders = t["orders"].filter(F.col("o_orderstatus") == "F")
    late = F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAY")
    pair = (
        t["lineitem"]
        .join(
            f_orders.select("o_orderkey", "o_orderdate"),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .select("l_orderkey", "l_suppkey", late.alias("is_late"))
        .repartition("l_orderkey")
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.sum(F.when(F.col("is_late"), 1).otherwise(0)).alias("late_cnt"))
    )
    w = Window.partitionBy("l_orderkey")
    return (
        pair.select(
            "*",
            F.count(F.lit(1)).over(w).alias("n_suppliers"),
            F.sum(F.when(F.col("late_cnt") > 0, 1).otherwise(0))
            .over(w)
            .alias("n_late_suppliers"),
        )
        .filter(
            (F.col("late_cnt") > 0)
            & (F.col("n_suppliers") >= 2)
            & (F.col("n_late_suppliers") == 1)
        )
        .join(_sized(spark, t["supplier"]), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(F.sum("late_cnt").alias("numwait"))
        # bound: one row per supplier name, a dimension (SF x 10k rows)
        .transform(bounded_sort, F.desc("numwait"), "s_name")
    )


_Q22_ORACLE = """
SELECT c.c_nationkey AS cntrycode,
       count(*) AS numcust,
       round(CAST(sum(CAST(c.c_acctbal AS DECIMAL(18,2))) AS DOUBLE), 2) AS totacctbal
FROM customer c
WHERE c.c_nationkey IN (1, 3, 5, 7, 9, 11, 13)
  AND CAST(c.c_acctbal AS DECIMAL(18,2))
      * (SELECT count(*) FROM customer c2
         WHERE c2.c_acctbal > 0.0
           AND c2.c_nationkey IN (1, 3, 5, 7, 9, 11, 13))
      > (SELECT sum(CAST(c2.c_acctbal AS DECIMAL(18,2))) FROM customer c2
         WHERE c2.c_acctbal > 0.0
           AND c2.c_nationkey IN (1, 3, 5, 7, 9, 11, 13))
  AND NOT EXISTS (SELECT * FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_orderpriority = '1-URGENT')
GROUP BY c.c_nationkey
ORDER BY cntrycode
"""


@query("q22_global_sales_opportunity", oracle=_Q22_ORACLE)
def q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22: rich customers with no orders — an uncorrelated scalar AVG
    threshold (broadcast scalar join, not a driver collect) plus NOT EXISTS
    (anti join on o_custkey; at scale the anti join's build side is the
    filtered customer slice, far smaller than orders). c_nationkey stands
    in for the phone-prefix country code; "no URGENT orders" stands in for
    "no orders" so the result is non-trivial on the dense fixture."""
    t = load_tables(spark, sf_dir, ["customer", "orders"])
    codes = [1, 3, 5, 7, 9, 11, 13]
    in_codes = t["customer"].filter(F.col("c_nationkey").isin(codes))
    # AVG-threshold compare as exact cross-multiplication (bal * n > sum
    # over DECIMAL): a double average is summation-order-dependent, so a
    # customer whose balance sits within ulps of the mean could flip
    # between Spark's partial aggregation and the oracle's sequential sum
    threshold = in_codes.filter(F.col("c_acctbal") > 0.0).agg(
        F.sum(F.col("c_acctbal").cast("decimal(18,2)")).alias("bal_sum"),
        F.count(F.lit(1)).alias("bal_cnt"),
    )
    return (
        in_codes.join(F.broadcast(threshold))
        .filter(
            F.col("c_acctbal").cast("decimal(18,2)") * F.col("bal_cnt")
            > F.col("bal_sum")
        )
        .join(
            t["orders"]
            .filter(F.col("o_orderpriority") == "1-URGENT")
            .select("o_custkey"),
            F.col("c_custkey") == F.col("o_custkey"),
            "left_anti",
        )
        .groupBy(F.col("c_nationkey").alias("cntrycode"))
        .agg(
            F.count(F.lit(1)).alias("numcust"),
            F.round(
                F.sum(F.col("c_acctbal").cast("decimal(18,2)")).cast("double"), 2
            ).alias("totacctbal"),
        )
        # bound: the 7 listed country codes
        .transform(bounded_sort, "cntrycode")
    )
