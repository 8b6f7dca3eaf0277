"""TPC-H-shaped multi-join analytics.

The reference never joins more than two relations at once; a general
engine must chain dimension joins and compute conditional revenue
shares. These queries exercise the multi-way broadcast-join path and
decimal-exact revenue arithmetic (modeled on TPC-H Q5/Q14 shapes, the
standard public benchmarks for this pattern).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from reddit_can_bigdata_spark.operators.common import tables
from reddit_can_bigdata_spark.registry import register

# Exact revenue term: decimal multiply (no float drift), see PERF.md.
_REV_SQL = (
    "CAST(l_extendedprice AS DECIMAL(18,4)) * CAST(1.0 - l_discount AS DECIMAL(9,4))"
)
def _rev() -> F.Column:
    # built lazily: lit() needs an active SparkContext at call time
    return F.col("l_extendedprice").cast("decimal(18,4)") * (
        F.lit(1.0) - F.col("l_discount")
    ).cast("decimal(9,4)")


@register(
    "multiway_region_revenue",
    oracle=f"""
    SELECT r.r_name AS region, n.n_name AS nation,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           CAST(SUM({_REV_SQL}) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    JOIN region r   ON r.r_regionkey = n.n_regionkey
    GROUP BY region, nation
    """,
    tags=("join", "multiway", "agg"),
    bench=True,
)
def multiway_region_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5-shaped: fact table through a 3-level dimension chain
    (supplier → nation → region), revenue per (region, nation).

    Plan: all three dims broadcast (supplier/nation/region are tiny
    relative to lineitem at every scale), so lineitem streams through
    three BroadcastHashJoins inside one codegen stage and shuffles
    only the (region, nation) partial aggregates — the textbook
    star-schema plan at 100 TB.
    """
    t = tables(spark, sf_dir)
    return (
        t["lineitem"]
        .join(t["supplier"], F.col("s_suppkey") == F.col("l_suppkey"))
        .join(t["nation"], F.col("n_nationkey") == F.col("s_nationkey"))
        .join(t["region"], F.col("r_regionkey") == F.col("n_regionkey"))
        .groupBy(F.col("r_name").alias("region"), F.col("n_name").alias("nation"))
        .agg(
            F.count("*").alias("n_items"),
            F.sum(_rev()).cast("double").alias("revenue"),
        )
    )


@register(
    "promo_revenue_share",
    oracle=f"""
    SELECT ROUND(CAST(SUM(CASE WHEN p.p_type = 'PROMO' THEN {_REV_SQL} END) AS DOUBLE)
             / CAST(SUM({_REV_SQL}) AS DOUBLE), 12) AS promo_share,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    """,
    tags=("join", "agg", "conditional"),
)
def promo_revenue_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q14-shaped: conditional revenue share for PROMO parts.
    One broadcast join + one aggregate; both sums are decimal-exact,
    and the double ratio is rounded to 12 decimals because Spark's and
    DuckDB's decimal->double cast can land on adjacent ULPs."""
    t = tables(spark, sf_dir)
    promo = F.sum(F.when(F.col("p_type") == "PROMO", _rev())).cast("double")
    return (
        t["lineitem"]
        .join(t["part"], F.col("p_partkey") == F.col("l_partkey"))
        .agg(
            F.round(promo / F.sum(_rev()).cast("double"), 12).alias("promo_share"),
            F.count("*").alias("n_items"),
        )
    )


# ---------------------------------------------------------------------------
# round 4: the canonical TPC-H query shapes the trimmed schema supports
# ---------------------------------------------------------------------------

_CHARGE_SQL = (
    "CAST(l_extendedprice AS DECIMAL(18,4))"
    " * CAST(1.0 - l_discount AS DECIMAL(9,4))"
    " * CAST(1.0 + l_tax AS DECIMAL(9,4))"
)


def _charge() -> F.Column:
    return (
        F.col("l_extendedprice").cast("decimal(18,4)")
        * (F.lit(1.0) - F.col("l_discount")).cast("decimal(9,4)")
        * (F.lit(1.0) + F.col("l_tax")).cast("decimal(9,4)")
    )


@register(
    "tpch_q1_pricing_summary",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) AS sum_base_price,
           CAST(SUM({_REV_SQL}) AS DOUBLE) AS sum_disc_price,
           ROUND(CAST(SUM({_CHARGE_SQL}) AS DOUBLE), 2) AS sum_charge,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_qty,
           CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_price,
           CAST(SUM(CAST(l_discount AS DECIMAL(18,4))) AS DOUBLE) / COUNT(*) AS avg_disc,
           CAST(COUNT(*) AS BIGINT) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02'
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("tpch", "agg"),
    bench=True,
)
def tpch_q1_pricing_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q1, the canonical scan-heavy pricing summary: eight
    aggregates over filtered lineitem grouped by the 2x2 flag matrix.
    The shipdate predicate pushes to the parquet scan; ONE hash
    aggregate with map-side partials computes every measure; all sums
    accumulate in DECIMAL (exact, order-independent) and averages are
    one double division each — the whole query is a single
    WholeStageCodegen pass, the shape that saturates scan bandwidth
    at 100 TB. sum_charge's triple decimal product lands exactly on
    the 38-precision cap, where Spark's and DuckDB's scale-reduction
    rules can differ by one double ULP — so it alone rounds to cents
    (the promo_share precedent)."""
    li = tables(spark, sf_dir)["lineitem"]
    dq = F.sum(F.col("l_quantity").cast("decimal(18,4)"))
    dp = F.sum(F.col("l_extendedprice").cast("decimal(18,4)"))
    dd = F.sum(F.col("l_discount").cast("decimal(18,4)"))
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            dq.cast("double").alias("sum_qty"),
            dp.cast("double").alias("sum_base_price"),
            F.sum(_rev()).cast("double").alias("sum_disc_price"),
            F.round(F.sum(_charge()).cast("double"), 2).alias("sum_charge"),
            (dq.cast("double") / F.count("*")).alias("avg_qty"),
            (dp.cast("double") / F.count("*")).alias("avg_price"),
            (dd.cast("double") / F.count("*")).alias("avg_disc"),
            F.count("*").cast("bigint").alias("count_order"),
        )
    )


@register(
    "tpch_q3_shipping_priority",
    oracle=f"""
    SELECT l.l_orderkey,
           CAST(SUM({_REV_SQL}) AS DOUBLE) AS revenue,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           o.o_orderpriority
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    WHERE c.c_mktsegment = 'BUILDING'
      AND o.o_orderdate < TIMESTAMP '1998-06-01'
      AND l.l_shipdate > TIMESTAMP '1998-06-01'
    GROUP BY l.l_orderkey, orderdate, o.o_orderpriority
    ORDER BY SUM({_REV_SQL}) DESC, l.l_orderkey
    LIMIT 10
    """,
    tags=("tpch", "join", "topk"),
)
def tpch_q3_shipping_priority(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q3: the 10 highest-revenue unshipped BUILDING-segment
    orders (ordered before the cutoff, shipped after). Customer and
    orders prune via pushed predicates BEFORE joining; the filtered
    customer key set broadcasts; revenue aggregates on the already
    co-partitioned orderkey; ordering happens on the EXACT decimal
    revenue (engine-stable) and only the final 10 rows cast to
    double. (Canonical Q3 returns o_shippriority; this schema carries
    o_orderpriority instead.)"""
    t = tables(spark, sf_dir)
    cust = t["customer"].where(F.col("c_mktsegment") == "BUILDING").select("c_custkey")
    orders = t["orders"].where(
        F.col("o_orderdate") < F.lit("1998-06-01").cast("timestamp")
    )
    li = t["lineitem"].where(
        F.col("l_shipdate") > F.lit("1998-06-01").cast("timestamp")
    )
    return (
        li.join(
            orders.join(cust, F.col("o_custkey") == F.col("c_custkey")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .groupBy(
            "l_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_orderpriority",
        )
        .agg(F.sum(_rev()).alias("rev_exact"))
        .orderBy(F.desc("rev_exact"), F.asc("l_orderkey"))
        .limit(10)
        .select(
            "l_orderkey",
            F.col("rev_exact").cast("double").alias("revenue"),
            "orderdate",
            "o_orderpriority",
        )
    )


@register(
    "tpch_q6_forecast_revenue",
    oracle="""
    SELECT CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))
                    * CAST(l_discount AS DECIMAL(9,4))) AS DOUBLE) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01'
      AND l_shipdate < TIMESTAMP '1998-01-01'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
    tags=("tpch", "filter", "agg"),
)
def tpch_q6_forecast_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q6: pure filter-and-sum — the query where predicate
    pushdown IS the plan. All four predicates reach the parquet scan
    (shipdate range prunes row groups via min/max stats; at 100 TB
    with date-partitioned layout it prunes whole partitions); the
    revenue product accumulates in DECIMAL. No join, no shuffle
    beyond the 1-row final aggregate."""
    li = tables(spark, sf_dir)["lineitem"]
    return (
        li.where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
            & F.col("l_discount").between(0.05, 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.sum(
                F.col("l_extendedprice").cast("decimal(18,4)")
                * F.col("l_discount").cast("decimal(9,4)")
            )
            .cast("double")
            .alias("revenue"),
            F.count("*").cast("bigint").alias("n_items"),
        )
    )


@register(
    "tpch_q10_returned_items",
    oracle=f"""
    SELECT c.c_custkey, c.c_name,
           CAST(SUM({_REV_SQL}) AS DOUBLE) AS revenue,
           n.n_name AS nation
    FROM customer c
    JOIN orders o ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE l.l_returnflag = 'R'
      AND o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-07-01'
    GROUP BY c.c_custkey, c.c_name, nation
    ORDER BY SUM({_REV_SQL}) DESC, c.c_custkey
    LIMIT 20
    """,
    tags=("tpch", "join", "topk"),
)
def tpch_q10_returned_items(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q10: top-20 customers by revenue lost to returned items
    in a quarter. The quarter-filtered orders and the nation dim
    broadcast; lineitem streams through with the returnflag filter
    pushed down; the aggregate shuffles only customer-grain partials.
    Ordering on the exact decimal revenue with custkey tiebreak."""
    t = tables(spark, sf_dir)
    orders = t["orders"].where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-07-01").cast("timestamp"))
    )
    li = t["lineitem"].where(F.col("l_returnflag") == "R")
    return (
        li.join(orders, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .join(t["nation"], F.col("n_nationkey") == F.col("c_nationkey"))
        .groupBy("c_custkey", "c_name", F.col("n_name").alias("nation"))
        .agg(F.sum(_rev()).alias("rev_exact"))
        .orderBy(F.desc("rev_exact"), F.asc("c_custkey"))
        .limit(20)
        .select(
            "c_custkey",
            "c_name",
            F.col("rev_exact").cast("double").alias("revenue"),
            "nation",
        )
    )


Q18_MIN_QTY = 250  # large-volume threshold tuned to the fixture's tail


@register(
    "tpch_q18_large_volume",
    oracle=f"""
    WITH big AS (
      SELECT l_orderkey, SUM(CAST(l_quantity AS DECIMAL(18,4))) AS sq
      FROM lineitem GROUP BY l_orderkey
      HAVING SUM(CAST(l_quantity AS DECIMAL(18,4))) > {Q18_MIN_QTY}
    )
    SELECT c.c_name, c.c_custkey, o.o_orderkey,
           strftime(o.o_orderdate, '%Y-%m-%d') AS orderdate,
           o.o_totalprice, CAST(b.sq AS DOUBLE) AS sum_qty
    FROM big b
    JOIN orders o ON o.o_orderkey = b.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    ORDER BY o.o_totalprice DESC, o.o_orderkey
    LIMIT 20
    """,
    tags=("tpch", "having", "topk"),
)
def tpch_q18_large_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q18: large-volume customers — orders whose total quantity
    exceeds the threshold, with their customer, ranked by order
    value. The HAVING pre-aggregate shrinks lineitem to a tiny
    qualifying-order set BEFORE any join (aggregate-then-join, the
    Q18 textbook plan); that set broadcasts against orders, and the
    orders row count after it is small enough that the customer join
    broadcasts too. Quantity sums are DECIMAL-exact; ordering uses
    stored doubles (no computed-float ordering)."""
    t = tables(spark, sf_dir)
    big = (
        t["lineitem"]
        .groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("sq"))
        .where(F.col("sq") > Q18_MIN_QTY)
    )
    return (
        t["orders"]
        .join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(t["customer"], F.col("o_custkey") == F.col("c_custkey"))
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(20)
        .select(
            "c_name",
            "c_custkey",
            "o_orderkey",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("orderdate"),
            "o_totalprice",
            F.col("sq").cast("double").alias("sum_qty"),
        )
    )


@register(
    "tpch_q7_volume_shipping",
    oracle=f"""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(year(l.l_shipdate) AS INT) AS l_year,
           CAST(SUM({_REV_SQL}) AS DOUBLE) AS revenue
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
    JOIN nation cn  ON cn.n_nationkey = c.c_nationkey
    WHERE ((sn.n_nationkey % 2 = 0 AND cn.n_nationkey % 2 = 1)
        OR (sn.n_nationkey % 2 = 1 AND cn.n_nationkey % 2 = 0))
      AND l.l_shipdate >= TIMESTAMP '1996-01-01'
      AND l.l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY supp_nation, cust_nation, l_year
    """,
    tags=("tpch", "join", "multiway"),
)
def tpch_q7_volume_shipping(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q7 shape: bilateral trade volume by ship year between
    the two halves of the nation space (even vs odd nationkey — the
    fixture's supplier nations are sparse at small SF, so the
    canonical two-named-nations predicate would be vacuous; the
    cross-pair structure is identical). The nation table joins TWICE
    (supplier and customer side); all dims broadcast; lineitem
    streams once with the shipdate range pushed down; the aggregate
    shuffles (nation, nation, year)-grain partials only."""
    t = tables(spark, sf_dir)
    sn = t["nation"].select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = t["nation"].select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    li = t["lineitem"].where(
        (F.col("l_shipdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    pair = ((F.col("sn_key") % 2 == 0) & (F.col("cn_key") % 2 == 1)) | (
        (F.col("sn_key") % 2 == 1) & (F.col("cn_key") % 2 == 0)
    )
    return (
        li.join(t["supplier"], F.col("s_suppkey") == F.col("l_suppkey"))
        .join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .join(t["customer"], F.col("c_custkey") == F.col("o_custkey"))
        .join(sn, F.col("sn_key") == F.col("s_nationkey"))
        .join(cn, F.col("cn_key") == F.col("c_nationkey"))
        .where(pair)
        .groupBy(
            "supp_nation",
            "cust_nation",
            F.year("l_shipdate").cast("int").alias("l_year"),
        )
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
    )


@register(
    "tpch_q8_market_share",
    oracle=f"""
    WITH volumes AS (
      SELECT CAST(year(o.o_orderdate) AS INT) AS o_year,
             {_REV_SQL} AS vol,
             sn.n_name AS supp_nation
      FROM lineitem l
      JOIN part p     ON p.p_partkey = l.l_partkey
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN orders o   ON o.o_orderkey = l.l_orderkey
      JOIN customer c ON c.c_custkey = o.o_custkey
      JOIN nation cn  ON cn.n_nationkey = c.c_nationkey
      JOIN region r   ON r.r_regionkey = cn.n_regionkey
      JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
      WHERE r.r_name = 'ASIA' AND p.p_type = 'ECONOMY'
        AND o.o_orderdate >= TIMESTAMP '1996-01-01'
        AND o.o_orderdate < TIMESTAMP '1998-01-01'
    )
    SELECT o_year,
           round(CAST(SUM(CASE WHEN supp_nation = 'NATION_3' THEN vol END)
                      AS DOUBLE)
                 / CAST(SUM(vol) AS DOUBLE), 12) AS mkt_share,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM volumes GROUP BY o_year
    """,
    tags=("tpch", "join", "share"),
)
def tpch_q8_market_share(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q8: one nation's share of ECONOMY-part revenue sold into
    ASIA customers, by order year. Seven relations, one pass: every
    dimension broadcasts (part is filtered first), lineitem never
    shuffles until the (year)-grain aggregate; both sums are
    decimal-exact and the share is one double division rounded to 12
    (the promo_share ULP rule)."""
    t = tables(spark, sf_dir)
    cn = t["nation"].select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_regionkey").alias("cn_rkey")
    )
    sn = t["nation"].select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    part = t["part"].where(F.col("p_type") == "ECONOMY").select("p_partkey")
    region = t["region"].where(F.col("r_name") == "ASIA").select("r_regionkey")
    orders = t["orders"].where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    vol = (
        t["lineitem"]
        .join(part, F.col("p_partkey") == F.col("l_partkey"))
        .join(t["supplier"], F.col("s_suppkey") == F.col("l_suppkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(t["customer"], F.col("c_custkey") == F.col("o_custkey"))
        .join(cn, F.col("cn_key") == F.col("c_nationkey"))
        .join(region, F.col("r_regionkey") == F.col("cn_rkey"))
        .join(sn, F.col("sn_key") == F.col("s_nationkey"))
        .select(
            F.year("o_orderdate").cast("int").alias("o_year"),
            _rev().alias("vol"),
            "supp_nation",
        )
    )
    nat = F.sum(F.when(F.col("supp_nation") == "NATION_3", F.col("vol"))).cast(
        "double"
    )
    return vol.groupBy("o_year").agg(
        F.round(nat / F.sum("vol").cast("double"), 12).alias("mkt_share"),
        F.count("*").cast("bigint").alias("n_items"),
    )
