"""TPC-H completion: the 14 canonical query shapes not yet in tpch.py.

Q2/Q4/Q5/Q9/Q11/Q12/Q13/Q15/Q16/Q17/Q19/Q20/Q21/Q22, adapted to the
driver's trimmed star schema (no partsupp / l_commitdate /
l_receiptdate / l_shipmode / p_container / c_phone):

- the "supply relation" (Q2/Q16/Q20) derives from lineitem's observed
  (partkey, suppkey) pairs — min stored l_extendedprice stands in for
  ps_supplycost (stored doubles, so equality joins stay exact);
- "late" (Q4/Q12/Q21) means shipped long after o_orderdate instead of
  receiptdate > commitdate;
- Q22's country code is c_custkey % 7 instead of substring(c_phone).

What matters is the operator shapes the canonical suite exercises and
the reference's pandas one-liners never do: correlated scalar
subqueries decorrelated into aggregate+join-back (Q2/Q15/Q17),
EXISTS/NOT EXISTS semi/anti joins (Q4/Q21/Q22), NOT IN anti-join
(Q16), scalar-subquery HAVING (Q11), left-outer + re-aggregation
histogram (Q13), and disjunctive multi-column pushdown (Q19). Every
query keeps the tpch.py conventions: DECIMAL-exact money sums,
broadcast-only dimension joins, filters pushed to the scan, and a
DuckDB oracle written in the canonical correlated style so the parity
check proves the decorrelated Spark plan is semantically identical.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from reddit_can_bigdata_spark.operators.common import materialize, tables
from reddit_can_bigdata_spark.operators.tpch import _REV_SQL, _rev
from reddit_can_bigdata_spark.registry import register


def _supply(t: dict[str, DataFrame]) -> DataFrame:
    """The lineitem-derived supply relation: one row per observed
    (partkey, suppkey) pair, costed at the MIN stored l_extendedprice
    (a stored double, so downstream equality joins are exact). One
    shuffle on the pair key with map-side combine; at 100 TB this is
    the partsupp-sized table Q2/Q16/Q20 then treat as a dimension."""
    return (
        t["lineitem"]
        .groupBy("l_partkey", "l_suppkey")
        .agg(F.min("l_extendedprice").alias("supply_cost"))
    )


_SUPPLY_SQL = (
    "SELECT l_partkey, l_suppkey, MIN(l_extendedprice) AS supply_cost"
    " FROM lineitem GROUP BY l_partkey, l_suppkey"
)


@register(
    "tpch_q2_min_cost_supplier",
    oracle=f"""
    WITH supply AS ({_SUPPLY_SQL}),
    esupp AS (
      SELECT s_suppkey, s_acctbal, s_name, n_name
      FROM supplier s
      JOIN nation n ON n.n_nationkey = s.s_nationkey
      JOIN region r ON r.r_regionkey = n.n_regionkey
      WHERE r.r_name = 'EUROPE'
    )
    SELECT e.s_acctbal, e.s_name, e.n_name AS nation,
           p.p_partkey, sp.supply_cost
    FROM supply sp
    JOIN part p ON p.p_partkey = sp.l_partkey
    JOIN esupp e ON e.s_suppkey = sp.l_suppkey
    WHERE p.p_size = 15 AND p.p_type = 'STANDARD'
      AND sp.supply_cost = (
        SELECT MIN(sp2.supply_cost)
        FROM supply sp2 JOIN esupp e2 ON e2.s_suppkey = sp2.l_suppkey
        WHERE sp2.l_partkey = sp.l_partkey
      )
    """,
    tags=("tpch", "correlated", "join"),
)
def tpch_q2_min_cost_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q2: for each qualifying part, the EUROPE supplier(s)
    offering the minimum supply cost. The oracle states it as a
    correlated scalar subquery; the Spark plan decorrelates it the
    textbook way — aggregate the per-part minimum once, then
    equality-join back on (part, cost). Both the part filter and the
    region filter shrink their sides BEFORE the supply relation joins
    them (broadcast), so the only shuffle is the supply groupBy; the
    min-join-back reuses that partitioning. Ref shape:
    TPC-H spec Q2; reference repo has no correlated-subquery path."""
    t = tables(spark, sf_dir)
    parts = t["part"].where(
        (F.col("p_size") == 15) & (F.col("p_type") == "STANDARD")
    ).select("p_partkey")
    esupp = (
        t["supplier"]
        .join(t["nation"], F.col("n_nationkey") == F.col("s_nationkey"))
        .join(
            t["region"].where(F.col("r_name") == "EUROPE"),
            F.col("r_regionkey") == F.col("n_regionkey"),
        )
        .select("s_suppkey", "s_acctbal", "s_name", F.col("n_name").alias("nation"))
    )
    sc = (
        _supply(t)
        .join(parts, F.col("p_partkey") == F.col("l_partkey"))
        .join(F.broadcast(esupp), F.col("s_suppkey") == F.col("l_suppkey"))
    )
    minc = sc.groupBy(F.col("p_partkey").alias("mk")).agg(
        F.min("supply_cost").alias("min_cost")
    )
    return (
        sc.join(
            F.broadcast(minc),
            (F.col("p_partkey") == F.col("mk"))
            & (F.col("supply_cost") == F.col("min_cost")),
        )
        .select("s_acctbal", "s_name", "nation", "p_partkey", "supply_cost")
    )


@register(
    "tpch_q4_priority_check",
    oracle="""
    SELECT o.o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders o
    WHERE o.o_orderdate >= TIMESTAMP '1997-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-04-01'
      AND EXISTS (
        SELECT 1 FROM lineitem l
        WHERE l.l_orderkey = o.o_orderkey
          AND l.l_shipdate > o.o_orderdate + INTERVAL 60 DAY
      )
    GROUP BY o.o_orderpriority
    """,
    tags=("tpch", "semi-join", "agg"),
)
def tpch_q4_priority_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q4: orders per priority that had at least one late line
    ("late" = shipped >60 days after order date — the trimmed schema
    has no commit/receipt dates). EXISTS compiles to a LEFT SEMI join
    with the lateness predicate inside the join condition, so each
    order emits at most once no matter how many late lines it has and
    no dedup pass is needed. The quarter filter pushes to the orders
    scan; the semi join shuffles both sides on orderkey once."""
    t = tables(spark, sf_dir)
    orders = t["orders"].where(
        (F.col("o_orderdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-04-01").cast("timestamp"))
    )
    return (
        orders.join(
            t["lineitem"],
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (F.col("l_shipdate") > F.col("o_orderdate") + F.expr("INTERVAL 60 DAYS")),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").cast("bigint").alias("order_count"))
    )


@register(
    "tpch_q5_local_supplier_volume",
    oracle=f"""
    SELECT n.n_name AS nation, CAST(SUM({_REV_SQL}) AS DOUBLE) AS revenue
    FROM customer c
    JOIN orders o   ON o.o_custkey = c.c_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
                   AND s.s_nationkey = c.c_nationkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    JOIN region r   ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'ASIA'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01'
      AND o.o_orderdate < TIMESTAMP '1997-01-01'
    GROUP BY nation
    """,
    tags=("tpch", "join", "multiway"),
    bench=True,
)
def tpch_q5_local_supplier_volume(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q5: revenue by supplier nation for ASIA-local commerce —
    the defining twist is the non-FK equality s_nationkey =
    c_nationkey, which makes the supplier join a two-column condition
    rather than a star lookup. Plan: year-filtered orders join
    broadcast customers first (attaching c_nationkey), lineitem joins
    that on orderkey (the one big shuffle), then supplier/nation/
    region broadcast with the locality predicate evaluated inside the
    broadcast join. At 100 TB only lineitem and orders shuffle, on
    the same orderkey."""
    t = tables(spark, sf_dir)
    orders = t["orders"].where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-01-01").cast("timestamp"))
    ).select("o_orderkey", "o_custkey")
    cust = t["customer"].select("c_custkey", "c_nationkey")
    return (
        t["lineitem"]
        .join(
            orders.join(cust, F.col("o_custkey") == F.col("c_custkey")),
            F.col("l_orderkey") == F.col("o_orderkey"),
        )
        .join(
            t["supplier"],
            (F.col("s_suppkey") == F.col("l_suppkey"))
            & (F.col("s_nationkey") == F.col("c_nationkey")),
        )
        .join(t["nation"], F.col("n_nationkey") == F.col("s_nationkey"))
        .join(
            t["region"].where(F.col("r_name") == "ASIA"),
            F.col("r_regionkey") == F.col("n_regionkey"),
        )
        .groupBy(F.col("n_name").alias("nation"))
        .agg(F.sum(_rev()).cast("double").alias("revenue"))
    )


# Q9's cost term: qty (integer-valued double) and retailprice (2dp)
# are exactly representable in small decimals, so the whole profit
# expression is exact on both engines with no ULP rounding needed.
_PROFIT_SQL = (
    f"{_REV_SQL} - CAST(l_quantity AS DECIMAL(9,0))"
    " * CAST(p_retailprice AS DECIMAL(12,2)) * CAST(0.5 AS DECIMAL(2,1))"
)


def _profit() -> F.Column:
    return _rev() - (
        F.col("l_quantity").cast("decimal(9,0)")
        * F.col("p_retailprice").cast("decimal(12,2)")
        * F.lit(0.5).cast("decimal(2,1)")
    )


@register(
    "tpch_q9_product_type_profit",
    oracle=f"""
    SELECT n.n_name AS nation,
           CAST(year(o.o_orderdate) AS INT) AS o_year,
           ROUND(CAST(SUM({_PROFIT_SQL}) AS DOUBLE), 2) AS sum_profit
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN nation n   ON n.n_nationkey = s.s_nationkey
    WHERE p.p_name LIKE '%gear%'
    GROUP BY nation, o_year
    """,
    tags=("tpch", "join", "agg"),
)
def tpch_q9_product_type_profit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q9: profit on 'gear' parts by supplier nation and order
    year; cost = qty * half retail price stands in for ps_supplycost.
    The LIKE filter shrinks part first and broadcasts it, so lineitem
    is pre-filtered by the join before touching orders; every money
    term stays in exactly-representable decimals (qty is an integer,
    retailprice has 2dp) so the profit sum is bit-identical across
    engines and partition orders.  Orders is a FACT table (same
    cardinality class as lineitem) so it shuffle-joins on orderkey —
    only the dimensions (filtered part, supplier, nation) broadcast."""
    t = tables(spark, sf_dir)
    parts = t["part"].where(F.col("p_name").like("%gear%")).select(
        "p_partkey", "p_retailprice"
    )
    orders = t["orders"].select("o_orderkey", "o_orderdate")
    return (
        t["lineitem"]
        .join(parts, F.col("p_partkey") == F.col("l_partkey"))
        .join(t["supplier"], F.col("s_suppkey") == F.col("l_suppkey"))
        .join(orders, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(t["nation"], F.col("n_nationkey") == F.col("s_nationkey"))
        .groupBy(
            F.col("n_name").alias("nation"),
            F.year("o_orderdate").cast("int").alias("o_year"),
        )
        .agg(F.round(F.sum(_profit()).cast("double"), 2).alias("sum_profit"))
    )


@register(
    "tpch_q11_important_stock",
    oracle=f"""
    WITH val AS (
      SELECT l.l_partkey, SUM({_REV_SQL}) AS value_dec
      FROM lineitem l
      JOIN supplier s ON s.s_suppkey = l.l_suppkey
      JOIN nation n   ON n.n_nationkey = s.s_nationkey
      JOIN region r   ON r.r_regionkey = n.n_regionkey
      WHERE r.r_name = 'AFRICA'
      GROUP BY l.l_partkey
    )
    SELECT l_partkey AS partkey, CAST(value_dec AS DOUBLE) AS value
    FROM val
    WHERE CAST(value_dec AS DOUBLE) >
          (SELECT CAST(SUM(value_dec) AS DOUBLE) * 0.0008 FROM val)
    """,
    tags=("tpch", "scalar-subquery", "having"),
)
def tpch_q11_important_stock(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q11: parts whose AFRICA-supplied revenue exceeds a fixed
    fraction of the total — the scalar-subquery-in-HAVING shape. The
    per-part value aggregates once (decimal-exact) and the global
    threshold is a 1-row aggregate OF THAT RESULT, broadcast back as
    a cross join — the value table is never recomputed and never
    reshuffled for the comparison. The threshold comparison happens
    in double identically on both engines (one cast, one multiply)."""
    t = tables(spark, sf_dir)
    afr = (
        t["supplier"]
        .join(t["nation"], F.col("n_nationkey") == F.col("s_nationkey"))
        .join(
            t["region"].where(F.col("r_name") == "AFRICA"),
            F.col("r_regionkey") == F.col("n_regionkey"),
        )
        .select("s_suppkey")
    )
    # two consumers: threshold + filter
    val = materialize(
        t["lineitem"]
        .join(afr, F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("l_partkey")
        .agg(F.sum(_rev()).alias("value_dec")),
        eager=False,
    )
    thr = val.agg(
        (F.sum("value_dec").cast("double") * F.lit(0.0008)).alias("thr")
    )
    return (
        val.crossJoin(thr)
        .where(F.col("value_dec").cast("double") > F.col("thr"))
        .select(
            F.col("l_partkey").alias("partkey"),
            F.col("value_dec").cast("double").alias("value"),
        )
    )


@register(
    "tpch_q12_shipping_delay_classes",
    oracle="""
    SELECT CASE WHEN datediff('day', o.o_orderdate, l.l_shipdate) <= 30 THEN 'FAST'
                WHEN datediff('day', o.o_orderdate, l.l_shipdate) <= 90 THEN 'MEDIUM'
                ELSE 'SLOW' END AS delay_class,
           CAST(SUM(CASE WHEN o.o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o.o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
    WHERE l.l_shipdate >= TIMESTAMP '1997-01-01'
      AND l.l_shipdate < TIMESTAMP '1998-01-01'
    GROUP BY delay_class
    """,
    tags=("tpch", "conditional", "agg"),
)
def tpch_q12_shipping_delay_classes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q12: priority mix per shipping-delay class (the trimmed
    schema has no shipmode, so the class derives from the
    orderdate→shipdate gap). One orderkey shuffle join, then a
    3-group conditional aggregate; both CASE counts compute in the
    same pass (no second scan per priority class). The year filter
    pushes to the lineitem scan."""
    t = tables(spark, sf_dir)
    li = t["lineitem"].where(
        (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    delay = F.datediff(F.col("l_shipdate"), F.col("o_orderdate"))
    cls = (
        F.when(delay <= 30, "FAST").when(delay <= 90, "MEDIUM").otherwise("SLOW")
    )
    hi = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(t["orders"], F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy(cls.alias("delay_class"))
        .agg(
            F.sum(F.when(hi, 1).otherwise(0)).cast("bigint").alias("high_line_count"),
            F.sum(F.when(~hi, 1).otherwise(0)).cast("bigint").alias("low_line_count"),
        )
    )


@register(
    "tpch_q13_customer_distribution",
    oracle="""
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (
      SELECT c.c_custkey,
             CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
      FROM customer c
      LEFT JOIN orders o ON o.o_custkey = c.c_custkey
                        AND o.o_orderpriority <> '4-NOT SPECIFIED'
      GROUP BY c.c_custkey
    )
    GROUP BY c_count
    """,
    tags=("tpch", "outer-join", "histogram"),
    bench=True,
)
def tpch_q13_customer_distribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q13: the distribution of orders-per-customer, with the
    filter inside the LEFT OUTER join condition so order-less
    customers still count at c_count=0 (the part a naive WHERE gets
    wrong — it would silently drop them). Two aggregations: per
    customer (shuffles on custkey, the same key the join just used,
    so AQE coalesces them), then the tiny histogram re-aggregation."""
    t = tables(spark, sf_dir)
    orders = t["orders"].where(
        F.col("o_orderpriority") != "4-NOT SPECIFIED"
    ).select("o_custkey", "o_orderkey")
    per_cust = (
        t["customer"]
        .select("c_custkey")
        .join(orders, F.col("o_custkey") == F.col("c_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").cast("bigint").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count("*").cast("bigint").alias("custdist")
    )


@register(
    "tpch_q15_top_supplier",
    oracle=f"""
    WITH rev AS (
      SELECT l_suppkey, SUM({_REV_SQL}) AS total_dec
      FROM lineitem
      WHERE l_shipdate >= TIMESTAMP '1997-01-01'
        AND l_shipdate < TIMESTAMP '1997-04-01'
      GROUP BY l_suppkey
    )
    SELECT s.s_suppkey, s.s_name, CAST(r.total_dec AS DOUBLE) AS total_revenue
    FROM rev r JOIN supplier s ON s.s_suppkey = r.l_suppkey
    WHERE r.total_dec = (SELECT MAX(total_dec) FROM rev)
    """,
    tags=("tpch", "scalar-subquery", "argmax"),
)
def tpch_q15_top_supplier(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q15: the supplier(s) with maximum quarterly revenue —
    the view + scalar MAX subquery shape. Revenue per supplier
    aggregates once in exact decimal; the 1-row MAX of that result
    broadcasts back for an exact equality (ties surface as multiple
    rows, as the spec requires — no ORDER BY/LIMIT argmax that would
    drop them). Decimal equality is safe precisely because the sum
    is decimal; a double sum here could miss the max by one ULP."""
    t = tables(spark, sf_dir)
    # consumed by MAX and the filter
    rev = materialize(
        t["lineitem"]
        .where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1997-04-01").cast("timestamp"))
        )
        .groupBy("l_suppkey")
        .agg(F.sum(_rev()).alias("total_dec")),
        eager=False,
    )
    mx = rev.agg(F.max("total_dec").alias("max_dec"))
    return (
        rev.crossJoin(mx)
        .where(F.col("total_dec") == F.col("max_dec"))
        .join(t["supplier"], F.col("s_suppkey") == F.col("l_suppkey"))
        .select(
            "s_suppkey", "s_name", F.col("total_dec").cast("double").alias("total_revenue")
        )
    )


@register(
    "tpch_q16_supplier_part_counts",
    oracle=f"""
    WITH supply AS ({_SUPPLY_SQL})
    SELECT p.p_brand, p.p_type, p.p_size,
           CAST(COUNT(DISTINCT sp.l_suppkey) AS BIGINT) AS supplier_cnt
    FROM supply sp
    JOIN part p ON p.p_partkey = sp.l_partkey
    WHERE p.p_brand <> 'Brand#4'
      AND p.p_size IN (1, 5, 10, 15, 20, 25, 30, 35)
      AND sp.l_suppkey NOT IN
          (SELECT s_suppkey FROM supplier WHERE s_acctbal < 0.0)
    GROUP BY p.p_brand, p.p_type, p.p_size
    """,
    tags=("tpch", "anti-join", "distinct"),
)
def tpch_q16_supplier_part_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q16: distinct suppliers per (brand, type, size), with
    the NOT IN complaint list (negative-balance suppliers stand in
    for the comment filter) compiled to a LEFT ANTI broadcast join —
    the excluded set is supplier-sized, so the anti join is free and
    never shuffles the supply relation. COUNT(DISTINCT) expands to
    the standard two-phase aggregate; the part filters broadcast."""
    t = tables(spark, sf_dir)
    parts = t["part"].where(
        (F.col("p_brand") != "Brand#4")
        & F.col("p_size").isin(1, 5, 10, 15, 20, 25, 30, 35)
    ).select("p_partkey", "p_brand", "p_type", "p_size")
    bad = t["supplier"].where(F.col("s_acctbal") < 0.0).select("s_suppkey")
    return (
        _supply(t)
        .join(parts, F.col("p_partkey") == F.col("l_partkey"))
        .join(bad, F.col("s_suppkey") == F.col("l_suppkey"), "left_anti")
        .groupBy("p_brand", "p_type", "p_size")
        .agg(F.countDistinct("l_suppkey").cast("bigint").alias("supplier_cnt"))
    )


@register(
    "tpch_q17_small_quantity_revenue",
    oracle="""
    SELECT ROUND(CAST(SUM(CAST(l.l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
                 / 7.0, 6) AS avg_yearly,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE p.p_brand = 'Brand#4' AND p.p_type = 'PROMO'
      AND l.l_quantity < (
        SELECT 0.2 * AVG(l2.l_quantity) FROM lineitem l2
        WHERE l2.l_partkey = l.l_partkey
      )
    """,
    tags=("tpch", "correlated", "agg"),
    bench=True,
)
def tpch_q17_small_quantity_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q17: revenue that would vanish if sub-20%-of-average
    orders were refused. The correlated per-part AVG decorrelates to
    one aggregate over lineitem SEMI-FILTERED to the qualifying parts
    first (the subquery only correlates on partkey, so restricting to
    those parts is lossless and skips 99% of the corpus), joined
    back on partkey. Quantities are integer-valued doubles, so the
    average is bit-identical on both engines regardless of partition
    order. The /7.0 scaling matches the spec's annualization."""
    t = tables(spark, sf_dir)
    parts = t["part"].where(
        (F.col("p_brand") == "Brand#4") & (F.col("p_type") == "PROMO")
    ).select("p_partkey")
    li = t["lineitem"].join(parts, F.col("p_partkey") == F.col("l_partkey"))
    avg_qty = li.groupBy(F.col("l_partkey").alias("ak")).agg(
        F.avg("l_quantity").alias("avg_qty")
    )
    return (
        li.join(F.broadcast(avg_qty), F.col("ak") == F.col("l_partkey"))
        .where(F.col("l_quantity") < F.lit(0.2) * F.col("avg_qty"))
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).cast("double")
                / F.lit(7.0),
                6,
            ).alias("avg_yearly"),
            F.count("*").cast("bigint").alias("n_items"),
        )
    )


@register(
    "tpch_q19_disjunctive_revenue",
    oracle=f"""
    SELECT CAST(SUM({_REV_SQL}) AS DOUBLE) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#4' AND p.p_size BETWEEN 1 AND 15
           AND l.l_quantity BETWEEN 1 AND 11)
       OR (p.p_brand = 'Brand#2' AND p.p_size BETWEEN 1 AND 25
           AND l.l_quantity BETWEEN 10 AND 20)
       OR (p.p_brand = 'Brand#19' AND p.p_size BETWEEN 1 AND 50
           AND l.l_quantity BETWEEN 20 AND 30)
    """,
    tags=("tpch", "disjunction", "agg"),
)
def tpch_q19_disjunctive_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q19: revenue under an OR of three brand/size/quantity
    conjunctions — the disjunctive-pushdown stress test. The
    part-only disjuncts (brand IN, size ≤ max) factor out and shrink
    the broadcast side before the join; the mixed part×lineitem
    disjunction evaluates inside the broadcast join, and the
    lineitem-only envelope (quantity between the global min and max
    of the three ranges) pushes to the lineitem scan. One scan, one
    broadcast, one 1-row aggregate."""
    t = tables(spark, sf_dir)
    parts = t["part"].where(
        F.col("p_brand").isin("Brand#4", "Brand#2", "Brand#19")
        & (F.col("p_size") >= 1)
    ).select("p_partkey", "p_brand", "p_size")
    cond = (
        (
            (F.col("p_brand") == "Brand#4")
            & F.col("p_size").between(1, 15)
            & F.col("l_quantity").between(1, 11)
        )
        | (
            (F.col("p_brand") == "Brand#2")
            & F.col("p_size").between(1, 25)
            & F.col("l_quantity").between(10, 20)
        )
        | (
            (F.col("p_brand") == "Brand#19")
            & F.col("p_size").between(1, 50)
            & F.col("l_quantity").between(20, 30)
        )
    )
    return (
        t["lineitem"]
        .where(F.col("l_quantity").between(1, 30))  # envelope of the 3 ranges
        .join(parts, F.col("p_partkey") == F.col("l_partkey"))
        .where(cond)
        .agg(
            F.sum(_rev()).cast("double").alias("revenue"),
            F.count("*").cast("bigint").alias("n_items"),
        )
    )


Q20_MIN_QTY = 40  # shipped-quantity threshold tuned to the fixture


@register(
    "tpch_q20_potential_promotion",
    oracle=f"""
    SELECT s.s_name, n.n_name AS nation
    FROM supplier s
    JOIN nation n ON n.n_nationkey = s.s_nationkey
    JOIN region r ON r.r_regionkey = n.n_regionkey
    WHERE r.r_name = 'EUROPE'
      AND s.s_suppkey IN (
        SELECT l.l_suppkey
        FROM lineitem l JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_name LIKE '%gear%'
          AND l.l_shipdate >= TIMESTAMP '1997-01-01'
          AND l.l_shipdate < TIMESTAMP '1998-01-01'
        GROUP BY l.l_suppkey, l.l_partkey
        HAVING SUM(CAST(l.l_quantity AS DECIMAL(18,4))) > {Q20_MIN_QTY}
      )
    """,
    tags=("tpch", "semi-join", "having"),
)
def tpch_q20_potential_promotion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q20: EUROPE suppliers who moved a large volume of 'gear'
    parts in 1997 — the nested IN-subquery-with-HAVING shape. The
    inner query aggregates lineitem (pre-filtered by the broadcast
    part list and the pushed shipdate range) per (supplier, part) and
    keeps high-volume pairs; its distinct supplier set then drives a
    LEFT SEMI join against the region-filtered supplier table. The
    qualifying-supplier set is supplier-bounded, so the semi join
    broadcasts; lineitem shuffles once on the (supp, part) grain."""
    t = tables(spark, sf_dir)
    parts = t["part"].where(F.col("p_name").like("%gear%")).select("p_partkey")
    qual = (
        t["lineitem"]
        .where(
            (F.col("l_shipdate") >= F.lit("1997-01-01").cast("timestamp"))
            & (F.col("l_shipdate") < F.lit("1998-01-01").cast("timestamp"))
        )
        .join(parts, F.col("p_partkey") == F.col("l_partkey"))
        .groupBy("l_suppkey", "l_partkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("sq"))
        .where(F.col("sq") > Q20_MIN_QTY)
        .select("l_suppkey")
        .distinct()
    )
    return (
        t["supplier"]
        .join(F.broadcast(qual), F.col("l_suppkey") == F.col("s_suppkey"), "left_semi")
        .join(t["nation"], F.col("n_nationkey") == F.col("s_nationkey"))
        .join(
            t["region"].where(F.col("r_name") == "EUROPE"),
            F.col("r_regionkey") == F.col("n_regionkey"),
        )
        .select("s_name", F.col("n_name").alias("nation"))
    )


@register(
    "tpch_q21_waiting_suppliers",
    oracle="""
    WITH ls AS (
      SELECT l.l_orderkey, l.l_suppkey, MAX(l.l_shipdate) AS smax
      FROM lineitem l JOIN orders o ON o.o_orderkey = l.l_orderkey
      WHERE o.o_orderstatus = 'F' AND l.l_shipdate IS NOT NULL
      GROUP BY l.l_orderkey, l.l_suppkey
    )
    SELECT s.s_name, CAST(COUNT(*) AS BIGINT) AS numwait
    FROM ls l1 JOIN supplier s ON s.s_suppkey = l1.l_suppkey
    WHERE EXISTS (
        SELECT 1 FROM ls l2
        WHERE l2.l_orderkey = l1.l_orderkey AND l2.l_suppkey <> l1.l_suppkey
      )
      AND NOT EXISTS (
        SELECT 1 FROM ls l3
        WHERE l3.l_orderkey = l1.l_orderkey AND l3.l_suppkey <> l1.l_suppkey
          AND l3.smax >= l1.smax
      )
    GROUP BY s.s_name
    ORDER BY numwait DESC, s.s_name NULLS LAST
    LIMIT 20
    """,
    tags=("tpch", "exists", "self-join"),
    bench=True,
)
def tpch_q21_waiting_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q21: suppliers who kept multi-supplier orders waiting —
    the EXISTS + NOT EXISTS double self-join. Adapted lateness: in a
    finished ('F') order, the blamed supplier is the one whose last
    shipment is STRICTLY latest among ≥2 suppliers. The oracle states
    it with two correlated self-joins; the Spark plan replaces both
    with ONE window pass over the (order, supplier) aggregate —
    count(*) over the order partition proves another supplier exists,
    and rank-by-latest==1 with a strict-max check (max == smax and
    only one row at max) proves the NOT EXISTS — turning two
    shuffle-joins into a single sort within the already-shuffled
    partition. At 100 TB the (order, supplier) table is the small
    derivative, not lineitem."""
    t = tables(spark, sf_dir)
    fo = t["orders"].where(F.col("o_orderstatus") == "F").select("o_orderkey")
    # NULL ship dates carry no lateness evidence: without the filter an
    # all-NULL (order, supplier) group diverges across engines — the
    # oracle's NOT EXISTS sees no later shipment (3VL NULL) and blames
    # it, the window's NULL-unsafe smax == omax never does
    ls = (
        t["lineitem"]
        .where(F.col("l_shipdate").isNotNull())
        .join(fo, F.col("o_orderkey") == F.col("l_orderkey"), "left_semi")
        .groupBy("l_orderkey", "l_suppkey")
        .agg(F.max("l_shipdate").alias("smax"))
    )
    w = Window.partitionBy("l_orderkey")
    annotated = ls.select(
        "l_suppkey",
        F.count("*").over(w).alias("n_supp"),
        F.max("smax").over(w).alias("omax"),
        F.sum(F.when(F.col("smax") == F.max("smax").over(w), 1).otherwise(0))
        .over(w)
        .alias("n_at_max"),
        "smax",
    )
    blamed = annotated.where(
        (F.col("n_supp") > 1)
        & (F.col("smax") == F.col("omax"))
        & (F.col("n_at_max") == 1)
    )
    return (
        blamed.join(t["supplier"], F.col("s_suppkey") == F.col("l_suppkey"))
        .groupBy("s_name")
        .agg(F.count("*").cast("bigint").alias("numwait"))
        # asc_nulls_last: Spark's ASC default is NULLS FIRST, DuckDB's
        # is NULLS LAST — at the LIMIT boundary that selects different
        # rows, so the tiebreak is pinned explicitly on both sides
        .orderBy(F.desc("numwait"), F.asc_nulls_last("s_name"))
        .limit(20)
    )


@register(
    "tpch_q22_global_sales_opportunity",
    oracle="""
    SELECT CAST(c.c_custkey % 7 AS INT) AS cntrycode,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           CAST(SUM(CAST(c.c_acctbal AS DECIMAL(18,4))) AS DOUBLE) AS totacctbal
    FROM customer c
    WHERE c.c_custkey % 7 IN (1, 2, 3, 4, 5)
      AND c.c_acctbal > (
        SELECT CAST(SUM(CAST(c2.c_acctbal AS DECIMAL(18,4))) AS DOUBLE)
               / COUNT(*)
        FROM customer c2
        WHERE c2.c_acctbal > 0.0 AND c2.c_custkey % 7 IN (1, 2, 3, 4, 5)
      )
      AND NOT EXISTS (
        SELECT 1 FROM orders o
        WHERE o.o_custkey = c.c_custkey
          AND o.o_orderdate >= TIMESTAMP '1999-01-01'
      )
    GROUP BY cntrycode
    """,
    tags=("tpch", "anti-join", "scalar-subquery"),
)
def tpch_q22_global_sales_opportunity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """TPC-H Q22: wealthy customers who never ordered, grouped by
    "country code" (custkey % 7 stands in for the phone prefix; "never
    ordered" means no order since 1999 — the spec's 7-year dormancy
    window — because the fixture gives every customer SOME order). Three
    canonical pieces: a scalar AVG subquery (computed decimal-exact —
    a double sum's partition-order ULP could flip a boundary customer
    between engines), a NOT EXISTS anti-join against orders (LEFT
    ANTI on custkey; at 100 TB the orders side projects to just
    o_custkey before shuffling), and the final rollup. The code
    filter evaluates on customer only, so the anti join's left side
    is already small."""
    t = tables(spark, sf_dir)
    cc = (F.col("c_custkey") % 7).cast("int")
    cust = t["customer"].where(cc.isin(1, 2, 3, 4, 5))
    avg_bal = cust.where(F.col("c_acctbal") > 0.0).agg(
        (
            F.sum(F.col("c_acctbal").cast("decimal(18,4)")).cast("double")
            / F.count("*")
        ).alias("avg_bal")
    )
    return (
        cust.crossJoin(avg_bal)
        .where(F.col("c_acctbal") > F.col("avg_bal"))
        .join(
            t["orders"]
            .where(F.col("o_orderdate") >= F.lit("1999-01-01").cast("timestamp"))
            .select("o_custkey"),
            F.col("o_custkey") == F.col("c_custkey"),
            "left_anti",
        )
        .groupBy(cc.alias("cntrycode"))
        .agg(
            F.count("*").cast("bigint").alias("numcust"),
            F.sum(F.col("c_acctbal").cast("decimal(18,4)"))
            .cast("double")
            .alias("totacctbal"),
        )
    )
