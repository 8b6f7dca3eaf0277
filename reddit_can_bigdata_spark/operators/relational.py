"""Relational operator inventory (SURVEY.md §2.2-2.6) as named queries.

Each query re-expresses one reference operator over the driver's
TPC-H-ish testdata tables, Spark-first: declarative DataFrame plans so
Catalyst gets predicate pushdown / column pruning / join selection,
with an exact DuckDB oracle registered alongside.

Scale notes (100 TB stance) are in each docstring: what shuffles, what
broadcasts, and why the plan survives 1000 executors.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from reddit_can_bigdata_spark.functions.text import CLEAN_TEXT_SQL
from reddit_can_bigdata_spark.operators.common import DAVG_SQL, DSUM_SQL, davg, dsum, tables
from reddit_can_bigdata_spark.registry import register

# ---------------------------------------------------------------------------
# Scans / projections / filters (S8-S11, P1-P12)
# ---------------------------------------------------------------------------


@register(
    "s10_projected_scan",
    oracle="""
    SELECT c_custkey, c_name, c_mktsegment
    FROM customer WHERE c_acctbal > 1000.0
    """,
    tags=("scan", "projection", "filter"),
)
def s10_projected_scan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S10/P1: projected + filtered scan.

    Reference: Mongo projected scan `network-analysis/network_analysis.py:55`
    and `df.select(...)` `spark-ml-sentiment/spark_ml_sentiment.py:80`.
    The filter and the 3-column projection both reach the parquet
    reader (PushedFilters / ReadSchema), so at 100 TB this scans only
    the needed column chunks and skips row groups via min/max stats.
    """
    t = tables(spark, sf_dir)
    return t["customer"].where(F.col("c_acctbal") > 1000.0).select(
        "c_custkey", "c_name", "c_mktsegment"
    )


@register(
    "p5_keyword_filter",
    oracle="""
    SELECT doc_id, lang, n_chars
    FROM documents
    WHERE regexp_matches(lower(text), 'spark|stream|shuffle')
    """,
    tags=("filter", "text"),
)
def p5_keyword_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5: OR-of-keywords containment as ONE compiled regex.

    Reference loops 40+ Python ``in`` checks per row
    (`scraper/kafka_producer.py:264-275`); a single ``rlike`` with an
    alternation keeps the whole predicate inside one codegen stage —
    the rewrite SURVEY §4.2 calls out as the scale win for this op.
    """
    t = tables(spark, sf_dir)
    return t["documents"].where(
        F.lower(F.col("text")).rlike("spark|stream|shuffle")
    ).select("doc_id", "lang", "n_chars")


@register(
    "p6_exclusion_filter",
    oracle="""
    SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events
    WHERE event_type NOT IN ('error', 'bot')
    GROUP BY user_id
    """,
    tags=("filter", "agg"),
)
def p6_exclusion_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6: small NOT-IN exclusion list (deleted/AutoModerator analog,
    `network-analysis/network_analysis.py:59,68`) then count per user.
    A literal NOT IN folds to a simple predicate — no join, pushed to
    the scan."""
    t = tables(spark, sf_dir)
    return (
        t["events"]
        .where(~F.col("event_type").isin("error", "bot"))
        .groupBy("user_id")
        .agg(F.count("*").alias("n_events"))
    )


@register(
    "p7_p8_interactive_filter",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders
    WHERE o_orderstatus = 'F' AND o_totalprice >= 150000.0
    """,
    tags=("filter",),
)
def p7_p8_interactive_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7+P8: equality + range selection (dashboard interactive block,
    `dashboard/dashboard.py:790-794`). Both predicates push to parquet
    row-group pruning."""
    t = tables(spark, sf_dir)
    return (
        t["orders"]
        .where((F.col("o_orderstatus") == "F") & (F.col("o_totalprice") >= 150000.0))
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )


@register(
    "p10_divergence_filter",
    oracle="""
    SELECT l_returnflag, l_linestatus, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM lineitem
    WHERE l_returnflag <> l_linestatus
    GROUP BY l_returnflag, l_linestatus
    """,
    tags=("filter", "agg"),
)
def p10_divergence_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P10: column-vs-column inequality (vader_label != ml_prediction,
    `spark-ml-sentiment/spark_ml_sentiment.py:424`), aggregated."""
    t = tables(spark, sf_dir)
    return (
        t["lineitem"]
        .where(F.col("l_returnflag") != F.col("l_linestatus"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.count("*").alias("cnt"))
    )


@register(
    "p11_coalesce_fallback",
    oracle="""
    SELECT coalesce(nullif(l_returnflag, 'N'), l_linestatus) AS flag,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM lineitem GROUP BY flag
    """,
    tags=("projection",),
)
def p11_coalesce_fallback(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P11: null-safe fallback projection (`row.get('post_id') or
    row.get('id')`, `dashboard/dashboard.py:744`) as coalesce."""
    t = tables(spark, sf_dir)
    return (
        t["lineitem"]
        .select(
            F.coalesce(
                F.nullif(F.col("l_returnflag"), F.lit("N")), F.col("l_linestatus")
            ).alias("flag")
        )
        .groupBy("flag")
        .agg(F.count("*").alias("cnt"))
    )


@register(
    "p12_date_range_filter",
    oracle="""
    SELECT strftime(o_orderdate, '%Y-%m') AS order_month,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1994-01-01'
      AND o_orderdate <  TIMESTAMP '1995-01-01'
    GROUP BY order_month
    """,
    tags=("filter", "date"),
)
def p12_date_range_filter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P12: date-range predicate (7-day cleanup cutoff,
    `airflow/dags/reddit_can_complete_pipeline.py:250-254` — which
    compares ISO *strings*; we use real timestamp comparison, the §1.3
    canonicalization). Range predicate on the partition-ish column is
    exactly what partition pruning eats at 100 TB."""
    t = tables(spark, sf_dir)
    return (
        t["orders"]
        .where(
            (F.col("o_orderdate") >= F.lit("1994-01-01").cast("timestamp_ntz"))
            & (F.col("o_orderdate") < F.lit("1995-01-01").cast("timestamp_ntz"))
        )
        .groupBy(F.date_format("o_orderdate", "yyyy-MM").alias("order_month"))
        .agg(F.count("*").alias("cnt"))
    )


# ---------------------------------------------------------------------------
# Joins (J1-J4 + semi/anti)
# ---------------------------------------------------------------------------


@register(
    "j1_lookup_join_topk",
    oracle="""
    WITH top5 AS (
      SELECT o_orderkey, o_custkey, o_totalprice
      FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 5
    )
    SELECT t.o_orderkey, t.o_totalprice, c.c_name, c.c_mktsegment
    FROM top5 t JOIN customer c ON t.o_custkey = c.c_custkey
    """,
    tags=("join", "topk"),
)
def j1_lookup_join_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J1: top-5 rows looked up against a dimension (top-sentiment posts
    join, `dashboard/dashboard.py:744-757`, a pandas loop there).

    Spark plan: TakeOrderedAndProject for the top-5, then a broadcast
    hash join with the 5-row side broadcast — no shuffle of customer
    regardless of its size.
    """
    t = tables(spark, sf_dir)
    top5 = (
        t["orders"]
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(5)
        .select("o_orderkey", "o_custkey", "o_totalprice")
    )
    return top5.join(
        t["customer"], top5.o_custkey == F.col("c_custkey"), "inner"
    ).select("o_orderkey", "o_totalprice", "c_name", "c_mktsegment")


@register(
    "j2_fk_join_rollup",
    oracle="""
    SELECT o.o_orderkey, o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           {dsum} AS sum_qty
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderkey, o.o_orderpriority
    """.format(dsum=DSUM_SQL.format(x="l.l_quantity")),
    tags=("join", "agg"),
    bench=True,
)
def j2_fk_join_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J2: FK equi-join posts⋈comments (the reference does a per-post
    Mongo query loop, `network-analysis/network_analysis.py:55-80`; here
    it is ONE shuffled hash join).

    Scale: both sides shuffle on the join key once; the following
    group-by reuses that partitioning (same key), so Catalyst plans a
    single exchange. AQE handles an oversized/skewed orderkey.
    """
    t = tables(spark, sf_dir)
    return (
        t["orders"]
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey", "o_orderpriority")
        .agg(F.count("*").alias("n_items"), dsum("l_quantity").alias("sum_qty"))
    )


@register(
    "j3_selfjoin_chain",
    oracle="""
    SELECT a.l_returnflag AS child_flag, b.l_returnflag AS parent_flag,
           CAST(COUNT(*) AS BIGINT) AS n_pairs
    FROM lineitem a
    JOIN lineitem b
      ON a.l_orderkey = b.l_orderkey AND a.l_linenumber = b.l_linenumber + 1
    GROUP BY child_flag, parent_flag
    """,
    tags=("join", "selfjoin"),
    bench=True,
)
def j3_selfjoin_chain(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J3: self-join on a computed key — reply chains
    (`network-analysis/network_analysis.py:84-106` builds a dict in scan
    order and silently drops later parents; the relational self-join is
    complete, SURVEY §7.3 risk 6). Key computed as linenumber+1,
    mirroring the `t1_`-prefix strip.

    Scale: self-join shuffles both sides on l_orderkey; co-partitioned
    composite condition evaluated post-shuffle. Bucketing lineitem by
    orderkey would remove the shuffle entirely.
    """
    t = tables(spark, sf_dir)
    li = t["lineitem"].select("l_orderkey", "l_linenumber", "l_returnflag")
    a = li.alias("a")
    b = li.alias("b")
    return (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.l_linenumber") == F.col("b.l_linenumber") + 1),
        )
        .groupBy(
            F.col("a.l_returnflag").alias("child_flag"),
            F.col("b.l_returnflag").alias("parent_flag"),
        )
        .agg(F.count("*").alias("n_pairs"))
    )


@register(
    "j4_agreement_rate",
    oracle="""
    SELECT CAST(COUNT_IF(l.l_linestatus = o.o_orderstatus) AS BIGINT) AS matched,
           CAST(COUNT(*) AS BIGINT) AS total,
           CAST(COUNT_IF(l.l_linestatus = o.o_orderstatus) AS DOUBLE) / COUNT(*) AS agreement_rate
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    """,
    tags=("join", "agg"),
)
def j4_agreement_rate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """J4: agreement check between two label columns (vader vs ML,
    `spark-ml-sentiment/spark_ml_sentiment.py:391-395`). Rate is an
    exact int/int division — hash-stable."""
    t = tables(spark, sf_dir)
    joined = t["lineitem"].join(
        t["orders"], F.col("l_orderkey") == F.col("o_orderkey")
    )
    matched = F.sum(
        (F.col("l_linestatus") == F.col("o_orderstatus")).cast("long")
    )
    return joined.agg(
        matched.alias("matched"),
        F.count("*").alias("total"),
        (matched.cast("double") / F.count("*")).alias("agreement_rate"),
    )


@register(
    "anti_join_customers_without_orders",
    oracle="""
    SELECT c.c_mktsegment, CAST(COUNT(*) AS BIGINT) AS n_customers
    FROM customer c
    WHERE NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = c.c_custkey)
    GROUP BY c.c_mktsegment
    """,
    tags=("join", "anti"),
)
def anti_join_customers_without_orders(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Anti-join: the exclusion-filter semantics of P6 generalized to a
    relation-sized exclusion set (SURVEY §2.3 note). Plans as a
    broadcast/shuffled anti hash join."""
    t = tables(spark, sf_dir)
    return (
        t["customer"]
        .join(t["orders"], F.col("c_custkey") == F.col("o_custkey"), "left_anti")
        .groupBy("c_mktsegment")
        .agg(F.count("*").alias("n_customers"))
    )


@register(
    "semi_join_active_suppliers",
    oracle="""
    SELECT s.s_nationkey, CAST(COUNT(*) AS BIGINT) AS n_suppliers
    FROM supplier s
    WHERE EXISTS (SELECT 1 FROM lineitem l WHERE l.l_suppkey = s.s_suppkey)
    GROUP BY s.s_nationkey
    """,
    tags=("join", "semi"),
)
def semi_join_active_suppliers(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-join: suppliers with at least one lineitem."""
    t = tables(spark, sf_dir)
    return (
        t["supplier"]
        .join(t["lineitem"], F.col("s_suppkey") == F.col("l_suppkey"), "left_semi")
        .groupBy("s_nationkey")
        .agg(F.count("*").alias("n_suppliers"))
    )


# ---------------------------------------------------------------------------
# Aggregations (A1-A14)
# ---------------------------------------------------------------------------


@register(
    "a1_group_count",
    oracle="""
    SELECT l_returnflag, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM lineitem GROUP BY l_returnflag
    """,
    tags=("agg",),
)
def a1_group_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1: groupBy-count (sentiment distribution,
    `spark-ml-sentiment/spark_ml_sentiment.py:145`). Partial (map-side)
    + final hash aggregate; shuffle carries only one row per distinct
    key per partition."""
    t = tables(spark, sf_dir)
    return t["lineitem"].groupBy("l_returnflag").agg(F.count("*").alias("cnt"))


@register(
    "a2_value_counts",
    oracle="""
    SELECT event_type, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events GROUP BY event_type
    """,
    tags=("agg",),
)
def a2_value_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A2: value_counts (top subreddits, `dashboard/dashboard.py:276`)."""
    t = tables(spark, sf_dir)
    return t["events"].groupBy("event_type").agg(F.count("*").alias("cnt"))


@register(
    "a3_daily_timeline",
    oracle="""
    SELECT strftime(o_orderdate, '%Y-%m-%d') AS order_day,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM orders GROUP BY order_day
    """,
    tags=("agg", "date"),
    bench=True,
)
def a3_daily_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A3: activity timeline — count per day
    (`dashboard/dashboard.py:259-260`). Day rendered as an ISO string so
    both engines hash identical values."""
    t = tables(spark, sf_dir)
    return (
        t["orders"]
        .groupBy(F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day"))
        .agg(F.count("*").alias("cnt"))
    )


@register(
    "a4_multi_agg_rollup",
    oracle="""
    SELECT n.n_name,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           {dsum} AS total_acctbal,
           {davg} AS avg_acctbal
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """.format(dsum=DSUM_SQL.format(x="c.c_acctbal"), davg=DAVG_SQL.format(x="c.c_acctbal")),
    tags=("agg", "join"),
)
def a4_multi_agg_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A4: multi-aggregate group-by (community rollup,
    `dashboard/dashboard.py:463-470`) with a broadcast dim join
    (nation is tiny → broadcast, no shuffle of customer)."""
    t = tables(spark, sf_dir)
    return (
        t["customer"]
        .join(t["nation"], F.col("c_nationkey") == F.col("n_nationkey"))
        .groupBy("n_name")
        .agg(
            F.count("*").alias("n_customers"),
            dsum("c_acctbal").alias("total_acctbal"),
            davg("c_acctbal").alias("avg_acctbal"),
        )
    )


@register(
    "a5_global_scalars",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_orders,
           {dsum} AS total_price,
           {davg} AS avg_price
    FROM orders
    """.format(dsum=DSUM_SQL.format(x="o_totalprice"), davg=DAVG_SQL.format(x="o_totalprice")),
    tags=("agg",),
)
def a5_global_scalars(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: global scalar aggregates (KPI row,
    `dashboard/dashboard.py:244,865`)."""
    t = tables(spark, sf_dir)
    return t["orders"].agg(
        F.count("*").alias("n_orders"),
        dsum("o_totalprice").alias("total_price"),
        davg("o_totalprice").alias("avg_price"),
    )


@register(
    "a6_distinct_counts",
    oracle="""
    SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS n_users,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_event_types
    FROM events
    """,
    tags=("agg", "distinct"),
)
def a6_distinct_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: distinct counts (unique authors,
    `airflow/dags/reddit_can_complete_pipeline.py:67`). Exact here for
    the oracle; at 100 TB prefer ``approx_count_distinct`` (HLL) to
    avoid the distinct shuffle — exposed in SURVEY §7.1 extras."""
    t = tables(spark, sf_dir)
    return t["events"].agg(
        F.countDistinct("user_id").alias("n_users"),
        F.countDistinct("event_type").alias("n_event_types"),
    )


@register(
    "a9_quantiles",
    oracle="""
    SELECT round(CAST(quantile_cont(o_totalprice, 0.25) AS DOUBLE), 4) AS p25,
           round(CAST(quantile_cont(o_totalprice, 0.50) AS DOUBLE), 4) AS p50,
           round(CAST(quantile_cont(o_totalprice, 0.75) AS DOUBLE), 4) AS p75,
           round(CAST(quantile_cont(o_totalprice, 0.90) AS DOUBLE), 4) AS p90
    FROM orders
    """,
    tags=("agg", "quantile"),
)
def a9_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: exact interpolated quantiles (`dashboard/dashboard.py:957`).

    Exact ``percentile`` matches DuckDB's quantile_cont; at 100 TB the
    engine swaps in ``approx_percentile`` (t-digest-ish sketch, no full
    sort) — correctness gate uses the exact form.
    """
    t = tables(spark, sf_dir)
    return t["orders"].agg(
        *[
            F.round(F.percentile("o_totalprice", F.lit(q)), 4).alias(name)
            for q, name in [(0.25, "p25"), (0.5, "p50"), (0.75, "p75"), (0.9, "p90")]
        ]
    )


@register(
    "a10_conditional_buckets",
    oracle="""
    SELECT CASE WHEN o_totalprice > 300000 THEN 'viral'
                WHEN o_totalprice > 150000 THEN 'high'
                WHEN o_totalprice > 50000  THEN 'medium'
                ELSE 'low' END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM orders GROUP BY bucket
    """,
    tags=("agg", "bucket"),
)
def a10_conditional_buckets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10: conditional-count histogram buckets
    (`dashboard/dashboard.py:840-845`) as one CASE group-by — a single
    pass instead of the reference's four boolean-mask scans."""
    t = tables(spark, sf_dir)
    bucket = (
        F.when(F.col("o_totalprice") > 300000, "viral")
        .when(F.col("o_totalprice") > 150000, "high")
        .when(F.col("o_totalprice") > 50000, "medium")
        .otherwise("low")
    )
    return (
        t["orders"]
        .groupBy(bucket.alias("bucket"))
        .agg(F.count("*").alias("cnt"))
    )


@register(
    "a11_share_above_p90",
    oracle="""
    WITH q AS (SELECT CAST(quantile_cont(value, 0.9) AS DOUBLE) AS p90 FROM events)
    SELECT round(
      CAST(SUM(CASE WHEN e.value > q.p90 THEN CAST(e.value AS DECIMAL(18,4)) END) AS DOUBLE)
      / CAST(SUM(CAST(e.value AS DECIMAL(18,4))) AS DOUBLE), 6) AS share_top_decile
    FROM events e CROSS JOIN q
    """,
    tags=("agg", "quantile"),
)
def a11_share_above_p90(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A11: share-of-total above the 90th percentile
    (`dashboard/dashboard.py:979-986`). Two aggregates + one division;
    the scalar p90 is cross-joined (broadcast) rather than a window
    over a single partition."""
    t = tables(spark, sf_dir)
    ev = t["events"]
    q = ev.agg(F.percentile("value", F.lit(0.9)).alias("p90"))
    return (
        ev.crossJoin(F.broadcast(q))
        .agg(
            F.round(
                F.sum(
                    F.when(F.col("value") > F.col("p90"), F.col("value").cast("decimal(18,4)"))
                ).cast("double")
                / F.sum(F.col("value").cast("decimal(18,4)")).cast("double"),
                6,
            ).alias("share_top_decile")
        )
    )


@register(
    "a12_corpus_mentions",
    oracle="""
    SELECT w.word,
           CAST(SUM((length(d.text) - length(replace(d.text, w.word, ''))) // length(w.word)) AS BIGINT)
             AS occurrences
    FROM documents d
    CROSS JOIN (VALUES ('spark'),('stream'),('join'),('window'),('merge')) w(word)
    GROUP BY w.word
    """,
    tags=("agg", "text"),
    bench=True,
)
def a12_corpus_mentions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A12: substring-occurrence counts over a corpus (country mentions,
    `dashboard/dashboard.py:1047-1057` — which concatenates the whole
    corpus into one driver-side string; here it's a distributed
    length-difference aggregate, no driver materialization)."""
    t = tables(spark, sf_dir)
    words = F.explode(
        F.array(*[F.lit(w) for w in ["spark", "stream", "join", "window", "merge"]])
    ).alias("word")
    d = t["documents"].select(F.col("text"), words)
    occ = (
        (F.length("text") - F.length(F.replace(F.col("text"), F.col("word"))))
        / F.length("word")
    ).cast("long")
    return d.groupBy("word").agg(F.sum(occ).alias("occurrences"))


@register(
    "a13_user_activity_rollup",
    oracle="""
    WITH clicks AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_clicks, {dsum_c} AS click_value
      FROM events WHERE event_type = 'click' GROUP BY user_id
    ), views AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_views, {dsum_v} AS view_value
      FROM events WHERE event_type = 'view' GROUP BY user_id
    )
    SELECT coalesce(c.user_id, v.user_id) AS user_id,
           coalesce(c.n_clicks, 0) AS n_clicks,
           coalesce(v.n_views, 0) AS n_views,
           coalesce(c.n_clicks, 0) + coalesce(v.n_views, 0) AS total_interactions,
           round(coalesce(c.click_value, 0.0) + coalesce(v.view_value, 0.0), 4) AS total_value
    FROM clicks c FULL OUTER JOIN views v ON c.user_id = v.user_id
    """.format(dsum_c=DSUM_SQL.format(x="value"), dsum_v=DSUM_SQL.format(x="value")),
    tags=("agg", "join", "outer"),
    bench=True,
)
def a13_user_activity_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A13: per-user activity rollup over two entity kinds, combined
    with a FULL OUTER join (posts+comments accumulation,
    `network-analysis/network_analysis.py:256-292`, a CPython dict
    there). Both inputs aggregate before joining, so the join is
    key-count-sized, not event-sized."""
    t = tables(spark, sf_dir)
    ev = t["events"]
    clicks = (
        ev.where(F.col("event_type") == "click")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_clicks"), dsum("value").alias("click_value"))
    )
    views = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.count("*").alias("n_views"), dsum("value").alias("view_value"))
    )
    c, v = clicks.alias("c"), views.alias("v")
    return c.join(v, F.col("c.user_id") == F.col("v.user_id"), "full_outer").select(
        F.coalesce(F.col("c.user_id"), F.col("v.user_id")).alias("user_id"),
        F.coalesce(F.col("n_clicks"), F.lit(0)).alias("n_clicks"),
        F.coalesce(F.col("n_views"), F.lit(0)).alias("n_views"),
        (F.coalesce(F.col("n_clicks"), F.lit(0)) + F.coalesce(F.col("n_views"), F.lit(0))).alias(
            "total_interactions"
        ),
        F.round(
            F.coalesce(F.col("click_value"), F.lit(0.0))
            + F.coalesce(F.col("view_value"), F.lit(0.0)),
            4,
        ).alias("total_value"),
    )


# ---------------------------------------------------------------------------
# Window / ranking / top-k (W1-W7)
# ---------------------------------------------------------------------------


@register(
    "w1_global_topk",
    oracle="""
    SELECT o_orderkey, o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
    tags=("topk",),
)
def w1_global_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W1: global top-k (`scraper/kafka_producer.py:381`). Plans as
    TakeOrderedAndProject — per-partition heaps, no global sort.
    Deterministic tie-break on the key column."""
    t = tables(spark, sf_dir)
    return (
        t["orders"]
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
        .select("o_orderkey", "o_totalprice")
    )


@register(
    "w2_influencer_ranking",
    oracle="""
    WITH uv AS (
      SELECT o_custkey, {dsum} AS total_value
      FROM orders GROUP BY o_custkey
    )
    SELECT CAST(row_number() OVER (ORDER BY total_value DESC, o_custkey) AS BIGINT) AS influencer_rank,
           o_custkey, total_value
    FROM uv
    QUALIFY influencer_rank <= 20
    """.format(dsum=DSUM_SQL.format(x="o_totalprice")),
    tags=("window", "rank"),
    bench=True,
)
def w2_influencer_ranking(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W2+W3: influencer ranking — composite value per user, take the
    top 20 with ranks (`network-analysis/network_analysis.py:246-250`).

    Scale note: the window has no partitionBy, which would normally
    single-partition the data — but it runs AFTER a groupBy that
    reduces cardinality to |users|, and Catalyst inserts a
    TakeOrderedAndProject-style limit; for very large |users| the
    rank<=k filter should be replaced by a top-k + sort (done in W1).
    """
    t = tables(spark, sf_dir)
    uv = t["orders"].groupBy("o_custkey").agg(dsum("o_totalprice").alias("total_value"))
    w = Window.orderBy(F.desc("total_value"), F.asc("o_custkey"))
    return (
        uv.withColumn("influencer_rank", F.row_number().over(w).cast("long"))
        .where(F.col("influencer_rank") <= 20)
        .select("influencer_rank", "o_custkey", "total_value")
    )


@register(
    "w5_w6_normalized_composite",
    oracle="""
    WITH m AS (
      SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events, {dsum} AS total_value
      FROM events GROUP BY user_id
    ), bounds AS (
      SELECT CAST(min(n_events) AS DOUBLE) AS min_n, CAST(max(n_events) AS DOUBLE) AS max_n,
             min(total_value) AS min_v, max(total_value) AS max_v
      FROM m
    )
    SELECT m.user_id,
           round(0.5 * (m.n_events - b.min_n) / NULLIF(b.max_n - b.min_n, 0)
               + 0.5 * (m.total_value - b.min_v) / NULLIF(b.max_v - b.min_v, 0), 6) AS composite_score
    FROM m CROSS JOIN bounds b
    """.format(dsum=DSUM_SQL.format(x="value")),
    tags=("window", "normalize"),
)
def w5_w6_normalized_composite(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W5+W6: min-max normalization + weighted composite score
    (`network-analysis/network_analysis.py:225-243`).

    Implemented as a scalar aggregate broadcast-cross-joined back —
    NOT as ``min().over(Window)`` with no partition spec, which would
    funnel every row through one task at scale.
    """
    t = tables(spark, sf_dir)
    m = t["events"].groupBy("user_id").agg(
        F.count("*").alias("n_events"), dsum("value").alias("total_value")
    )
    bounds = m.agg(
        F.min("n_events").cast("double").alias("min_n"),
        F.max("n_events").cast("double").alias("max_n"),
        F.min("total_value").alias("min_v"),
        F.max("total_value").alias("max_v"),
    )
    # try_divide: a single-user corpus (max == min) must normalize to
    # NULL on both engines, not ANSI-error the job (NULLIF in the
    # oracle pins DuckDB to the same rule regardless of its
    # division-by-zero setting)
    return m.crossJoin(bounds).select(
        "user_id",
        F.round(
            0.5 * F.try_divide(F.col("n_events") - F.col("min_n"), F.col("max_n") - F.col("min_n"))
            + 0.5 * F.try_divide(F.col("total_value") - F.col("min_v"), F.col("max_v") - F.col("min_v")),
            6,
        ).alias("composite_score"),
    )


@register(
    "w7_argmax_weekday",
    oracle="""
    SELECT dayname(CAST(ts AS TIMESTAMP)) AS weekday, CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events GROUP BY weekday ORDER BY cnt DESC, weekday LIMIT 1
    """,
    tags=("agg", "argmax", "date"),
)
def w7_argmax_weekday(spark: SparkSession, sf_dir: str) -> DataFrame:
    """W7: argmax — most-active weekday (`dashboard/dashboard.py:1039`).
    Deterministic tie-break on the weekday name."""
    t = tables(spark, sf_dir)
    return (
        t["events"]
        .groupBy(F.date_format("ts", "EEEE").alias("weekday"))
        .agg(F.count("*").alias("cnt"))
        .orderBy(F.desc("cnt"), F.asc("weekday"))
        .limit(1)
    )


# ---------------------------------------------------------------------------
# Set ops / distinct / scalar functions (O5-O6, F1-F11)
# ---------------------------------------------------------------------------


@register(
    "o6_distinct_values",
    oracle="SELECT DISTINCT event_type FROM events",
    tags=("distinct",),
)
def o6_distinct_values(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O6: distinct values for a filter widget
    (`dashboard/dashboard.py:776`)."""
    t = tables(spark, sf_dir)
    return t["events"].select("event_type").distinct()


@register(
    "f1_clean_text_etl",
    oracle="""
    SELECT doc_id,
           {clean} AS cleaned_text,
           CAST(length({clean}) AS INT) AS text_length,
           CAST(length(string_split({clean}, ' ')) AS INT) AS word_count
    FROM documents
    WHERE length({clean}) > 20
    """.format(clean=CLEAN_TEXT_SQL.format(x="text")),
    tags=("text", "etl"),
    bench=True,
)
def f1_clean_text_etl(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F1+F4+F5+P4: the streaming-ETL featurization as pure expressions
    (reference UDF at `spark-streaming-pyspark/spark_streaming.py:70-94`):
    clean text, derive length + word count, keep rows with
    text_length > 20. Whole thing is one codegen stage — no Python
    worker round-trip, unlike the reference's row-at-a-time UDF."""
    t = tables(spark, sf_dir)
    return clean_text_etl_transform(t["documents"])


def clean_text_etl_transform(df: DataFrame) -> DataFrame:
    """The f1 featurization as a batch/stream-agnostic transform —
    shared by the batch query above and the streaming-ETL sink
    (`streaming_etl_sink`), so stream and batch cannot drift; their
    outputs are hash-checked against the SAME oracle."""
    from reddit_can_bigdata_spark.functions.text import clean_text_expr, word_count_expr

    cleaned = clean_text_expr(F.col("text"))
    return (
        df.select(
            "doc_id",
            cleaned.alias("cleaned_text"),
            F.length(cleaned).alias("text_length"),
            word_count_expr(cleaned).alias("word_count"),
        )
        .where(F.col("text_length") > 20)
    )


@register(
    "f9_f11_date_parts",
    oracle="""
    SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS event_day,
           dayname(CAST(ts AS TIMESTAMP)) AS weekday,
           CAST(hour(CAST(ts AS TIMESTAMP)) AS INT) AS event_hour,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM events GROUP BY event_day, weekday, event_hour
    """,
    tags=("date", "agg"),
)
def f9_f11_date_parts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F9-F11: timestamp canonicalization + date parts (the reference
    mixes epoch doubles / ISO strings / timestamps, SURVEY §1.3; here a
    single TimestampType column feeds all derivations)."""
    t = tables(spark, sf_dir)
    return (
        t["events"]
        .groupBy(
            F.date_format("ts", "yyyy-MM-dd").alias("event_day"),
            F.date_format("ts", "EEEE").alias("weekday"),
            F.hour("ts").cast("int").alias("event_hour"),
        )
        .agg(F.count("*").alias("cnt"))
    )


# Salted-join fan-out: one copy of each build-side row per salt value.
SALT_N = 8


@register(
    "j5_salted_skew_join",
    oracle="""
    SELECT o.o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           {dsum} AS sum_qty
    FROM orders o JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """.format(dsum=DSUM_SQL.format(x="l.l_quantity")),
    tags=("join", "skew", "scale"),
)
def j5_salted_skew_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXPLICIT key salting — the manual skew cure for when AQE's
    runtime skew split isn't available (e.g. a skewed key feeding a
    subsequent aggregate, or engines/configs without AQE): the probe
    side tags each row with salt = hash(row) % {SALT_N}, the build
    side replicates each row {SALT_N}x via an explode, and the join
    runs on (key, salt) — a hot orderkey's rows now spread over
    {SALT_N} partitions instead of one straggler task.

    The salt is engine-internal and provably cancels out: this query's
    oracle is the PLAIN join's SQL, and the driver hash-checks the
    salted plan against it — salting changed the partitioning, not
    the result. Cost model: build side grows {SALT_N}x (choose salt
    width ~ skew factor / target task size); probe side unchanged."""
    t = tables(spark, sf_dir)
    salted_l = t["lineitem"].select(
        "l_orderkey",
        "l_quantity",
        F.pmod(F.xxhash64("l_orderkey", "l_linenumber"), F.lit(SALT_N)).alias(
            "salt"
        ),
    )
    salted_o = t["orders"].select(
        "o_orderkey",
        "o_orderpriority",
        F.explode(F.sequence(F.lit(0), F.lit(SALT_N - 1))).alias("salt"),
    )
    return (
        salted_o.join(
            salted_l,
            (F.col("l_orderkey") == F.col("o_orderkey"))
            & (salted_o["salt"] == salted_l["salt"]),
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_items"), dsum("l_quantity").alias("sum_qty"))
    )
