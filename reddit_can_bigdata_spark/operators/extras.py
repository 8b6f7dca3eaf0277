"""Additional inventory coverage: set intersection, CUBE, computed
flag columns (F6), string formatting (F14), calendar rollups (F11),
cross-table stats (A7), and edit-distance near-dup — each with an
exact DuckDB oracle.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from reddit_can_bigdata_spark.operators.common import (
    DSUM_SQL,
    dsum,
    standard_grand_total,
    tables,
)
from reddit_can_bigdata_spark.registry import register


@register(
    "intersect_click_and_view_users",
    oracle="""
    SELECT user_id FROM events WHERE event_type = 'click'
    INTERSECT
    SELECT user_id FROM events WHERE event_type = 'view'
    """,
    tags=("setop",),
)
def intersect_click_and_view_users(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT DISTINCT: users with both clicks and views (the
    set-op family SURVEY §2.6 notes as built-in)."""
    ev = tables(spark, sf_dir)["events"]
    clicks = ev.where(F.col("event_type") == "click").select("user_id")
    views = ev.where(F.col("event_type") == "view").select("user_id")
    return clicks.intersect(views)


@register(
    "cube_priority_status",
    oracle="""
    SELECT o_orderpriority, o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           {dsum} AS total_price
    FROM orders
    GROUP BY CUBE(o_orderpriority, o_orderstatus)
    """.format(dsum=DSUM_SQL.format(x="o_totalprice")),
    tags=("agg", "cube"),
)
def cube_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE: all 2^2 grouping sets in one pass (complements the
    ROLLUP query)."""
    t = tables(spark, sf_dir)
    cubed = (
        t["orders"]
        .cube("o_orderpriority", "o_orderstatus")
        .agg(F.count("*").alias("cnt"), dsum("o_totalprice").alias("total_price"))
    )
    return standard_grand_total(
        cubed,
        t["orders"],
        [
            F.lit(None).cast("string").alias("o_orderpriority"),
            F.lit(None).cast("string").alias("o_orderstatus"),
            F.lit(0).cast("bigint").alias("cnt"),
            F.lit(None).cast("double").alias("total_price"),
        ],
    )


@register(
    "f6_engagement_flags",
    oracle="""
    SELECT CASE WHEN value > 10.0 THEN true ELSE false END AS high_value,
           CASE WHEN event_type IN ('click', 'purchase') THEN 'engaged'
                WHEN event_type = 'view' THEN 'passive'
                ELSE 'other' END AS engagement,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           {dsum} AS total_value
    FROM events GROUP BY high_value, engagement
    """.format(dsum=DSUM_SQL.format(x="value")),
    tags=("projection", "flags", "agg"),
)
def f6_engagement_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F6/P9: when/otherwise derived flag columns (has_text /
    engagement_score analog, `spark-processor/spark_streaming.py:89-90`)
    aggregated by flag."""
    ev = tables(spark, sf_dir)["events"]
    high = F.when(F.col("value") > 10.0, True).otherwise(False)
    eng = (
        F.when(F.col("event_type").isin("click", "purchase"), "engaged")
        .when(F.col("event_type") == "view", "passive")
        .otherwise("other")
    )
    return (
        ev.groupBy(high.alias("high_value"), eng.alias("engagement"))
        .agg(F.count("*").alias("cnt"), dsum("value").alias("total_value"))
    )


@register(
    "f14_title_preview",
    oracle="""
    SELECT doc_id,
           substr(text, 1, 40) || '...' AS preview,
           printf('%s/%d', lang, n_chars) AS source_tag
    FROM documents WHERE n_chars > 100
    """,
    tags=("string", "projection"),
)
def f14_title_preview(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F14: string truncation + printf-style formatting
    (`title[:50]`, `dashboard/dashboard.py:753`)."""
    d = tables(spark, sf_dir)["documents"]
    return d.where(F.col("n_chars") > 100).select(
        "doc_id",
        F.concat(F.substring("text", 1, 40), F.lit("...")).alias("preview"),
        F.format_string("%s/%d", F.col("lang"), F.col("n_chars")).alias("source_tag"),
    )


@register(
    "f11_quarterly_rollup",
    oracle="""
    SELECT strftime(date_trunc('quarter', o_orderdate), '%Y-%m-%d') AS quarter_start,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           {dsum} AS total_price
    FROM orders GROUP BY quarter_start
    """.format(dsum=DSUM_SQL.format(x="o_totalprice")),
    tags=("date", "agg"),
)
def f11_quarterly_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """F11 extended: calendar-quarter rollup via date_trunc — the
    date-dimension family beyond day/weekday."""
    t = tables(spark, sf_dir)
    return (
        t["orders"]
        .groupBy(
            F.date_format(F.date_trunc("quarter", "o_orderdate"), "yyyy-MM-dd").alias(
                "quarter_start"
            )
        )
        .agg(F.count("*").alias("n_orders"), dsum("o_totalprice").alias("total_price"))
    )


@register(
    "a7_table_counts",
    oracle="""
    SELECT (SELECT CAST(COUNT(*) AS BIGINT) FROM orders)    AS n_orders,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM lineitem)  AS n_lineitems,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM customer)  AS n_customers,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM events)    AS n_events,
           (SELECT CAST(COUNT(*) AS BIGINT) FROM documents) AS n_documents
    """,
    tags=("agg", "stats"),
)
def a7_table_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A7: the DAG's pipeline-stats row — one count per table
    (`airflow/dags/reddit_can_complete_pipeline.py:71-75`), in one pass:
    each table's rows tagged with its index, unioned, and counted per
    tag by one aggregate: 2 jobs, where a cross join of five counts
    takes 10."""
    t = tables(spark, sf_dir)
    counted = {
        "n_orders": "orders",
        "n_lineitems": "lineitem",
        "n_customers": "customer",
        "n_events": "events",
        "n_documents": "documents",
    }
    tagged = [t[name].select(F.lit(i).alias("t")) for i, name in enumerate(counted.values())]
    return reduce(DataFrame.union, tagged).agg(*(
        F.count_if(F.col("t") == i).alias(alias) for i, alias in enumerate(counted)
    ))


_EVENT_TYPES = ("click", "error", "purchase", "signup", "view")


@register(
    "pivot_event_type_by_day",
    oracle="""
    SELECT strftime(date_trunc('day', CAST(ts AS TIMESTAMP)), '%Y-%m-%d') AS event_day,
           CAST(COUNT(*) FILTER (event_type = 'click')    AS BIGINT) AS click,
           CAST(COUNT(*) FILTER (event_type = 'error')    AS BIGINT) AS error,
           CAST(COUNT(*) FILTER (event_type = 'purchase') AS BIGINT) AS purchase,
           CAST(COUNT(*) FILTER (event_type = 'signup')   AS BIGINT) AS signup,
           CAST(COUNT(*) FILTER (event_type = 'view')     AS BIGINT) AS view
    FROM events GROUP BY event_day
    """,
    tags=("pivot", "agg"),
)
def pivot_event_type_by_day(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PIVOT: long→wide counts per day × event type. Pivot values are
    declared explicitly — at scale an undeclared pivot forces an extra
    distinct-collect job over the full input to discover the columns.
    """
    ev = tables(spark, sf_dir)["events"]
    return (
        ev.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("event_day"))
        .pivot("event_type", list(_EVENT_TYPES))
        .count()
        .na.fill(0, list(_EVENT_TYPES))
    )


@register(
    "latest_event_per_user",
    oracle="""
    SELECT user_id, event_id AS latest_event_id, event_type AS latest_type
    FROM (
      SELECT user_id, event_id, event_type,
             row_number() OVER (
               PARTITION BY user_id
               ORDER BY ts DESC, event_id DESC
             ) AS rn
      FROM events
    ) WHERE rn = 1
    """,
    tags=("window", "dedup", "snapshot"),
)
def latest_event_per_user(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Latest-snapshot-per-key: row_number over (key, ts desc) = 1 —
    the standard CDC/log-compaction read pattern (and the principled
    form of the reference's 'keep newest' store semantics). One
    shuffle on the key; at scale this is the query Delta/Iceberg
    MERGE snapshots answer from storage."""
    from pyspark.sql import Window

    ev = tables(spark, sf_dir)["events"]
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") == 1)
        .select(
            "user_id",
            F.col("event_id").alias("latest_event_id"),
            F.col("event_type").alias("latest_type"),
        )
    )


@register(
    "json_props_extraction",
    oracle="""
    SELECT event_type,
           CAST(SUM(CAST(json_extract(props, '$.k') AS BIGINT)) AS BIGINT) AS total_k,
           CAST(COUNT(CASE WHEN json_extract(props, '$.k') IS NOT NULL THEN 1 END) AS BIGINT)
             AS n_with_k
    FROM events GROUP BY event_type
    """,
    tags=("json", "agg"),
)
def json_props_extraction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured JSON property extraction (the schemaless tail
    the reference leaves in Mongo documents): get_json_object pushes
    the path access into codegen; at scale, frequently-queried props
    should be promoted to typed columns at ingest (schema-on-write),
    with this as the long-tail escape hatch."""
    ev = tables(spark, sf_dir)["events"]
    k = F.get_json_object("props", "$.k").cast("long")
    return ev.groupBy("event_type").agg(
        F.sum(k).alias("total_k"),
        F.count(F.when(k.isNotNull(), 1)).alias("n_with_k"),
    )


@register(
    "text_bpeish_token_count",
    oracle="""
    SELECT source,
           CAST(SUM(len(regexp_extract_all(
             regexp_replace(lower(text), 'i\\x{0307}', 'i', 'g'),
             '[a-z0-9]+|[^a-z0-9\\s]'))) AS BIGINT)
             AS bpeish_tokens,
           CAST(SUM(len(string_split(text, ' '))) AS BIGINT) AS ws_tokens
    FROM documents GROUP BY source
    """,
    tags=("text", "tokens"),
)
def text_bpeish_token_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token counting, twice: whitespace split and a BPE-ish regex
    (word runs + individual punctuation — the pre-tokenization rule
    BPE vocabularies apply). Budgeting pretraining data is done in
    tokens, and the two counts bracket the real tokenizer's output.
    Pattern restricted to a dialect both Java regex and RE2 agree on;
    the 'i'+U+0307 artifact of Java's full İ case mapping is collapsed
    to 'i' after lowercasing (DuckDB's simple mapping yields plain 'i'
    directly) — the narrow fix, so genuine combining marks in Indic or
    Arabic text survive and count identically in both engines.
    """
    d = tables(spark, sf_dir)["documents"]
    bpeish = F.size(
        F.expr(
            r"regexp_extract_all(regexp_replace(lower(text), 'i\\x{0307}', 'i'),"
            r" '[a-z0-9]+|[^a-z0-9\\s]', 0)"
        )
    )
    ws = F.size(F.split("text", " "))
    return d.groupBy("source").agg(
        F.sum(bpeish.cast("long")).alias("bpeish_tokens"),
        F.sum(ws.cast("long")).alias("ws_tokens"),
    )


@register(
    "dedup_levenshtein_prefix",
    oracle="""
    WITH blocked AS (
      SELECT doc_id, lang, n_chars // 100 AS len_bucket,
             substr(text, 1, 30) AS prefix
      FROM documents
    )
    SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
           CAST(levenshtein(a.prefix, b.prefix) AS INT) AS edit_distance
    FROM blocked a JOIN blocked b
      ON a.lang = b.lang AND a.len_bucket = b.len_bucket
     AND a.doc_id < b.doc_id
    WHERE levenshtein(a.prefix, b.prefix) <= 10
    """,
    tags=("dedup", "levenshtein"),
)
def dedup_levenshtein_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance near-dup on 30-char prefixes, blocked by
    (lang, length-bucket) so the pairwise stage is bounded per block
    — the fuzzy-matching family alongside jaccard/minhash/simhash.
    (ASCII inputs only: Spark's levenshtein counts codepoints, DuckDB
    counts bytes — identical on ASCII, divergent on multibyte.)"""
    d = tables(spark, sf_dir)["documents"].select(
        "doc_id",
        "lang",
        (F.col("n_chars") / 100).cast("long").alias("len_bucket"),
        F.substring("text", 1, 30).alias("prefix"),
    )
    a, b = d.alias("a"), d.alias("b")
    dist = F.levenshtein(F.col("a.prefix"), F.col("b.prefix"))
    return (
        a.join(
            b,
            (F.col("a.lang") == F.col("b.lang"))
            & (F.col("a.len_bucket") == F.col("b.len_bucket"))
            & (F.col("a.doc_id") < F.col("b.doc_id")),
        )
        .where(dist <= 10)
        .select(
            F.col("a.doc_id").alias("doc_a"),
            F.col("b.doc_id").alias("doc_b"),
            dist.cast("int").alias("edit_distance"),
        )
    )


# ---------------------------------------------------------------------------
# round 4: per-group percentiles + join-key skew profiler
# ---------------------------------------------------------------------------

SKEW_TOPK = 10


@register(
    "group_percentiles",
    oracle="""
    SELECT event_type,
           CAST(COUNT(*) AS BIGINT) AS n,
           round(CAST(quantile_cont(value, 0.50) AS DOUBLE), 4) AS p50,
           round(CAST(quantile_cont(value, 0.90) AS DOUBLE), 4) AS p90,
           round(CAST(quantile_cont(value, 0.99) AS DOUBLE), 4) AS p99
    FROM events GROUP BY event_type
    """,
    tags=("agg", "quantile", "group"),
)
def group_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-group exact interpolated percentiles (latency-dashboard
    p50/p90/p99 per event type) — the grouped sibling of a9. One
    shuffle on the group key; within each group Spark sorts only that
    group's values. At 100 TB the same query swaps `percentile` for
    `approx_percentile` (mergeable t-digest-ish sketch, no per-group
    sort) — the exact form is the correctness gate."""
    ev = tables(spark, sf_dir)["events"]
    return ev.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n"),
        *[
            F.round(F.percentile("value", F.lit(q)), 4).alias(name)
            for q, name in [(0.50, "p50"), (0.90, "p90"), (0.99, "p99")]
        ],
    )


@register(
    "skew_profile_orderkey",
    oracle=f"""
    WITH kc AS (
      SELECT l_orderkey AS key, CAST(COUNT(*) AS BIGINT) AS cnt
      FROM lineitem GROUP BY l_orderkey
    ),
    stats AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_keys,
             CAST(SUM(cnt) AS BIGINT) AS n_rows,
             CAST(MAX(cnt) AS BIGINT) AS max_cnt
      FROM kc
    ),
    top AS (
      SELECT key, cnt,
             row_number() OVER (ORDER BY cnt DESC, key ASC) AS rnk
      FROM kc
    )
    SELECT t.rnk, t.key, t.cnt, s.n_keys, s.n_rows,
           round(t.cnt * 1.0 / s.n_rows, 6) AS row_share,
           round(s.max_cnt * s.n_keys * 1.0 / s.n_rows, 6) AS skew_factor
    FROM top t CROSS JOIN stats s
    WHERE t.rnk <= {SKEW_TOPK}
    """,
    tags=("diagnostics", "skew"),
)
def skew_profile_orderkey(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Join-key SKEW PROFILER — the diagnostic to run before tuning
    any big join: per-key row counts for the top keys, each key's
    share of all rows, and the skew factor max_cnt/mean_cnt (how much
    the hottest shuffle partition exceeds the average; >> 1 means
    salting / AQE skew-join territory).

    Plan: one aggregate to key grain, a 1-row stats aggregate
    broadcast back, and a TakeOrdered top-k — the profile costs one
    shuffle of key-count rows regardless of table size. Every ratio
    is a single division of exact BIGINTs."""
    kc = (
        tables(spark, sf_dir)["lineitem"]
        .groupBy(F.col("l_orderkey").alias("key"))
        .agg(F.count("*").cast("bigint").alias("cnt"))
    )
    stats = kc.agg(
        F.count("*").cast("bigint").alias("n_keys"),
        F.sum("cnt").cast("bigint").alias("n_rows"),
        F.max("cnt").cast("bigint").alias("max_cnt"),
    )
    top = (
        kc.orderBy(F.desc("cnt"), F.asc("key"))
        .limit(SKEW_TOPK)
        .withColumn(
            "rnk",
            F.row_number().over(
                Window.orderBy(F.desc("cnt"), F.asc("key"))
            ),
        )
    )
    return top.crossJoin(stats).select(
        "rnk",
        "key",
        "cnt",
        "n_keys",
        "n_rows",
        F.round(F.col("cnt") * 1.0 / F.col("n_rows"), 6).alias("row_share"),
        F.round(
            F.col("max_cnt") * F.col("n_keys") * 1.0 / F.col("n_rows"), 6
        ).alias("skew_factor"),
    )


@register(
    "variant_props_rollup",
    oracle="""
    SELECT CAST(json_extract(props, '$.k') AS INT) % 10 AS k_bucket,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) AS total_value
    FROM events
    GROUP BY k_bucket
    """,
    tags=("json", "variant", "agg"),
)
def variant_props_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Semi-structured rollup through Spark 4's VARIANT type: the
    event props JSON parses ONCE into a variant column (binary
    semi-structured encoding — the Snowflake/Databricks answer to
    repeated get_json_object string re-parsing) and fields extract
    with typed `try_variant_get` paths. Same answer as the
    string-JSON path, but at 100 TB the parse cost is paid once per
    row, not once per extracted field, and variant columns shred into
    columnar storage.

    Plan: narrow parse+extract map -> one hash aggregate."""
    ev = tables(spark, sf_dir)["events"]
    return (
        ev.select(
            F.parse_json("props").alias("v"),
            "value",
        )
        .select(
            (F.try_variant_get("v", "$.k", "int") % 10).alias("k_bucket"),
            "value",
        )
        .groupBy("k_bucket")
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,4)"))
            .cast("double")
            .alias("total_value"),
        )
    )


@register(
    "dq_audit",
    oracle="""
    SELECT 'documents.n_chars_matches_text' AS rule,
           CAST(COUNT(*) AS BIGINT) AS n_checked,
           CAST(SUM(CASE WHEN n_chars <> len(text) THEN 1 ELSE 0 END) AS BIGINT)
             AS n_violations
    FROM documents
    UNION ALL
    SELECT 'events.value_non_negative',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN value < 0 THEN 1 ELSE 0 END) AS BIGINT)
    FROM events
    UNION ALL
    SELECT 'orders.totalprice_positive',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN o_totalprice <= 0 THEN 1 ELSE 0 END) AS BIGINT)
    FROM orders
    UNION ALL
    SELECT 'lineitem.orderkey_fk_integrity',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN o_orderkey IS NULL THEN 1 ELSE 0 END) AS BIGINT)
    FROM lineitem l LEFT JOIN orders o ON o.o_orderkey = l.l_orderkey
    UNION ALL
    SELECT 'embeddings.dim_is_64',
           CAST(COUNT(*) AS BIGINT),
           CAST(SUM(CASE WHEN len(embedding) <> 64 THEN 1 ELSE 0 END) AS BIGINT)
    FROM embeddings
    """,
    tags=("diagnostics", "data-quality"),
)
def dq_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-quality AUDIT (the Great-Expectations / dbt-test shape as
    one relational pass): declared invariants — column consistency,
    range constraints, referential integrity, embedding dimension —
    each reported as (rule, n_checked, n_violations). The gate a
    pipeline runs BEFORE shipping a snapshot downstream.

    Plan notes: every rule is a conditional aggregate over its own
    scan (rules over one table could share a scan via grouping sets;
    kept separate so each rule states its table exactly once); the FK
    check is a LEFT join probing the orders key — at 100 TB that's
    the one shuffling rule, and it's exactly the shape AQE handles.
    All counts are exact BIGINTs — bit-portable."""
    t = tables(spark, sf_dir)

    def rule(name: str, df: DataFrame, bad) -> DataFrame:
        return df.agg(
            F.lit(name).alias("rule"),
            F.count("*").cast("bigint").alias("n_checked"),
            F.sum(F.when(bad, 1).otherwise(0)).cast("bigint").alias("n_violations"),
        ).select("rule", "n_checked", "n_violations")

    docs, ev, orders, li, emb = (
        t["documents"],
        t["events"],
        t["orders"],
        t["lineitem"],
        t["embeddings"],
    )
    fk = li.join(
        orders.select("o_orderkey"),
        F.col("o_orderkey") == F.col("l_orderkey"),
        "left",
    )
    return (
        rule(
            "documents.n_chars_matches_text",
            docs,
            F.col("n_chars") != F.length("text"),
        )
        .unionAll(rule("events.value_non_negative", ev, F.col("value") < 0))
        .unionAll(
            rule("orders.totalprice_positive", orders, F.col("o_totalprice") <= 0)
        )
        .unionAll(
            rule("lineitem.orderkey_fk_integrity", fk, F.col("o_orderkey").isNull())
        )
        .unionAll(
            rule("embeddings.dim_is_64", emb, F.size("embedding") != 64)
        )
    )


@register(
    "scd2_user_event_type",
    oracle="""
    WITH ordered AS (
      SELECT user_id, event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_type,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS rn,
             event_id
      FROM events WHERE ts IS NOT NULL
    ),
    changes AS (
      SELECT user_id, event_type, tus,
             row_number() OVER (PARTITION BY user_id ORDER BY tus, event_id)
               AS version
      FROM ordered
      WHERE rn = 1 OR prev_type IS DISTINCT FROM event_type
    )
    SELECT user_id, event_type, CAST(version AS BIGINT) AS version,
           CAST(tus AS BIGINT) AS valid_from_us,
           CAST(lead(tus) OVER (PARTITION BY user_id ORDER BY version)
                AS BIGINT) AS valid_to_us,
           lead(tus) OVER (PARTITION BY user_id ORDER BY version) IS NULL
             AS is_current
    FROM changes
    """,
    tags=("warehouse", "scd2", "window"),
)
def scd2_user_event_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension TYPE 2 build: each user's
    event_type history collapses into versioned validity intervals
    [valid_from, valid_to) with an is_current flag — the dimension
    table every warehouse maintains for point-in-time joins, built
    from the raw change stream in two window passes (change
    detection via lag, interval closing via lead).

    One shuffle on user_id serves both windows (same partitioning);
    the output is change-count-sized, not event-count-sized. Exact
    epoch-micro timestamps; deterministic (ts, event_id) ordering.

    NULL handling, pinned identically in the oracle: NULL-ts events
    are excluded (an interval can't open at an unknown time, and a
    NULL ts sorts differently across engines' windows); a NULL
    event_type is a legitimate dimension VALUE, so change detection
    is null-safe (IS DISTINCT FROM / eqNullSafe) with an explicit
    first-row test — `prev IS NULL` alone both misses NULL-valued
    runs and misreads a NULL-typed predecessor as row one."""
    ev = (
        tables(spark, sf_dir)["events"]
        .where(F.col("ts").isNotNull())
        .select(
            "user_id", "event_type", "event_id", F.unix_micros("ts").alias("tus")
        )
    )
    w = Window.partitionBy("user_id").orderBy("tus", "event_id")
    changes = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .withColumn("rn", F.row_number().over(w))
        .where(
            (F.col("rn") == 1)
            | ~F.col("prev_type").eqNullSafe(F.col("event_type"))
        )
        .withColumn("version", F.row_number().over(w).cast("bigint"))
    )
    wv = Window.partitionBy("user_id").orderBy("version")
    nxt = F.lead("tus").over(wv)
    return changes.select(
        "user_id",
        "event_type",
        "version",
        F.col("tus").alias("valid_from_us"),
        nxt.alias("valid_to_us"),
        nxt.isNull().alias("is_current"),
    )


# ---------------------------------------------------------------------------
# round 4 (session 2): remaining window/reshape shapes
# ---------------------------------------------------------------------------


@register(
    "w_rolling_7d_revenue",
    oracle="""
    WITH daily AS (
      SELECT CAST(datediff('day', TIMESTAMP '1970-01-01', o_orderdate) AS BIGINT)
               AS day_num,
             strftime(o_orderdate, '%Y-%m-%d') AS day,
             SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS rev_dec
      FROM orders GROUP BY day_num, day
    )
    SELECT day,
           CAST(rev_dec AS DOUBLE) AS day_revenue,
           CAST(SUM(rev_dec) OVER (
             ORDER BY day_num RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
           ) AS DOUBLE) AS rolling_7d_revenue,
           CAST(COUNT(*) OVER (
             ORDER BY day_num RANGE BETWEEN 6 PRECEDING AND CURRENT ROW
           ) AS BIGINT) AS days_in_window
    FROM daily
    """,
    tags=("window", "rolling", "timeseries"),
)
def w_rolling_7d_revenue(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling 7-day revenue: a RANGE-frame window over day numbers,
    so gap days genuinely shrink the window (a ROWS frame would
    silently span gaps — the classic rolling-metric bug). Aggregates
    to day grain FIRST (one shuffle, ~2k rows), then the window runs
    over the tiny daily table; the decimal day-sum keeps the rolling
    sum exact under any accumulation order. At 100 TB the daily
    pre-aggregate is what makes this free — the window never sees
    row-grain data. days_in_window exposes partial leading windows
    (the first 6 days), matching the oracle's RANGE semantics."""
    o = tables(spark, sf_dir)["orders"]
    daily = o.groupBy(
        F.datediff(F.col("o_orderdate"), F.lit("1970-01-01").cast("timestamp"))
        .cast("bigint")
        .alias("day_num"),
        F.date_format("o_orderdate", "yyyy-MM-dd").alias("day"),
    ).agg(F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("rev_dec"))
    w = Window.orderBy("day_num").rangeBetween(-6, 0)
    return daily.select(
        "day",
        F.col("rev_dec").cast("double").alias("day_revenue"),
        F.sum("rev_dec").over(w).cast("double").alias("rolling_7d_revenue"),
        F.count("*").over(w).cast("bigint").alias("days_in_window"),
    )


@register(
    "w_ntile_customer_quartiles",
    oracle=f"""
    WITH spend AS (
      SELECT o_custkey, SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS s_dec
      FROM orders GROUP BY o_custkey
    ), tiled AS (
      SELECT o_custkey, s_dec,
             ntile(4) OVER (ORDER BY s_dec, o_custkey) AS quartile
      FROM spend
    )
    SELECT CAST(quartile AS INT) AS quartile,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(MIN(s_dec) AS DOUBLE) AS min_spend,
           CAST(MAX(s_dec) AS DOUBLE) AS max_spend,
           CAST(SUM(s_dec) AS DOUBLE) AS total_spend
    FROM tiled GROUP BY quartile
    """,
    tags=("window", "ntile"),
)
def w_ntile_customer_quartiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer spend quartiles via ntile(4): equal-COUNT buckets (vs
    group_percentiles' equal-VALUE cuts). The ordering key is (exact
    decimal spend, custkey) — the custkey tiebreak is what makes
    ntile deterministic and therefore oracle-comparable; ntile over a
    float sum with ties would be engine-dependent. The global-order
    window runs over the customer-grain aggregate (one row per
    customer), and the quartile summary collapses it immediately. At
    100 TB swap the single-partition ntile for a 2-pass percentile
    cut (approx_percentile thresholds + bucket join) — same output
    contract; the summary here IS that contract's test."""
    o = tables(spark, sf_dir)["orders"]
    spend = o.groupBy("o_custkey").agg(
        F.sum(F.col("o_totalprice").cast("decimal(18,4)")).alias("s_dec")
    )
    tiled = spend.select(
        "s_dec",
        F.ntile(4).over(Window.orderBy("s_dec", "o_custkey")).alias("quartile"),
    )
    return tiled.groupBy(F.col("quartile").cast("int").alias("quartile")).agg(
        F.count("*").cast("bigint").alias("n_customers"),
        F.min("s_dec").cast("double").alias("min_spend"),
        F.max("s_dec").cast("double").alias("max_spend"),
        F.sum("s_dec").cast("double").alias("total_spend"),
    )


@register(
    "unpivot_lineitem_measures",
    oracle=f"""
    WITH wide AS (
      SELECT l_returnflag,
             {DSUM_SQL.format(x="l_quantity")} AS qty,
             {DSUM_SQL.format(x="l_extendedprice")} AS price,
             {DSUM_SQL.format(x="l_discount")} AS discount,
             {DSUM_SQL.format(x="l_tax")} AS tax
      FROM lineitem GROUP BY l_returnflag
    )
    SELECT l_returnflag, measure, total
    FROM wide
    UNPIVOT INCLUDE NULLS (total FOR measure IN (qty, price, discount, tax))
    """,
    tags=("reshape", "unpivot"),
)
def unpivot_lineitem_measures(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Wide-to-long reshape (melt): per-returnflag totals of four
    measures unpivoted to (flag, measure, total) rows — the inverse
    of pivot_event_type_by_day. Aggregation happens BEFORE the
    unpivot (3 rows x 4 measures, not 600k x 4): unpivoting raw
    lineitem would 4x the shuffle volume for identical results.
    Spark's native unpivot() generates the same Expand node as SQL
    stack(); no UDF, no driver loop. Spark's unpivot KEEPS NULL cells
    while SQL UNPIVOT's default EXCLUDEs them — the oracle pins
    INCLUDE NULLS so a measure whose inputs are all NULL still melts
    to an explicit (flag, measure, NULL) row on both engines."""
    li = tables(spark, sf_dir)["lineitem"]
    wide = li.groupBy("l_returnflag").agg(
        dsum("l_quantity").alias("qty"),
        dsum("l_extendedprice").alias("price"),
        dsum("l_discount").alias("discount"),
        dsum("l_tax").alias("tax"),
    )
    return wide.unpivot(
        ids=["l_returnflag"],
        values=["qty", "price", "discount", "tax"],
        variableColumnName="measure",
        valueColumnName="total",
    )


_SCD2_DIM_SQL = """
    WITH ordered AS (
      SELECT user_id, event_type,
             epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
             lag(event_type) OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS prev_type,
             row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
               AS rn,
             event_id
      FROM events WHERE ts IS NOT NULL
    ),
    changes AS (
      SELECT user_id, event_type, tus,
             row_number() OVER (PARTITION BY user_id ORDER BY tus, event_id)
               AS version
      FROM ordered
      WHERE rn = 1 OR prev_type IS DISTINCT FROM event_type
    ),
    dim AS (
      SELECT user_id, event_type, CAST(version AS BIGINT) AS version,
             CAST(tus AS BIGINT) AS valid_from_us,
             CAST(lead(tus) OVER (PARTITION BY user_id ORDER BY version)
                  AS BIGINT) AS valid_to_us
      FROM changes
    )
"""


@register(
    "scd2_point_in_time_join",
    oracle=f"""
    {_SCD2_DIM_SQL}
    SELECT e.event_id, e.user_id, d.version,
           d.event_type AS type_at_event,
           d.event_type = e.event_type AS type_matches
    FROM events e
    JOIN dim d
      ON d.user_id = e.user_id
     AND epoch_us(CAST(e.ts AS TIMESTAMP)) >= d.valid_from_us
     AND (d.valid_to_us IS NULL
          OR epoch_us(CAST(e.ts AS TIMESTAMP)) < d.valid_to_us)
    """,
    tags=("warehouse", "scd2", "temporal-join"),
    bench=True,
)
def scd2_point_in_time_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time (AS OF) join against the SCD2 dimension: every
    fact row picks the dimension VERSION whose [valid_from, valid_to)
    interval contains its event time — the query SCD2 exists to make
    correct (joining `is_current` instead silently rewrites history).

    Composition: reuses `scd2_user_event_type`'s builder for the
    dimension, then joins facts on user_id with the interval
    predicate INSIDE the join condition — an equi-join on user_id
    (co-partitioned, sort-merge) whose per-row interval scan is
    bounded by that user's version count, never an unbounded
    interval join. The dimension's tiling invariant (pinned in
    `tests/test_timeseries_analytics.py`'s SCD2 test) guarantees
    exactly one version per fact, so output rows == fact rows; `type_matches`
    exposes the self-consistency (a fact always lands in the version
    its own type opened) as an auditable column rather than an
    assumption."""
    dim = scd2_user_event_type(spark, sf_dir).select(
        F.col("user_id").alias("d_user"),
        F.col("event_type").alias("type_at_event"),
        "version",
        "valid_from_us",
        "valid_to_us",
    )
    ev = tables(spark, sf_dir)["events"].select(
        "event_id", "user_id", "event_type", F.unix_micros("ts").alias("tus")
    )
    return (
        ev.join(
            dim,
            (F.col("d_user") == F.col("user_id"))
            & (F.col("tus") >= F.col("valid_from_us"))
            & (
                F.col("valid_to_us").isNull()
                | (F.col("tus") < F.col("valid_to_us"))
            ),
        )
        .select(
            "event_id",
            "user_id",
            "version",
            "type_at_event",
            (F.col("type_at_event") == F.col("event_type")).alias("type_matches"),
        )
    )


TOPK_TIES_K = 3


@register(
    "topk_per_group_ties",
    oracle=f"""
    SELECT o_orderpriority, o_orderkey, o_totalprice
    FROM (
      SELECT o_orderpriority, o_orderkey, o_totalprice,
             rank() OVER (PARTITION BY o_orderpriority
                          ORDER BY o_totalprice DESC) AS rnk
      FROM orders
    )
    WHERE rnk <= {TOPK_TIES_K}
    """,
    tags=("window", "topk", "ties"),
    bench=True,
)
def topk_per_group_ties(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k per group WITH ties: rank() keeps every row tying at the
    k-th value, where row_number() (curate_cap_per_group's choice)
    would break ties arbitrarily and drop data — the same semantic
    fork Q2/Q15 pin at the global level, here per group. Because ties
    are kept rather than broken, the output needs NO tiebreak column
    to be deterministic — the kept SET is unique even though a
    row_number variant's kept set would not be. One shuffle on the
    group key, per-group heap-ish window, k+ties rows out per group."""
    o = tables(spark, sf_dir)["orders"]
    w = Window.partitionBy("o_orderpriority").orderBy(F.desc("o_totalprice"))
    return (
        o.select(
            "o_orderpriority",
            "o_orderkey",
            "o_totalprice",
            F.rank().over(w).alias("rnk"),
        )
        .where(F.col("rnk") <= TOPK_TIES_K)
        .drop("rnk")
    )


@register(
    "robust_mad_by_type",
    oracle="""
    WITH med AS (
      SELECT event_type, median(value) AS med_v
      FROM events GROUP BY event_type
    )
    SELECT e.event_type,
           ROUND(m.med_v, 6) AS median_value,
           ROUND(median(abs(e.value - m.med_v)), 6) AS mad,
           CAST(SUM(CASE WHEN abs(e.value - m.med_v)
                              > 3.0 * 1.4826
                                * (SELECT median(abs(e2.value - m2.med_v))
                                   FROM events e2 JOIN med m2
                                     ON m2.event_type = e2.event_type
                                   WHERE e2.event_type = e.event_type)
                         THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers
    FROM events e JOIN med m ON m.event_type = e.event_type
    GROUP BY e.event_type, m.med_v
    """,
    tags=("agg", "robust", "quantile"),
)
def robust_mad_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust dispersion per group: the median absolute deviation
    (median of |x - median|) and the count of 3-sigma-equivalent
    outliers under the 1.4826-scaled MAD — the outlier detector that
    survives the heavy tails a mean/stddev z-score drowns in (the
    right default for data-quality gates over skewed metrics).

    Two exact-percentile passes: group medians (tiny table) broadcast
    back onto the events scan, then the deviation median per group —
    the same shuffle key both times, so AQE reuses the partitioning.
    At 100 TB both `median` calls swap for `approx_percentile` (the
    a9/group_percentiles scale rule). DuckDB's median() interpolates
    like Spark's percentile(0.5); outputs round to 6."""
    ev = tables(spark, sf_dir)["events"]
    med = ev.groupBy("event_type").agg(
        F.percentile("value", F.lit(0.5)).alias("med_v")
    )
    dev = ev.join(F.broadcast(med), "event_type").select(
        "event_type",
        "med_v",
        F.abs(F.col("value") - F.col("med_v")).alias("adev"),
    )
    mad = dev.groupBy("event_type", "med_v").agg(
        F.percentile("adev", F.lit(0.5)).alias("mad_raw")
    )
    flagged = (
        dev.join(mad.select("event_type", "mad_raw"), "event_type")
        .groupBy("event_type")
        .agg(
            F.sum(
                F.when(
                    F.col("adev") > F.lit(3.0) * F.lit(1.4826) * F.col("mad_raw"),
                    1,
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("n_outliers")
        )
    )
    return (
        mad.join(flagged, "event_type")
        .select(
            "event_type",
            F.round("med_v", 6).alias("median_value"),
            F.round("mad_raw", 6).alias("mad"),
            "n_outliers",
        )
    )


from reddit_can_bigdata_spark.functions.text import (  # noqa: E402
    PORTABLE_HASH32_SQL as _PH32_SQL,
)


@register(
    "table_checksum_lineitem",
    oracle=f"""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST({{h}} AS DECIMAL(38,0)))
                % 1000000000000000000 AS BIGINT) AS checksum_sum,
           CAST(bit_xor({{h}}) AS BIGINT) AS checksum_xor
    FROM (
      SELECT concat_ws('|',
               CAST(l_orderkey AS VARCHAR), CAST(l_linenumber AS VARCHAR),
               CAST(CAST(l_quantity AS DECIMAL(18,4)) AS VARCHAR),
               CAST(CAST(l_extendedprice AS DECIMAL(18,4)) AS VARCHAR),
               l_returnflag) AS row_repr
      FROM lineitem
    )
    """.format(h=_PH32_SQL.format(x="row_repr")),
    tags=("diagnostics", "checksum", "scale"),
    bench=True,
)
def table_checksum_lineitem(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Order-independent table checksum — the reconciliation primitive
    for verifying a 100 TB replica, migration, or engine port without
    moving the data: every row canonicalizes to a delimited string
    (floats via exact DECIMAL so the text form is engine-stable),
    hashes with the portable md5-based hash, and reduces by SUM and
    XOR — both commutative, so the result is identical at any
    partitioning, row order, or executor count.  The SUM accumulates
    in DECIMAL(38,0): 32-bit hashes summed over >2^32 rows overflow
    int64, and the two engines disagree on overflow (DuckDB errors,
    Spark wraps/throws under ANSI) — decimal keeps the reduction
    well-defined to ~10^28 rows, i.e. at any real table size. The
    EMITTED checksum_sum is the accumulator mod 10^18, cast BIGINT:
    modulo preserves commutativity and the full detection power of a
    checksum, while a BIGINT output renders identically through every
    client fetch path — DECIMAL(38,0) came back as float64 from
    DuckDB's pandas API but as Decimal from Spark's, a representation
    (not value) mismatch that broke external verification. Cost is one
    scan + a 1-row aggregate; two independent reductions make silent
    collisions (a pair of compensating errors) vastly less likely
    than either alone. This engine's own oracle harness is the
    use case in miniature: DuckDB computes the same checksum from
    the same parquet, proving byte-level agreement of the scan."""
    from reddit_can_bigdata_spark.functions.text import portable_hash32

    li = tables(spark, sf_dir)["lineitem"]
    row_repr = F.concat_ws(
        "|",
        F.col("l_orderkey").cast("string"),
        F.col("l_linenumber").cast("string"),
        F.col("l_quantity").cast("decimal(18,4)").cast("string"),
        F.col("l_extendedprice").cast("decimal(18,4)").cast("string"),
        F.col("l_returnflag"),
    )
    h = portable_hash32(row_repr)
    return li.select(h.alias("h")).agg(
        F.count("*").cast("bigint").alias("n_rows"),
        (F.sum(F.col("h").cast("decimal(38,0)")) % F.lit(10**18))
        .cast("bigint")
        .alias("checksum_sum"),
        F.expr("bit_xor(h)").cast("bigint").alias("checksum_xor"),
    )


@register(
    "warehouse_scd1_upsert",
    oracle="""
    WITH base AS (
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus
      FROM orders WHERE o_orderkey % 10 >= 3
    ),
    upd AS (
      SELECT o_orderkey, o_custkey,
             round(o_totalprice * 1.1, 2) AS o_totalprice,
             'U1' AS o_orderstatus, 1 AS version
      FROM orders WHERE o_orderkey % 10 < 3 AND o_orderkey % 2 = 0
      UNION ALL
      SELECT o_orderkey, o_custkey,
             round(o_totalprice * 1.2, 2), 'U2', 2
      FROM orders WHERE o_orderkey % 10 < 3
    ),
    win AS (
      SELECT o_orderkey, o_custkey, o_totalprice, o_orderstatus FROM (
        SELECT *, row_number() OVER (
                 PARTITION BY o_orderkey
                 ORDER BY version DESC,
                          (o_custkey, o_totalprice, o_orderstatus) DESC
               ) AS rn
        FROM upd
      ) WHERE rn = 1
    )
    SELECT b.* FROM base b
    LEFT JOIN win w ON w.o_orderkey = b.o_orderkey
    WHERE w.o_orderkey IS NULL
    UNION ALL
    SELECT * FROM win
    """,
    tags=("warehouse", "scd1", "merge", "upsert"),
    deps=("reddit_can_bigdata_spark.sources.storage",),
)
def warehouse_scd1_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S15 (MERGE / last-write-wins upsert) as an oracle-checkable
    QUERY (reference: per-row `update_one(..., upsert=True)`),
    on derived frames so the driver hash-checks the semantics: a base
    snapshot (orderkey % 10 >= 3), an update
    batch containing two versions for overlapping keys (the
    intra-batch conflict `resolve_updates` must settle: version 2
    always beats version 1), anti-join the winners' keys out of base,
    union the winners.

    Scale shape: one window over the (small) update batch + one
    key-only anti-join against the base — the standard incremental
    MERGE; with Delta/Iceberg the same plan is `MERGE INTO` with file
    pruning."""
    from reddit_can_bigdata_spark.sources.storage import resolve_updates

    o = tables(spark, sf_dir)["orders"]
    base = o.where(F.col("o_orderkey") % 10 >= 3).select(
        "o_orderkey", "o_custkey", "o_totalprice", "o_orderstatus"
    )
    upd = (
        o.where((F.col("o_orderkey") % 10 < 3) & (F.col("o_orderkey") % 2 == 0))
        .select(
            "o_orderkey",
            "o_custkey",
            F.round(F.col("o_totalprice") * 1.1, 2).alias("o_totalprice"),
            F.lit("U1").alias("o_orderstatus"),
            F.lit(1).alias("version"),
        )
        .unionAll(
            o.where(F.col("o_orderkey") % 10 < 3).select(
                "o_orderkey",
                "o_custkey",
                F.round(F.col("o_totalprice") * 1.2, 2).alias("o_totalprice"),
                F.lit("U2").alias("o_orderstatus"),
                F.lit(2).alias("version"),
            )
        )
    )
    win = resolve_updates(upd, "o_orderkey", "version").drop("version")
    keep = base.join(win.select("o_orderkey"), "o_orderkey", "left_anti")
    return keep.unionByName(win)


def _p9_oracle() -> str:
    from reddit_can_bigdata_spark.registry import REGISTRY

    w2 = REGISTRY["w2_influencer_ranking"].oracle
    return f"""
    WITH ranked AS MATERIALIZED ({w2})
    SELECT c.c_custkey, c.c_name,
           (r.o_custkey IS NOT NULL) AS is_influencer,
           r.influencer_rank
    FROM customer c JOIN ranked r ON r.o_custkey = c.c_custkey
    WHERE (r.o_custkey IS NOT NULL)
    """


@register(
    "p9_flag_selection",
    oracle=_p9_oracle(),
    tags=("filter", "flags"),
)
def p9_flag_selection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9: boolean-flag SELECTION — compute an ``is_influencer`` flag
    (membership in the W2 top-20 ranking) on the customer dimension,
    then select the flagged rows (the reference filters its stored
    network table on ``is_influencer == True``,
    `dashboard/dashboard.py` network page / `network_analysis.py`
    user docs); the driver hash-checks it.

    Plan: the 20-row ranked table broadcasts against customer — flag
    derivation + selection never shuffles the dimension."""
    from reddit_can_bigdata_spark.operators.relational import (
        w2_influencer_ranking,
    )

    ranked = w2_influencer_ranking(spark, sf_dir)
    cust = tables(spark, sf_dir)["customer"].select("c_custkey", "c_name")
    flagged = cust.join(ranked, cust.c_custkey == ranked.o_custkey, "inner").select(
        "c_custkey",
        "c_name",
        F.col("o_custkey").isNotNull().alias("is_influencer"),
        "influencer_rank",
    )
    return flagged.where(F.col("is_influencer"))
