"""Dashboard serving catalog: the reference UI's page dispatch and
interactive widgets as an engine-side, typed query catalog.

Reference surface: `dashboard/dashboard.py:172-182` (sidebar radio over
five pages), `:776-801` (Posts & Topics widgets — subreddit selectbox,
min-score slider, sort-mode selectbox), `:738-763` (Sentiments page
per-label sample tabs). The reference renders each page from whole-
collection pandas reloads; here each page is a named group of the
engine's registered (and externally oracled) queries plus typed
parameters, so a serving layer can render the same five pages by
calling `page_queries(...)` — no pandas, no full reloads, every
DataFrame still plans through Catalyst with pushdown intact.

Parameter→column mapping follows the engine-wide table convention
(``documents`` plays posts, ``events`` plays comments): the subreddit
selectbox binds to ``documents.source``, the score slider to
``documents.n_chars`` (documents carry no engagement score; length is
the deterministic stand-in, as in f6), the sort modes map
Score→n_chars, Date→doc_id (ingest order), Commentaires→word count
(computed from text, the engagement analog the corpus supports).

Fixed-parameter variants of each builder are registered as oracle
queries (``dash_*``) so the parameterized paths themselves are
hash-checked against DuckDB — the widgets only change literals, never
the plan shape, so the fixed-point check covers the family.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F

from reddit_can_bigdata_spark.operators.common import shared_inputs, tables
from reddit_can_bigdata_spark.registry import REGISTRY, register

# ---------------------------------------------------------------------------
# Typed page/widget catalog (`dashboard.py:172-182` sidebar dispatch)
# ---------------------------------------------------------------------------


@dataclass(frozen=True)
class Widget:
    """One interactive control and the column it binds to."""

    name: str
    kind: str  # "select" | "min_slider" | "sort" | "date_range"
    column: str
    choices: tuple[str, ...] = ()


@dataclass(frozen=True)
class Page:
    """One sidebar page: its registered queries + typed parameters."""

    title: str
    ref: str  # reference file:line this page renders
    queries: tuple[str, ...]  # names in registry.REGISTRY
    widgets: tuple[Widget, ...] = field(default_factory=tuple)


PAGES: dict[str, Page] = {
    "home": Page(
        title="Accueil",
        ref="dashboard/dashboard.py:211-291",
        queries=(
            "a7_table_counts",
            "pipeline_gate_report",
            "a3_daily_timeline",
            "a2_value_counts",
        ),
    ),
    "network": Page(
        title="Réseau Social",
        ref="dashboard/dashboard.py:293-657",
        queries=(
            "g8_graph_metadata",
            "g2_degree_centrality",
            "g6_pagerank",
            "g7_connected_components",
            "g7_label_propagation",
            "dash_community_summary",
            "influencer_composite_top20",
            "w2_influencer_ranking",
        ),
    ),
    "sentiments": Page(
        title="Sentiments",
        ref="dashboard/dashboard.py:659-765",
        queries=(
            "f13_lexicon_sentiment_distribution",
            "f13c_vader_join_path",
            "j4_agreement_rate",
            "p10_divergence_filter",
            "dash_sentiment_samples",
        ),
        widgets=(
            Widget(
                "sentiment",
                "select",
                "vader_label",
                choices=("positive", "neutral", "negative"),
            ),
        ),
    ),
    "posts": Page(
        title="Posts & Topics",
        ref="dashboard/dashboard.py:767-821",
        queries=(
            "p5_keyword_filter",
            "p7_p8_interactive_filter",
            "w1_global_topk",
            "f14_title_preview",
            "dash_posts_explorer",
        ),
        widgets=(
            Widget("subreddit", "select", "source"),
            Widget("min_score", "min_slider", "n_chars"),
            Widget(
                "sort_by", "sort", "", choices=("score", "date", "comments")
            ),
        ),
    ),
    "stats": Page(
        title="Statistiques",
        ref="dashboard/dashboard.py:823-end",
        queries=(
            "a1_group_count",
            "a4_multi_agg_rollup",
            "a13_user_activity_rollup",
            "p12_date_range_filter",
            "pivot_event_type_by_day",
            "dash_stats_timeline",
        ),
        widgets=(Widget("date_range", "date_range", "ts"),),
    ),
}


def page_queries(
    spark: SparkSession, sf_dir: str, page: str
) -> dict[str, DataFrame]:
    """All DataFrames a page renders, keyed by registered query name —
    the engine-side equivalent of the reference's per-page
    ``load_all_data()`` + pandas filtering, except each frame is a lazy
    Catalyst plan (a server materializes only what the widget state
    needs)."""
    spec = PAGES[page]
    return {name: REGISTRY[name].fn(spark, sf_dir) for name in spec.queries}


def render_page(
    spark: SparkSession, sf_dir: str, page: str, **params
) -> dict[str, DataFrame]:
    """The page dispatch itself (`dashboard.py:172-182` sidebar radio +
    per-page widget state): the page's catalog queries PLUS its
    widget-bound parameterized frame, built from ``params``. Unknown
    parameter names raise — a UI typo must not silently render the
    fixed-point variant.

    Parameter surface per page (defaults = the registered dash_*
    fixed points):
    - ``posts``: subreddit, min_score, sort_by, limit
    - ``sentiments``: sentiment, n
    - ``stats``: start, end
    - ``home`` / ``network``: no widgets (params rejected)

    The page's builders run in one ``shared_inputs`` scope: an input
    several of them build (the network page's collected graph, the
    sentiments page's VADER join plan) is built once per render. The
    scope ends when the render returns, so no render reuses another's.
    """
    with shared_inputs():
        return _render(spark, sf_dir, page, params)


def _render(
    spark: SparkSession, sf_dir: str, page: str, params: dict
) -> dict[str, DataFrame]:
    binders = {
        "posts": (
            "dash_posts_explorer",
            posts_explorer,
            {"subreddit": "src7", "min_score": 120, "sort_by": "score", "limit": 15},
        ),
        "sentiments": (
            "dash_sentiment_samples",
            sentiment_samples,
            {"sentiment": "positive", "n": 5},
        ),
        "stats": (
            "dash_stats_timeline",
            stats_timeline,
            {"start": "2024-01-10", "end": "2024-01-20"},
        ),
    }
    if page not in binders:
        if params:
            raise TypeError(f"page {page!r} takes no widget parameters")
        return page_queries(spark, sf_dir, page)
    key, builder, defaults = binders[page]
    unknown = set(params) - set(defaults)
    if unknown:
        raise TypeError(f"unknown widget parameter(s) for {page!r}: {sorted(unknown)}")
    # the widget key is built once, from the widget state: its registered
    # fixed point would plan the same frame only to be replaced
    return {
        name: builder(spark, sf_dir, **{**defaults, **params})
        if name == key
        else REGISTRY[name].fn(spark, sf_dir)
        for name in PAGES[page].queries
    }


# ---------------------------------------------------------------------------
# Parameterized builders (the widget-bound queries)
# ---------------------------------------------------------------------------

_SORT_MODES = ("score", "date", "comments")


def posts_explorer(
    spark: SparkSession,
    sf_dir: str,
    *,
    subreddit: str | None = None,
    min_score: int = 0,
    sort_by: str = "score",
    limit: int = 15,
) -> DataFrame:
    """The Posts & Topics interactive block (`dashboard.py:776-801`):
    optional subreddit equality, min-score floor, one of three sort
    modes, head-``limit``. All three predicates stay JVM-side; the
    equality + range push to parquet row-group pruning, and the top-k
    compiles to TakeOrderedAndProject (no global sort at 100 TB)."""
    if sort_by not in _SORT_MODES:
        raise ValueError(f"sort_by must be one of {_SORT_MODES}, got {sort_by!r}")
    docs = tables(spark, sf_dir)["documents"]
    if subreddit is not None:
        docs = docs.where(F.col("source") == subreddit)
    docs = docs.where(F.col("n_chars") >= min_score)
    docs = docs.select(
        "doc_id",
        "source",
        "n_chars",
        F.size(F.split(F.trim("text"), r"\s+")).alias("word_count"),
        F.substring("text", 1, 80).alias("title_preview"),
    )
    key = {
        "score": F.col("n_chars"),
        "date": F.col("doc_id"),
        "comments": F.col("word_count"),
    }[sort_by]
    # doc_id tiebreak: deterministic page under the driver's hash compare
    return docs.orderBy(key.desc(), F.col("doc_id")).limit(limit)


def sentiment_samples(
    spark: SparkSession,
    sf_dir: str,
    *,
    sentiment: str = "positive",
    n: int = 5,
) -> DataFrame:
    """The Sentiments page per-label sample tabs (`dashboard.py:738-763`
    ``df_sentiments[df_sentiments[col] == sentiment].head(5)``), made
    deterministic: strongest compound first, doc_id tiebreak. Labels
    come from the engine's exact VADER join path (broadcast lexicon —
    the 100 TB shape), so the whole builder is oracle-checkable."""
    from reddit_can_bigdata_spark.functions.vader import (
        vader_compound_join,
        vader_label_expr,
    )

    docs = tables(spark, sf_dir)["documents"]
    scored = vader_compound_join(docs).select(
        "doc_id",
        (F.round("compound", 6) + F.lit(0.0)).alias("compound"),
    )
    scored = scored.withColumn("vader_label", vader_label_expr(F.col("compound")))
    picked = scored.where(F.col("vader_label") == sentiment)
    strength = F.abs(F.col("compound"))
    return picked.orderBy(strength.desc(), F.col("doc_id")).limit(n)


def stats_timeline(
    spark: SparkSession,
    sf_dir: str,
    *,
    start: str,
    end: str,
) -> DataFrame:
    """The Statistiques page activity timeline bounded by a date-range
    widget: events in [start, end) per day per type. The range
    predicate is the partition-pruning shape at 100 TB (P12 with
    caller-supplied bounds)."""
    ev = tables(spark, sf_dir)["events"]
    return (
        ev.where(
            (F.col("ts") >= F.lit(start).cast("timestamp"))
            & (F.col("ts") < F.lit(end).cast("timestamp"))
        )
        .groupBy(
            F.date_format("ts", "yyyy-MM-dd").alias("day"),
            "event_type",
        )
        .agg(
            F.count("*").alias("cnt"),
            F.round(F.sum(F.col("value").cast("decimal(20,6)")), 4)
            .cast("double")
            .alias("total_value"),
        )
    )


# ---------------------------------------------------------------------------
# Fixed-parameter oracle registrations: the widget families hash-checked
# ---------------------------------------------------------------------------


#: ORDER BY fragment per sort mode — mirrors posts_explorer's key map
#: (doc_id tiebreak; doc_id is unique so the order is total).
_SORT_SQL = {
    "score": "n_chars DESC, doc_id",
    "date": "doc_id DESC, doc_id",
    "comments": "word_count DESC, doc_id",
}


def posts_explorer_oracle(
    *,
    subreddit: str | None = None,
    min_score: int = 0,
    sort_by: str = "score",
    limit: int = 15,
) -> str:
    """DuckDB oracle for ANY posts_explorer widget state, built from
    the same literals the Spark builder binds — the registered
    `dash_posts_explorer` fixed point uses it, and the grid sweep in
    tests/test_dashboard_catalog.py proves the whole parameter family
    (not just the fixed point) matches."""
    where = [f"n_chars >= {int(min_score)}"]
    if subreddit is not None:
        where.insert(0, f"source = '{subreddit}'")
    return f"""
    WITH filtered AS (
      SELECT doc_id, source, n_chars,
             length(regexp_split_to_array(trim(text), '\\s+')) AS word_count,
             substring(text, 1, 80) AS title_preview
      FROM documents
      WHERE {" AND ".join(where)}
    ),
    ranked AS (
      SELECT *, row_number() OVER (ORDER BY {_SORT_SQL[sort_by]}) AS rn
      FROM filtered
    )
    SELECT doc_id, source, n_chars, CAST(word_count AS INT) AS word_count,
           title_preview
    FROM ranked WHERE rn <= {int(limit)} ORDER BY rn
    """


@register(
    "dash_posts_explorer",
    oracle=posts_explorer_oracle(
        subreddit="src7", min_score=120, sort_by="score", limit=15
    ),
    tags=("dashboard", "filter", "topk"),
)
def dash_posts_explorer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`posts_explorer` at a fixed widget state (subreddit='src7',
    min_score=120, sort=score, 15 rows) — the Posts & Topics page's
    parameterized query family, externally hash-checked."""
    return posts_explorer(
        spark, sf_dir, subreddit="src7", min_score=120, sort_by="score", limit=15
    )


def sentiment_samples_oracle(*, sentiment: str = "positive", n: int = 5) -> str:
    """DuckDB oracle for ANY sentiment_samples widget state (label tab
    × sample count), from the same literals the Spark builder binds."""
    from reddit_can_bigdata_spark.functions.vader import vader_sql

    assert sentiment in ("positive", "neutral", "negative")
    return f"""
    WITH scored AS (
      SELECT doc_id, round({vader_sql('text')}, 6) + 0 AS compound
      FROM documents
    ),
    labeled AS (
      SELECT doc_id, compound,
             CASE WHEN compound >= 0.05 THEN 'positive'
                  WHEN compound <= -0.05 THEN 'negative'
                  ELSE 'neutral' END AS vader_label
      FROM scored
    ),
    ranked AS (
      SELECT *, row_number() OVER (ORDER BY abs(compound) DESC, doc_id) AS rn
      FROM labeled WHERE vader_label = '{sentiment}'
    )
    SELECT doc_id, compound, vader_label FROM ranked WHERE rn <= {int(n)}
    """


@register(
    "dash_sentiment_samples",
    oracle=sentiment_samples_oracle(sentiment="positive", n=5),
    tags=("dashboard", "sentiment", "vader", "topk"),
)
def dash_sentiment_samples(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`sentiment_samples` at the fixed widget state the reference's
    first tab shows (sentiment='positive', n=5)."""
    return sentiment_samples(spark, sf_dir, sentiment="positive", n=5)


def community_name_expr(community, members):
    """The reference's ``name_community`` rule (`dashboard.py:473-484`)
    as one expression: size tier (≥25 Grande 🌟, ≥15 Moyenne 📊, else
    Petite 💬) formatted as "<emoji> Communauté #<id> (<tier>)"."""
    tier = (
        F.when(members >= 25, F.lit("Grande"))
        .when(members >= 15, F.lit("Moyenne"))
        .otherwise(F.lit("Petite"))
    )
    emoji = (
        F.when(members >= 25, F.lit("🌟"))
        .when(members >= 15, F.lit("📊"))
        .otherwise(F.lit("💬"))
    )
    return F.concat(
        emoji,
        F.lit(" Communauté #"),
        community.cast("string"),
        F.lit(" ("),
        tier,
        F.lit(")"),
    )


def _community_summary_oracle() -> str:
    from reddit_can_bigdata_spark.operators.graph import (
        LP_ITERS,
        _labelprop_oracle,
    )

    lp = _labelprop_oracle()
    head = lp[: lp.rindex("SELECT CAST(label AS BIGINT)")].rstrip().rstrip(",")
    return f"""{head},
    comm AS MATERIALIZED (SELECT node, label FROM lp{LP_ITERS}),
    nodedeg AS MATERIALIZED (
      SELECT src AS node, CAST(COUNT(*) AS BIGINT) AS degree,
             SUM(w) AS engagement
      FROM sym GROUP BY src
    ),
    stats AS (
      SELECT CAST(c.label AS BIGINT) AS community,
             CAST(COUNT(*) AS BIGINT) AS members,
             round(AVG(d.degree), 6) AS avg_degree,
             round(SUM(d.engagement), 4) AS engagement_total
      FROM comm c JOIN nodedeg d ON d.node = c.node
      GROUP BY c.label
    ),
    ranked AS (
      SELECT *, row_number() OVER (ORDER BY members DESC, community) AS rn
      FROM stats
    )
    SELECT community, members, avg_degree, engagement_total,
           CASE WHEN members >= 25 THEN '🌟 Communauté #' || community || ' (Grande)'
                WHEN members >= 15 THEN '📊 Communauté #' || community || ' (Moyenne)'
                ELSE '💬 Communauté #' || community || ' (Petite)' END AS nom
    FROM ranked WHERE rn <= 10 ORDER BY rn
    """


@register(
    "dash_community_summary",
    oracle=_community_summary_oracle(),
    tags=("dashboard", "graph", "community"),
)
def dash_community_summary(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The network page's community block (`dashboard.py:462-489`):
    per-community member count, mean degree, total engagement, top-10
    by size, with the reference's exact tier naming rule
    (`name_community`, `dashboard.py:473-484` — ≥25 Grande 🌟,
    ≥15 Moyenne 📊, else Petite 💬). Communities come from the engine's
    weighted label propagation (the scalable Louvain stand-in, shared
    oracle chain with g7_label_propagation); engagement is each
    member's incident edge weight (the corpus analog of the
    reference's per-user total_score).

    Scale shape: under the kernel gate the labels, degrees and
    engagements all come off the collected CSR as one |V|-row frame;
    above it one materialized symmetric edge table feeds both the label
    loop and the degree aggregate, joined on node. Either way the
    summary is a |C|-sized aggregate; top-10 is
    TakeOrderedAndProject."""
    from reddit_can_bigdata_spark.operators.graph import _label_prop

    graph, labels = _label_prop(spark, sf_dir)
    if isinstance(graph, DataFrame):
        nodedeg = graph.groupBy(F.col("src").alias("node")).agg(
            F.count("*").cast("bigint").alias("degree"),
            F.sum("w").alias("engagement"),
        )
        labels = labels.join(nodedeg, "node")
    stats = (
        labels.groupBy(F.col("label").cast("long").alias("community"))
        .agg(
            F.count("*").cast("bigint").alias("members"),
            F.round(F.avg("degree"), 6).alias("avg_degree"),
            F.round(F.sum("engagement"), 4).alias("engagement_total"),
        )
    )
    named = stats.withColumn(
        "nom", community_name_expr(F.col("community"), F.col("members"))
    )
    return named.orderBy(F.col("members").desc(), F.col("community")).limit(10)


def stats_timeline_oracle(*, start: str, end: str) -> str:
    """DuckDB oracle for ANY stats_timeline date-range widget state."""
    return f"""
    SELECT strftime(ts, '%Y-%m-%d') AS day, event_type,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           CAST(round(SUM(CAST(value AS DECIMAL(20,6))), 4) AS DOUBLE)
             AS total_value
    FROM events
    WHERE ts >= TIMESTAMP '{start}' AND ts < TIMESTAMP '{end}'
    GROUP BY day, event_type
    """


@register(
    "dash_stats_timeline",
    oracle=stats_timeline_oracle(start="2024-01-10", end="2024-01-20"),
    tags=("dashboard", "date", "agg"),
)
def dash_stats_timeline(spark: SparkSession, sf_dir: str) -> DataFrame:
    """`stats_timeline` over a fixed 10-day widget range."""
    return stats_timeline(spark, sf_dir, start="2024-01-10", end="2024-01-20")
