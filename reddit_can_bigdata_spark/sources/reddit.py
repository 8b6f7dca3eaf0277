"""Reddit-domain sources and ETL (SURVEY.md §2.1 S1-S7, §2.7 F1-F11).

The reference's event stream is one Kafka topic carrying posts and
comments interleaved as JSON, discriminated by a ``type`` field
(`scraper/kafka_producer.py:279-305`). This module gives the engine
that exact ingestion surface, source-agnostically:

- ``parse_kafka_events`` — from_json + type-discriminated split (the
  S3 projection), applicable to a Kafka stream's ``value`` column or
  any DataFrame of JSON strings (tests use an in-memory one);
- ``featurize_posts`` — the streaming-ETL derivation
  (`spark-streaming-pyspark/spark_streaming.py:64-94`) as pure
  Catalyst expressions: cleaned_title/cleaned_body/combined_text/
  text_length/word_count + the type/length filters;
- ``interaction_edges`` — J2+J3+A14: the (user,user) weighted edge
  list from post-reply (w=1) and comment-reply (w=2) pairs, as two
  equi-joins (the reference loops Mongo queries and silently drops
  replies whose parent appears later in scan order; the join finds
  all of them — SURVEY §7.3 risk 6);
- ``synthetic_posts_comments`` — deterministic FIXTURES.md-shaped
  generator for tests.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from reddit_can_bigdata_spark.functions.text import clean_text_expr, word_count_expr
from reddit_can_bigdata_spark.schemas import COMMENT_SCHEMA, EXCLUDED_AUTHORS, POST_SCHEMA


def parse_kafka_events(raw: DataFrame, value_col: str = "value") -> tuple[DataFrame, DataFrame]:
    """S3: JSON decode + schema projection + type split.

    ``raw`` is any DataFrame with a JSON-string column (Kafka's
    ``value`` cast to string, a file of JSON lines, a test fixture).
    Malformed JSON yields null structs (permissive mode), dropped by
    the type filter — mirroring the reference's implicit behavior.
    """
    posts = (
        raw.select(F.from_json(F.col(value_col).cast("string"), POST_SCHEMA).alias("d"))
        .select("d.*")
        .where(F.col("type") == "post")
    )
    comments = (
        raw.select(F.from_json(F.col(value_col).cast("string"), COMMENT_SCHEMA).alias("d"))
        .select("d.*")
        .where(F.col("type") == "comment")
    )
    return posts, comments


def featurize_posts(posts: DataFrame) -> DataFrame:
    """F1-F5+P3+P4: the processed_posts derivation
    (`spark-streaming-pyspark/spark_streaming.py:85-94`) without UDFs.

    combined_text = cleaned title + body when body is non-empty, else
    cleaned title (the conditional concat F3); rows kept when
    type='post' and text_length > 20.
    """
    cleaned_title = clean_text_expr(F.col("title"))
    cleaned_body = clean_text_expr(F.coalesce(F.col("selftext"), F.lit("")))
    out = (
        posts.where(F.col("type") == "post")
        .withColumn("cleaned_title", cleaned_title)
        .withColumn("cleaned_body", cleaned_body)
        .withColumn(
            "combined_text",
            F.when(
                F.col("cleaned_body") != "",
                F.concat_ws(" ", F.col("cleaned_title"), F.col("cleaned_body")),
            ).otherwise(F.col("cleaned_title")),
        )
        .withColumn("text_length", F.length("combined_text"))
        .withColumn("word_count", word_count_expr(F.col("combined_text")))
        .withColumn("processed_at", F.current_timestamp())
    )
    return out.where(F.col("text_length") > 20)


def interaction_edges(posts: DataFrame, comments: DataFrame) -> DataFrame:
    """G1 edge construction as relational joins (J2 + J3 + A14).

    - post-reply edges (weight 1 per interaction): comment author ↔
      post author via ``comments.post_id = posts.id``
      (`network-analysis/network_analysis.py:55-80`);
    - comment-reply edges (weight 2): child comment author ↔ parent
      comment author via the de-prefixed parent_id self-join
      (`network-analysis/network_analysis.py:84-106`);
    - canonicalized with least/greatest, excluded authors and
      self-loops dropped, weights summed, interaction types collected
      sorted (A14).
    """
    p = posts.select(F.col("id").alias("p_id"), F.col("author").alias("p_author"))
    c = comments.select(
        F.col("id").alias("c_id"),
        F.col("post_id").alias("c_post_id"),
        F.col("author").alias("c_author"),
        F.col("parent_id"),
    )

    post_reply = (
        c.join(p, F.col("c_post_id") == F.col("p_id"))
        .select(
            F.col("c_author").alias("a"),
            F.col("p_author").alias("b"),
            F.lit(1).alias("w"),
            F.lit("post_reply").alias("itype"),
        )
    )
    child = c.alias("child")
    parent = c.alias("parent")
    comment_reply = (
        child.where(F.col("child.parent_id").startswith("t1_"))
        .join(
            parent,
            F.regexp_replace(F.col("child.parent_id"), "^t1_", "") == F.col("parent.c_id"),
        )
        .select(
            F.col("child.c_author").alias("a"),
            F.col("parent.c_author").alias("b"),
            F.lit(2).alias("w"),
            F.lit("comment_reply").alias("itype"),
        )
    )
    edges = post_reply.unionByName(comment_reply)
    excl = list(EXCLUDED_AUTHORS)
    return (
        edges.where(
            ~F.col("a").isin(excl) & ~F.col("b").isin(excl) & (F.col("a") != F.col("b"))
        )
        .groupBy(
            F.least("a", "b").alias("u"),
            F.greatest("a", "b").alias("v"),
        )
        .agg(
            F.sum("w").alias("weight"),
            F.array_join(F.array_sort(F.collect_set("itype")), ",").alias("types"),
        )
    )


def synthetic_posts_comments(
    spark: SparkSession, n_posts: int = 120, n_comments: int = 400
) -> tuple[DataFrame, DataFrame]:
    """Deterministic FIXTURES.md-shaped fixture data, generated with
    pure column expressions (no Python RNG): Zipf-ish authors, some
    ``[deleted]``/``AutoModerator`` rows, URLs/@mentions/#hashtags in
    text, reply chains including parents that appear after children,
    ~20% dangling post_ids."""
    users = 30
    posts = spark.range(n_posts).select(
        F.lit("post").alias("type"),
        F.concat(F.lit("p"), F.col("id")).alias("id"),
        F.concat(
            F.lit("Match day "),
            F.col("id").cast("string"),
            F.lit(" #AFCON http://ex.am/"),
            F.col("id").cast("string"),
            F.lit(" @ref Goal!!"),
        ).alias("title"),
        F.when(F.col("id") % 17 == 0, "[deleted]")
        .when(F.col("id") % 23 == 0, "AutoModerator")
        .otherwise(F.concat(F.lit("user"), (F.pmod(F.col("id") * 7 + 3, users)).cast("string")))
        .alias("author"),
        F.when(F.col("id") % 3 == 0, "soccer")
        .when(F.col("id") % 3 == 1, "football")
        .otherwise("Africa")
        .alias("subreddit"),
        (F.pmod(F.col("id") * 37, 500) - 20).cast("int").alias("score"),
        (F.pmod(F.col("id"), 100) / 100.0).alias("upvote_ratio"),
        F.pmod(F.col("id") * 7, 50).cast("int").alias("num_comments"),
        (1735689600.0 + F.col("id") * 86400.0 / 4).alias("created_utc"),
        F.lit(None).cast("string").alias("created_date"),
        F.when(F.col("id") % 5 == 0, F.lit(""))
        .otherwise(
            F.concat(F.lit("Morocco vs Senegal preview, le match du Maroc "), F.col("id").cast("string"))
        )
        .alias("selftext"),
        F.concat(F.lit("http://reddit.com/p"), F.col("id")).alias("url"),
        F.concat(F.lit("/r/x/p"), F.col("id")).alias("permalink"),
        F.lit(None).cast("string").alias("link_flair_text"),
        F.lit("2025-01-01T00:00:00").alias("scraped_at"),
    )
    comments = spark.range(n_comments).select(
        F.lit("comment").alias("type"),
        F.concat(F.lit("c"), F.col("id")).alias("id"),
        # ~85% valid FK, rest dangling (FIXTURES invariant 1); modulus 7
        # is coprime to the author cycle (30) so no author is starved
        # of valid FKs by aliasing
        F.when(
            F.col("id") % 7 == 6, F.concat(F.lit("pX"), F.col("id"))
        )
        .otherwise(F.concat(F.lit("p"), F.pmod(F.col("id") * 3, n_posts)))
        .alias("post_id"),
        F.when(F.col("id") % 19 == 0, "[deleted]")
        .otherwise(F.concat(F.lit("user"), (F.pmod(F.col("id") * 11, users)).cast("string")))
        .alias("author"),
        F.concat(F.lit("Allez les Lions! comment "), F.col("id").cast("string")).alias("body"),
        F.pmod(F.col("id") * 13, 200).cast("int").alias("score"),
        (1735689600.0 + F.col("id") * 3600.0).alias("created_utc"),
        F.lit(None).cast("string").alias("created_date"),
        # reply chains incl. parents AFTER children (invariant 2):
        # comment k (k%3==0, k>0) replies to comment k+1 if that exists
        F.when(
            (F.col("id") % 3 == 0) & (F.col("id") + 1 < n_comments),
            F.concat(F.lit("t1_c"), F.col("id") + 1),
        )
        .otherwise(F.concat(F.lit("t3_p"), F.pmod(F.col("id") * 3, n_posts)))
        .alias("parent_id"),
        F.lit("2025-01-01T00:00:00").alias("scraped_at"),
    )
    return posts, comments
