"""Canonical StructTypes for the Reddit-domain tables (SURVEY.md §1.2).

One timestamp convention (§1.3): every table gets a derived
``created_ts TimestampType`` column (``to_timestamp(from_unixtime(
created_utc))``) while keeping the raw ``created_utc double`` for
parity with the reference, which mixes epoch doubles, ISO strings and
Spark timestamps.
"""

from __future__ import annotations

from pyspark.sql.types import (
    DoubleType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

# Raw post schema — producer dict at scraper/kafka_producer.py:277-297,
# Spark streaming schema at spark-streaming-pyspark/spark_streaming.py:38-49.
POST_SCHEMA = StructType(
    [
        StructField("type", StringType()),
        StructField("id", StringType()),
        StructField("title", StringType()),
        StructField("author", StringType()),
        StructField("subreddit", StringType()),
        StructField("score", IntegerType()),
        StructField("upvote_ratio", DoubleType()),
        StructField("num_comments", IntegerType()),
        StructField("created_utc", DoubleType()),
        StructField("created_date", StringType()),  # ISO string (reference parity)
        StructField("selftext", StringType()),
        StructField("url", StringType()),
        StructField("permalink", StringType()),
        StructField("link_flair_text", StringType()),
        StructField("scraped_at", StringType()),
    ]
)

# Raw comment schema — scraper/kafka_producer.py:299-317.
COMMENT_SCHEMA = StructType(
    [
        StructField("type", StringType()),
        StructField("id", StringType()),
        StructField("post_id", StringType()),
        StructField("author", StringType()),
        StructField("body", StringType()),
        StructField("score", IntegerType()),
        StructField("created_utc", DoubleType()),
        StructField("created_date", StringType()),
        StructField("parent_id", StringType()),  # t3_<post> | t1_<comment>
        StructField("scraped_at", StringType()),
    ]
)
