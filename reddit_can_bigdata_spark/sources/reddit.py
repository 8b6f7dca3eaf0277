"""Reddit-domain stream decoding (SURVEY.md §2.1 S3).

The reference's event stream is one Kafka topic carrying posts and
comments interleaved as JSON, discriminated by a ``type`` field
(`scraper/kafka_producer.py:279-305`). ``parse_kafka_events`` gives the
engine that exact ingestion surface, source-agnostically: from_json +
type-discriminated split, applicable to a Kafka stream's ``value``
column or any DataFrame of JSON strings.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from reddit_can_bigdata_spark.schemas import COMMENT_SCHEMA, POST_SCHEMA


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
