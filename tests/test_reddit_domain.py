"""Domain-parity tests: Reddit-shaped ingest → ETL → graph, verified
against independent pure-Python recomputation (SURVEY §5: the
reference has no tests, so golden outputs come from a second
implementation)."""

from __future__ import annotations

import json
import re

import pytest
from pyspark.sql import functions as F


@pytest.fixture(scope="module")
def fixture_data(spark):
    from reddit_can_bigdata_spark.sources.reddit import synthetic_posts_comments

    posts, comments = synthetic_posts_comments(spark)
    return posts.cache(), comments.cache()


def _py_clean(text: str) -> str:
    c = text.lower()
    c = re.sub(r"http\S+|www\S+", " ", c)
    c = re.sub(r"@\w+", " ", c)
    c = re.sub(r"#", "", c)
    c = re.sub(r"[^a-z0-9\s]", " ", c)
    c = re.sub(r"\s+", " ", c)
    return c.strip()


def test_kafka_roundtrip_type_split(spark, fixture_data):
    """S3/S7: JSON-serialize both entity kinds onto one 'topic', parse
    back with from_json, and check the type discriminator split."""
    from reddit_can_bigdata_spark.sources.reddit import parse_kafka_events

    posts, comments = fixture_data
    wire = posts.select(F.to_json(F.struct("*")).alias("value")).unionByName(
        comments.select(F.to_json(F.struct("*")).alias("value"))
    )
    p2, c2 = parse_kafka_events(wire)
    assert p2.count() == posts.count()
    assert c2.count() == comments.count()
    # malformed JSON -> dropped, not crashed (permissive mode)
    junk = spark.createDataFrame([("{not json",), ('{"type":"post","id":"ok1"}',)], "value string")
    pj, cj = parse_kafka_events(junk)
    assert pj.count() == 1 and cj.count() == 0


def test_featurize_posts_matches_python_reference(spark, fixture_data):
    """F1-F5 golden test: every derived column recomputed in Python."""
    from reddit_can_bigdata_spark.sources.reddit import featurize_posts

    posts, _ = fixture_data
    got = {r["id"]: r for r in featurize_posts(posts).collect()}
    for row in posts.collect():
        ct = _py_clean(row["title"])
        cb = _py_clean(row["selftext"] or "")
        combined = f"{ct} {cb}" if cb != "" else ct
        expected_len = len(combined)
        if expected_len > 20:
            g = got[row["id"]]
            assert g["cleaned_title"] == ct
            assert g["cleaned_body"] == cb
            assert g["combined_text"] == combined
            assert g["text_length"] == expected_len
            assert g["word_count"] == len(combined.split(" "))
        else:
            assert row["id"] not in got


def test_interaction_edges_match_python_reference(spark, fixture_data):
    """J2+J3+A14 golden test: edge weights recomputed with dicts —
    including replies whose parent appears later in scan order, which
    the reference silently drops (SURVEY §7.3 risk 6: the join
    semantics are strictly more complete)."""
    from reddit_can_bigdata_spark.schemas import EXCLUDED_AUTHORS
    from reddit_can_bigdata_spark.sources.reddit import interaction_edges

    posts, comments = fixture_data
    post_author = {r["id"]: r["author"] for r in posts.collect()}
    comment_rows = comments.collect()
    comment_author = {r["id"]: r["author"] for r in comment_rows}

    expected: dict[tuple[str, str], int] = {}

    def add(a: str, b: str, w: int) -> None:
        if a in EXCLUDED_AUTHORS or b in EXCLUDED_AUTHORS or a == b:
            return
        key = (min(a, b), max(a, b))
        expected[key] = expected.get(key, 0) + w

    for r in comment_rows:
        if r["post_id"] in post_author:
            add(r["author"], post_author[r["post_id"]], 1)
        if r["parent_id"].startswith("t1_"):
            parent = r["parent_id"][3:]
            if parent in comment_author:  # complete join, not scan-order
                add(r["author"], comment_author[parent], 2)

    got = {
        (r["u"], r["v"]): r["weight"] for r in interaction_edges(posts, comments).collect()
    }
    assert got == expected
