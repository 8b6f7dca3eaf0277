"""Domain-parity tests: Reddit-shaped stream decoding, verified against
the rows that went onto the wire (SURVEY §5: the reference has no
tests, so golden outputs come from a second implementation)."""

from __future__ import annotations

import json


def test_kafka_roundtrip_type_split(spark):
    """S3/S7: JSON-serialize both entity kinds onto one 'topic', parse
    back with from_json, and check the type discriminator split."""
    from reddit_can_bigdata_spark.sources.reddit import parse_kafka_events

    posts = [
        {"type": "post", "id": f"p{i}", "title": f"Match day {i} #AFCON",
         "author": f"user{i % 3}", "subreddit": "soccer", "score": i - 2}
        for i in range(5)
    ]
    comments = [
        {"type": "comment", "id": f"c{i}", "post_id": f"p{i % 5}",
         "author": "[deleted]" if i == 3 else f"user{i % 4}",
         "body": f"Allez les Lions! {i}", "parent_id": f"t1_c{i + 1}"}
        for i in range(7)
    ]
    wire = spark.createDataFrame(
        [(json.dumps(r),) for r in posts + comments], "value string"
    )
    p2, c2 = parse_kafka_events(wire)
    assert {r["id"]: (r["title"], r["score"]) for r in p2.collect()} == {
        p["id"]: (p["title"], p["score"]) for p in posts
    }
    assert {r["id"]: (r["author"], r["parent_id"]) for r in c2.collect()} == {
        c["id"]: (c["author"], c["parent_id"]) for c in comments
    }
    # malformed JSON -> dropped, not crashed (permissive mode)
    junk = spark.createDataFrame([("{not json",), ('{"type":"post","id":"ok1"}',)], "value string")
    pj, cj = parse_kafka_events(junk)
    assert pj.count() == 1 and cj.count() == 0
