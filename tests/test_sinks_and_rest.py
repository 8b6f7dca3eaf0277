"""MERGE winner (S15) and REST extraction (S4/S5) tests."""

from __future__ import annotations


def test_merge_upsert_deterministic_winner_within_batch(spark):
    """When one batch carries several updates for the same key, the
    MERGE winner (`resolve_updates`) must be deterministic: highest
    version_col (last-write-wins like the reference's sequential loop),
    ties on it broken by the descending struct of the remaining
    columns."""
    from reddit_can_bigdata_spark.sources.storage import resolve_updates

    df = spark.createDataFrame(
        [("k", 5, 2), ("k", 9, 1), ("k", 1, 3)], "id string, val int, ver int"
    )
    got = resolve_updates(df, "id", version_col="ver").collect()
    assert len(got) == 1 and got[0]["val"] == 1  # ver=3 wins

    df2 = spark.createDataFrame(
        [("k", 5, 4), ("k", 9, 4), ("k", 1, 4)], "id string, val int, ver int"
    )
    got2 = resolve_updates(df2, "id", version_col="ver").collect()
    assert len(got2) == 1 and got2[0]["val"] == 9  # tied versions: max struct wins


def test_extract_post_defaults_and_filter():
    from reddit_can_bigdata_spark.sources.rest import extract_post

    raw = {"id": "x1", "title": "AFCON final!", "permalink": "/r/soccer/x1",
           "created_utc": 1735689600}
    rec = extract_post(raw, scraped_at="2025-01-01T00:00:00")
    assert rec["score"] == 0 and rec["upvote_ratio"] == 0.0 and rec["selftext"] == ""
    assert rec["permalink"] == "https://reddit.com/r/soccer/x1"
    assert rec["created_date"] == "2025-01-01T00:00:00"


def test_python_datasource_reddit_rest(tmp_path):
    """S4/S5 through the Python DataSource's partition parse: one
    partition per capture file, each parsed into extract_post-identical
    POST_SCHEMA rows, with malformed lines skipped."""
    import json

    from reddit_can_bigdata_spark.schemas import POST_SCHEMA
    from reddit_can_bigdata_spark.sources.pyds import (
        DEFAULT_SCRAPED_AT,
        RedditStreamReader,
        _parse_capture_file,
    )
    from reddit_can_bigdata_spark.sources.rest import extract_post

    raws = [
        {"id": "p1", "title": "Spark rocks", "author": "u1", "subreddit": "s",
         "score": 5, "upvote_ratio": 0.9, "num_comments": 2,
         "created_utc": 1704067200.0, "selftext": "body", "url": "http://x",
         "permalink": "/r/s/p1", "link_flair_text": None},
        {"id": "p2", "title": "minimal"},
    ]
    f1, f2 = tmp_path / "a.jsonl", tmp_path / "b.jsonl"
    f1.write_text("\n".join(json.dumps(r) for r in raws[:1]) + "\nNOT JSON\n")
    f2.write_text(json.dumps(raws[1]) + "\n")

    reader = RedditStreamReader({"paths": f"{f1},{f2}"})
    parts = reader.partitions(reader.initialOffset(), reader.latestOffset())
    assert [p.value for p in parts] == [str(f1), str(f2)]
    cols = POST_SCHEMA.fieldNames()
    rows = [
        dict(zip(cols, t))
        for p in parts
        for t in _parse_capture_file(p.value, DEFAULT_SCRAPED_AT)
    ]
    assert len(rows) == 2  # the malformed line is skipped
    got = {r["id"]: r for r in rows}
    for raw in raws:
        assert got[raw["id"]] == extract_post(raw, DEFAULT_SCRAPED_AT)
