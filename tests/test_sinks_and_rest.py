"""Sink semantics (S12-S17) and REST extraction (S4-S6) tests."""

from __future__ import annotations

from pyspark.sql import functions as F


def _df(spark, rows):
    return spark.createDataFrame(rows, "id string, val int")


def test_append_dedup(spark, tmp_path):
    from reddit_can_bigdata_spark.sources.storage import append_dedup

    p = str(tmp_path / "t")
    append_dedup(spark, _df(spark, [("a", 1), ("b", 2)]), p, "id")
    append_dedup(spark, _df(spark, [("b", 99), ("c", 3)]), p, "id")
    got = {r["id"]: r["val"] for r in spark.read.parquet(p).collect()}
    assert got == {"a": 1, "b": 2, "c": 3}  # b kept original (append-only)


def test_merge_upsert(spark, tmp_path):
    from reddit_can_bigdata_spark.sources.storage import merge_upsert

    p = str(tmp_path / "t")
    merge_upsert(spark, _df(spark, [("a", 1), ("b", 2)]), p, "id")
    merge_upsert(spark, _df(spark, [("b", 99), ("c", 3)]), p, "id")
    got = {r["id"]: r["val"] for r in spark.read.parquet(p).collect()}
    assert got == {"a": 1, "b": 99, "c": 3}  # b updated (upsert wins)


def test_merge_upsert_deterministic_winner_within_batch(spark, tmp_path):
    """When one batch carries several updates for the same key, the
    winner must be deterministic: highest version_col (last-write-wins
    like the reference's sequential loop), or the descending struct of
    the remaining columns when no version column is given."""
    from reddit_can_bigdata_spark.sources.storage import merge_upsert

    p = str(tmp_path / "t")
    df = spark.createDataFrame(
        [("k", 5, 2), ("k", 9, 1), ("k", 1, 3)], "id string, val int, ver int"
    )
    merge_upsert(spark, df, p, "id", version_col="ver")
    got = spark.read.parquet(p).collect()
    assert len(got) == 1 and got[0]["val"] == 1  # ver=3 wins

    p2 = str(tmp_path / "t2")
    df2 = spark.createDataFrame([("k", 5), ("k", 9), ("k", 1)], "id string, val int")
    merge_upsert(spark, df2, p2, "id")
    got2 = spark.read.parquet(p2).collect()
    assert len(got2) == 1 and got2[0]["val"] == 9  # max struct wins


def test_overwrite_and_singleton(spark, tmp_path):
    from reddit_can_bigdata_spark.sources.storage import overwrite_table, write_singleton

    p = str(tmp_path / "t")
    overwrite_table(_df(spark, [("a", 1), ("b", 2)]), p)
    overwrite_table(_df(spark, [("z", 9)]), p)
    assert [r["id"] for r in spark.read.parquet(p).collect()] == ["z"]

    s = str(tmp_path / "meta")
    write_singleton(_df(spark, [("m", 1), ("n", 2)]), s)
    assert spark.read.parquet(s).count() == 1


def test_extract_post_defaults_and_filter():
    from reddit_can_bigdata_spark.sources.rest import extract_post

    raw = {"id": "x1", "title": "AFCON final!", "permalink": "/r/soccer/x1",
           "created_utc": 1735689600}
    rec = extract_post(raw, scraped_at="2025-01-01T00:00:00")
    assert rec["score"] == 0 and rec["upvote_ratio"] == 0.0 and rec["selftext"] == ""
    assert rec["permalink"] == "https://reddit.com/r/soccer/x1"
    assert rec["created_date"] == "2025-01-01T00:00:00"


def test_python_datasource_reddit_rest(spark, tmp_path):
    """S4/S5 via Spark 4's Python DataSource API: raw JSON-lines
    captures load as typed DataFrames through spark.read.format, with
    one partition per capture file, extract_post-identical rows, and
    malformed lines skipped."""
    import json

    from reddit_can_bigdata_spark.sources.pyds import (
        DEFAULT_SCRAPED_AT,
        RedditRestDataSource,
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

    spark.dataSource.register(RedditRestDataSource)
    df = (
        spark.read.format("reddit_rest")
        .option("paths", f"{f1},{f2}")
        .load()
    )
    assert df.rdd.getNumPartitions() == 2, "one partition per capture file"
    got = {r.id: r.asDict() for r in df.collect()}
    assert set(got) == {"p1", "p2"}
    for raw in raws:
        expect = extract_post(raw, DEFAULT_SCRAPED_AT)
        assert got[raw["id"]] == expect
    # schema is the canonical POST_SCHEMA, not inferred
    from reddit_can_bigdata_spark.schemas import POST_SCHEMA

    assert df.schema == POST_SCHEMA


def test_retention_sweep_counts_and_deletes(spark, sf_dir, tmp_path):
    """The DAG's cleanup task, engine-side: count-only by default (the
    reference never deletes), real delete on request — rewrite form
    keeps NULL timestamps, partition-drop form removes whole day dirs
    without reading data."""
    from pyspark.sql import functions as F

    from reddit_can_bigdata_spark.sources.storage import retention_sweep

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    if dict(ev.dtypes)["ts"] == "bigint":
        ev = ev.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    cutoff = "2024-01-10"

    # plain table: count-only, then rewrite-delete
    plain = str(tmp_path / "plain")
    ev.write.parquet(plain)
    n_total = ev.count()
    n_old = ev.where(F.col("ts") < F.lit(cutoff).cast("timestamp")).count()
    assert 0 < n_old < n_total
    assert retention_sweep(spark, plain, "ts", cutoff) == n_old  # no delete
    assert spark.read.parquet(plain).count() == n_total  # untouched
    assert retention_sweep(spark, plain, "ts", cutoff, delete=True) == n_old
    kept = spark.read.parquet(plain)
    assert kept.count() == n_total - n_old
    assert kept.where(F.col("ts") < F.lit(cutoff).cast("timestamp")).count() == 0

    # day-partitioned table: partition-drop form (no data rewrite)
    parts = str(tmp_path / "parts")
    ev.withColumn("day", F.date_format("ts", "yyyy-MM-dd")).write.partitionBy(
        "day"
    ).parquet(parts)
    removed = retention_sweep(
        spark, parts, "ts", cutoff, delete=True, day_partitioned=True
    )
    assert removed == n_old
    left = spark.read.parquet(parts)
    assert left.count() == n_total - n_old
    # partition column is inferred as DATE on read-back
    assert str(left.agg(F.min("day")).first()[0]) >= cutoff
