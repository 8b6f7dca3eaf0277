"""applyInPandasWithState sessionizer: exact closed-session output,
including state carried ACROSS micro-batches (the thing foreachBatch
cannot do)."""

from __future__ import annotations

import os
import time

import pandas as pd


def _write(path, rows):
    pdf = pd.DataFrame(rows, columns=["user_id", "ts", "event_id"])
    pdf["ts"] = pd.to_datetime(pdf["ts"]).astype("datetime64[us]")
    pdf.to_parquet(path)


def test_sessionize_stream_closes_sessions_across_batches(spark, tmp_path):
    """Two input files processed as two micro-batches
    (maxFilesPerTrigger=1): user 1's first session SPANS the batch
    boundary and is closed by a later event — provable only if state
    survives between batches. Open sessions are never emitted."""
    from reddit_can_bigdata_spark.streaming.stateful import run_sessionize_stream

    src = tmp_path / "src"
    src.mkdir()
    _write(
        src / "f1.parquet",
        [
            (1, "2024-01-01 10:00:00", 1),
            (1, "2024-01-01 10:10:00", 2),
            (2, "2024-01-01 09:00:00", 3),
            (3, "2024-01-01 08:00:00", 4),
        ],
    )
    time.sleep(1.1)  # distinct mtimes -> deterministic file order
    _write(
        src / "f2.parquet",
        [
            (1, "2024-01-01 10:20:00", 5),  # extends the open session
            (1, "2024-01-01 12:00:00", 6),  # >30 min gap: closes it
            (2, "2024-01-01 11:00:00", 7),  # closes user 2's session
        ],
    )
    os.utime(src / "f2.parquet")

    out = run_sessionize_stream(spark, str(src), max_files_per_trigger=1)
    got = sorted(
        (r["user_id"], str(r["session_start"]), str(r["session_end"]), r["n_events"])
        for r in out.collect()
    )
    assert got == [
        (1, "2024-01-01 10:00:00", "2024-01-01 10:20:00", 3),
        (2, "2024-01-01 09:00:00", "2024-01-01 09:00:00", 1),
    ]


def test_sessionize_stream_equals_batch_minus_open(spark, sf_dir):
    """Stream/batch equivalence on the fixture events table: the
    streaming closed sessions equal the batch sessionization minus
    each user's final (still-open) session."""
    from pyspark.sql import Window, functions as F

    from reddit_can_bigdata_spark.registry import REGISTRY, _ensure_loaded
    from reddit_can_bigdata_spark.tables import load_tables

    _ensure_loaded()
    got = sorted(
        tuple(r)
        for r in REGISTRY["streaming_sessionize_stateful"].fn(spark, sf_dir).collect()
    )

    ev = load_tables(spark, sf_dir)["events"]
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id",
        "event_id",
        F.unix_micros("ts").alias("tus"),
        F.when(
            (F.unix_micros("ts") - F.lag(F.unix_micros("ts")).over(w) > 1_800_000_000)
            | F.lag("ts").over(w).isNull(),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
    )
    sess = gaps.withColumn(
        "sid",
        F.sum("new_session").over(
            Window.partitionBy("user_id")
            .orderBy("tus", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    agg = sess.groupBy("user_id", "sid").agg(
        F.min("tus").alias("session_start_us"),
        F.max("tus").alias("session_end_us"),
        F.count("*").alias("n_events"),
    )
    closed = agg.withColumn(
        "maxsid", F.max("sid").over(Window.partitionBy("user_id"))
    ).where(F.col("sid") < F.col("maxsid"))
    expected = sorted(
        (r["user_id"], r["session_start_us"], r["session_end_us"], r["n_events"])
        for r in closed.collect()
    )
    assert got == expected
    assert expected, "fixture should contain closed sessions"


def test_transform_with_state_plan_constructs(spark):
    """The NEW transformWithStateInPandas API (Spark 4 arbitrary
    state): plan construction + schema, independent of the runtime
    gate."""
    from reddit_can_bigdata_spark.streaming.tws import (
        MILESTONE_SCHEMA,
        milestones_stream,
    )

    src = spark.readStream.format("rate").option("rowsPerSecond", 1).load()
    events = src.selectExpr(
        "value AS user_id", "value AS event_id", "timestamp AS ts"
    )
    df = milestones_stream(events)
    assert df.isStreaming
    assert df.schema == MILESTONE_SCHEMA


def test_transform_with_state_executes_and_matches_oracle(spark, sf_dir, tmp_path):
    """Round 8: the protoshim (google-cloud-sdk protobuf runtime on
    worker PYTHONPATHs, RocksDB state store) makes the
    transformWithStateInPandas milestone operator EXECUTE end-to-end
    in this sandbox. Batch-invariance makes the result exactly
    checkable: compare the streaming run against the window-function
    form of the oracle, and re-run with maxFilesPerTrigger=1 to prove
    micro-batch boundaries don't change the output."""
    import pytest

    from pyspark.sql import Window, functions as F

    from reddit_can_bigdata_spark.streaming.tws import (
        MILESTONE_EVERY,
        TWS_EXECUTABLE,
        run_milestones_stream,
    )
    from reddit_can_bigdata_spark.tables import coerce_ts

    if not TWS_EXECUTABLE:
        pytest.skip(
            "no protobuf runtime on this machine (native or SDK shim) — "
            "transformWithState worker cannot start"
        )

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    src = str(tmp_path / "src")
    events.select("user_id", "event_id", "ts").write.parquet(src)

    got_df = run_milestones_stream(spark, src)
    got = sorted((r.user_id, r.milestone, r.tus) for r in got_df.collect())

    # batch oracle: row_number over (ts, event_id) per user
    src_df = coerce_ts(spark.read.parquet(src))
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    expected_df = (
        src_df.withColumn("rn", F.row_number().over(w))
        .where(F.col("rn") % MILESTONE_EVERY == 0)
        .select(
            "user_id",
            F.col("rn").cast("long").alias("milestone"),
            F.unix_micros("ts").alias("tus"),
        )
    )
    expected = sorted(
        (r.user_id, r.milestone, r.tus) for r in expected_df.collect()
    )
    assert got == expected
    assert expected, "fixture should produce at least one milestone"

    # batch-invariance: one file per micro-batch yields identical rows
    rebatched = run_milestones_stream(spark, src, max_files_per_trigger=1)
    got2 = sorted((r.user_id, r.milestone, r.tus) for r in rebatched.collect())
    assert got2 == expected
