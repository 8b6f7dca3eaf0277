"""Custom stateful streaming operator: per-user sessionization via
``applyInPandasWithState`` (SURVEY §2.8 extension — the reference has
no stateful streaming at all; its foreachBatch collect()-loop
(`spark-streaming-pyspark/spark_streaming.py:109-155`) cannot carry
state across batches).

Semantics match the batch `sessionize_events` operator
(`operators/advanced.py`): a user's event stream splits at >30-minute
gaps. The stream variant emits a session's summary row as soon as a
LATER event proves the session closed (the gap has passed); each
user's final, still-open session stays in state and is never emitted
— the only difference from batch, and exactly what a continuous
pipeline wants (open sessions aren't done yet).

Scale stance: state is ONE small tuple per active user (start, last
event time, count) — O(active users), evicted per user as sessions
close only on new input. Arrow moves each group's batch rows to
Python once per micro-batch; everything else stays JVM-side.
"""

from __future__ import annotations

import os
from typing import TYPE_CHECKING, Iterator

from pyspark.sql import DataFrame, functions as F

from reddit_can_bigdata_spark.registry import register
from reddit_can_bigdata_spark.streaming.pipeline import BoundedRun, parquet_stream

if TYPE_CHECKING:  # pragma: no cover
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState

SESSION_GAP_SECONDS = 30 * 60

# emitted once per CLOSED session
SESSION_SCHEMA = (
    "user_id bigint, session_start timestamp, session_end timestamp, n_events bigint"
)
# per-user carry-over: current open session (epoch micros to keep the
# state tuple primitive and timezone-proof)
STATE_SCHEMA = "start_us bigint, last_us bigint, n bigint"


def _sessionize_group(key, pdf_iter: "Iterator[pd.DataFrame]", state: "GroupState"):
    """Fold one user's micro-batch rows into the open-session state,
    yielding summaries of sessions closed by this batch's events."""
    import pandas as pd

    (user_id,) = key
    rows = pd.concat(list(pdf_iter), ignore_index=True)
    # event-time order within the batch; ties broken by event_id so
    # replays fold identically (exactly-once state updates)
    rows = rows.sort_values(["ts", "event_id"], kind="mergesort")
    ts_us = (rows["ts"].astype("int64") // 1000).tolist()

    if state.exists:
        start_us, last_us, n = state.get
    else:
        start_us = last_us = -1
        n = 0

    closed: list[tuple[int, int, int, int]] = []
    for t in ts_us:
        if start_us < 0:
            start_us, last_us, n = t, t, 1
        elif t - last_us > SESSION_GAP_SECONDS * 1_000_000:
            closed.append((user_id, start_us, last_us, n))
            start_us, last_us, n = t, t, 1
        else:
            last_us, n = t, n + 1
    state.update((start_us, last_us, n))

    if closed:
        out = pd.DataFrame(
            closed, columns=["user_id", "session_start", "session_end", "n_events"]
        )
        out["session_start"] = pd.to_datetime(out["session_start"], unit="us")
        out["session_end"] = pd.to_datetime(out["session_end"], unit="us")
        yield out


def sessionize_stream(events: DataFrame) -> DataFrame:
    """Streaming sessionization over an events stream with columns
    (user_id, ts timestamp, event_id). Returns the closed-session
    summary stream (append mode).

    NULL event times are excluded up front — the standard event-time
    contract (Spark's own window/session_window operators drop them
    too); inside the fold a NaT would otherwise coerce to the int64
    sentinel and fabricate sessions at the epoch boundary."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    return (
        events.select("user_id", "ts", "event_id")
        .where(F.col("ts").isNotNull())
        .groupBy("user_id")
        .applyInPandasWithState(
            _sessionize_group,
            outputStructType=SESSION_SCHEMA,
            stateStructType=STATE_SCHEMA,
            outputMode="append",
            timeoutConf=GroupStateTimeout.NoTimeout,
        )
    )


def run_sessionize_stream(
    spark, source: str, max_files_per_trigger: int | None = None
) -> DataFrame:
    """Drive `sessionize_stream` over a parquet file-stream of
    ``source`` (a file or a directory) as one bounded run into a memory
    sink; returns the materialized closed-session table.
    ``max_files_per_trigger=1`` forces one micro-batch per input file so
    cross-batch state carry-over is actually exercised (a single batch
    would never leave Python)."""
    with BoundedRun(spark, source) as run:
        stream = parquet_stream(spark, run.src, max_files_per_trigger=max_files_per_trigger)
        return run.to_memory(sessionize_stream(stream))


@register(
    "streaming_sessionize_stateful",
    oracle="""
    WITH gaps AS (
      SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
             CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
                       - lag(epoch_us(CAST(ts AS TIMESTAMP)))
                         OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > 1800000000
                  OR lag(epoch_us(CAST(ts AS TIMESTAMP)))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events WHERE ts IS NOT NULL
    ),
    sess AS (
      SELECT user_id, tus,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY tus, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM gaps
    ),
    agg AS (
      SELECT user_id, sid,
             CAST(MIN(tus) AS BIGINT) AS session_start_us,
             CAST(MAX(tus) AS BIGINT) AS session_end_us,
             CAST(COUNT(*) AS BIGINT) AS n_events
      FROM sess GROUP BY user_id, sid
    )
    SELECT user_id, session_start_us, session_end_us, n_events
    FROM agg
    QUALIFY sid < MAX(sid) OVER (PARTITION BY user_id)
    """,
    tags=("streaming", "stateful", "sessionize"),
)
def streaming_sessionize_stateful(spark, sf_dir: str) -> DataFrame:
    """ST-custom: the stateful sessionizer run as a REAL Structured
    Streaming query (availableNow over a bounded file-stream of the
    events table). Its closed-session output must equal the batch/SQL
    sessionization minus each user's final (still-open) session —
    stream/batch equivalence, the Structured Streaming correctness
    contract, here extended to custom ``applyInPandasWithState``
    logic. Timestamps emitted as epoch micros (engine-portable)."""
    from reddit_can_bigdata_spark.operators.common import tables

    tables(spark, sf_dir)  # sets the nanos-as-long conf for the raw read
    out = run_sessionize_stream(spark, os.path.join(sf_dir, "events.parquet"))
    return out.select(
        "user_id",
        F.unix_micros("session_start").alias("session_start_us"),
        F.unix_micros("session_end").alias("session_end_us"),
        "n_events",
    )
