"""Time-series operators the brief names as custom-operator examples:
hypertable-style multi-resolution rollup and a bucketed range join.

Both are pure DataFrame compositions (no UDFs) with exact DuckDB
oracles. Float stability: event values are summed in DECIMAL so the
result is associative (parallelism-independent) and cast to double
once at the end — the engine's standard money-sum rule.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from reddit_can_bigdata_spark.operators.common import (
    DSUM_SQL,
    dsum,
    standard_grand_total,
    tables,
)
from reddit_can_bigdata_spark.registry import register

SESSION_GAP_US = 1_800_000_000  # 30 min, matches sessionize_events
EWMA_ALPHA = 0.5  # decay weight (1-alpha)^k = 0.5^k is exact in binary
EWMA_TERMS = 7  # explicit 7-day truncated EWMA window


@register(
    "hypertable_rollup",
    oracle="""
    WITH base AS (
      SELECT strftime(CAST(ts AS TIMESTAMP), '%Y-%m') AS month,
             strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d') AS day,
             strftime(CAST(ts AS TIMESTAMP), '%Y-%m-%d %H') AS hour,
             value
      FROM events
    )
    SELECT CASE WHEN hour IS NOT NULL THEN 'hour'
                WHEN day IS NOT NULL THEN 'day'
                WHEN month IS NOT NULL THEN 'month'
                ELSE 'all' END AS resolution,
           coalesce(hour, day, month, '*') AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(value AS DECIMAL(18,6))) AS DOUBLE) AS total_value
    FROM base
    GROUP BY ROLLUP(month, day, hour)
    """,
    tags=("timeseries", "rollup", "hypertable"),
)
def hypertable_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hypertable-style continuous aggregate: hour, day, month, and
    grand-total resolutions of the events table computed in ONE pass
    via ROLLUP over the derived (month, day, hour) hierarchy — the
    multi-resolution materialized view a TimescaleDB-style hypertable
    maintains, as a single grouping-sets aggregate (one shuffle covers
    every resolution; partial aggregation is per grouping set).

    At 100 TB this output IS the serving table: write it partitioned
    by resolution and queries hit the right granularity without
    rescanning raw events."""
    ev = tables(spark, sf_dir)["events"]
    base = ev.select(
        F.date_format("ts", "yyyy-MM").alias("month"),
        F.date_format("ts", "yyyy-MM-dd").alias("day"),
        F.date_format("ts", "yyyy-MM-dd HH").alias("hour"),
        "value",
    )
    res = (
        F.when(F.col("hour").isNotNull(), "hour")
        .when(F.col("day").isNotNull(), "day")
        .when(F.col("month").isNotNull(), "month")
        .otherwise("all")
    )
    rolled = (
        base.rollup("month", "day", "hour")
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.col("value").cast("decimal(18,6)"))
            .cast("double")
            .alias("total_value"),
        )
        .select(
            res.alias("resolution"),
            F.coalesce("hour", "day", "month", F.lit("*")).alias("bucket"),
            "n_events",
            "total_value",
        )
    )
    return standard_grand_total(
        rolled,
        ev,
        [
            F.lit("all").alias("resolution"),
            F.lit("*").alias("bucket"),
            F.lit(0).cast("bigint").alias("n_events"),
            F.lit(None).cast("double").alias("total_value"),
        ],
    )


@register(
    "range_join_sessions",
    oracle=f"""
    WITH gaps AS (
      SELECT user_id, event_id, epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
             CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
                       - lag(epoch_us(CAST(ts AS TIMESTAMP)))
                         OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > {SESSION_GAP_US}
                  OR lag(epoch_us(CAST(ts AS TIMESTAMP)))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events
    ),
    sess AS (
      SELECT user_id, tus,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY tus, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM gaps
    ),
    windows AS (
      SELECT user_id, CAST(MIN(tus) AS BIGINT) AS start_us,
             CAST(MAX(tus) AS BIGINT) AS end_us
      FROM sess GROUP BY user_id, sid
    )
    SELECT e.event_id, e.user_id, w.start_us AS session_start_us
    FROM events e JOIN windows w
      ON w.user_id = e.user_id
     AND epoch_us(CAST(e.ts AS TIMESTAMP)) BETWEEN w.start_us AND w.end_us
    """,
    tags=("timeseries", "range-join"),
)
def range_join_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join, bucketed: assign every event to the
    session window [start, end] that contains it.

    Spark has no interval-join operator; the naive formulation
    (equi-join on user + BETWEEN refinement) degenerates into
    per-user cartesian work when users have many windows. The
    scale-correct composition used here: explode each window into the
    DAYS it spans, bucket events by day, EQUI-join on (user, day) —
    partitionable, no inequality blowup — then refine with the exact
    BETWEEN predicate. Each candidate pairing is checked once; a
    window spanning k days appears in k buckets (k is tiny for
    session-scale windows).

    The windows are the users' own >30-min-gap sessions, so the
    result is exactly oracle-checkable against a plain inequality
    join in DuckDB."""
    ev = tables(spark, sf_dir)["events"].select(
        "event_id", "user_id", "ts", F.unix_micros("ts").alias("tus")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    gaps = ev.select(
        "user_id",
        "tus",
        F.when(
            (F.col("tus") - F.lag("tus").over(w) > SESSION_GAP_US)
            | F.lag("tus").over(w).isNull(),
            1,
        )
        .otherwise(0)
        .alias("new_session"),
        F.col("event_id").alias("eid"),
    )
    sess = gaps.withColumn(
        "sid",
        F.sum("new_session").over(
            Window.partitionBy("user_id")
            .orderBy("tus", "eid")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    windows = sess.groupBy("user_id", "sid").agg(
        F.min("tus").alias("start_us"), F.max("tus").alias("end_us")
    )
    # bucket windows by the days they span; bucket events by their day
    wb = windows.select(
        "user_id",
        "start_us",
        "end_us",
        F.explode(
            F.sequence(
                F.to_date(F.timestamp_micros(F.col("start_us"))),
                F.to_date(F.timestamp_micros(F.col("end_us"))),
            )
        ).alias("day"),
    )
    eb = ev.select("event_id", "user_id", "tus", F.to_date("ts").alias("day"))
    return (
        eb.join(wb, ["user_id", "day"])
        .where(F.col("tus").between(F.col("start_us"), F.col("end_us")))
        .select("event_id", "user_id", F.col("start_us").alias("session_start_us"))
    )


# ---------------------------------------------------------------------------
# round 4 additions: gap-fill interpolation, EWMA anomaly, funnel
# ---------------------------------------------------------------------------

# EWMA weights (1-alpha)^k for k=0..6 with alpha=0.5: every value is a
# negative power of two, exactly representable in binary, and repr()
# round-trips it — so the Spark and DuckDB expression trees are built
# from the SAME literal strings and produce bit-identical doubles.
_EWMA_WEIGHTS = [repr((1.0 - EWMA_ALPHA) ** k) for k in range(EWMA_TERMS)]


@register(
    "gapfill_interpolate_daily",
    oracle=f"""
    WITH daily AS (
      SELECT user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             {DSUM_SQL.format(x="value")} AS day_value
      FROM events WHERE event_type = 'purchase'
      GROUP BY user_id, CAST(CAST(ts AS TIMESTAMP) AS DATE)
    ),
    span AS (
      SELECT user_id, MIN(day) AS d0, MAX(day) AS d1 FROM daily GROUP BY user_id
    ),
    spine AS (
      SELECT user_id,
             CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE) AS day
      FROM span
    ),
    j AS (
      SELECT s.user_id, s.day, d.day_value
      FROM spine s LEFT JOIN daily d ON d.user_id = s.user_id AND d.day = s.day
    ),
    w AS (
      SELECT user_id, day, day_value,
        last_value(day_value IGNORE NULLS) OVER
          (PARTITION BY user_id ORDER BY day ROWS UNBOUNDED PRECEDING) AS pv,
        last_value(CASE WHEN day_value IS NOT NULL THEN day END IGNORE NULLS) OVER
          (PARTITION BY user_id ORDER BY day ROWS UNBOUNDED PRECEDING) AS pd,
        first_value(day_value IGNORE NULLS) OVER
          (PARTITION BY user_id ORDER BY day
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nv,
        first_value(CASE WHEN day_value IS NOT NULL THEN day END IGNORE NULLS) OVER
          (PARTITION BY user_id ORDER BY day
           ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING) AS nd
      FROM j
    )
    SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
           CASE WHEN day_value IS NOT NULL THEN day_value
                ELSE round(pv + (nv - pv) * (day - pd) / (nd - pd), 6)
           END AS value_filled,
           day_value IS NULL AS is_gap
    FROM w
    """,
    tags=("timeseries", "gapfill", "interpolation"),
    bench=True,
)
def gapfill_interpolate_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gap-fill + linear interpolation: regularize each user's sparse
    daily purchase series onto a dense per-user day spine (their own
    min..max day), filling missing days by linear interpolation
    between the nearest observed neighbors — the `time_bucket_gapfill`
    / `interpolate` operator of a time-series store, as a pure
    DataFrame composition.

    Plan: one daily aggregate (shuffle on (user, day)), a tiny
    per-user span aggregate whose `sequence()` explode rebuilds the
    spine, a left join back on (user, day), then TWO frame-bounded
    window passes (carry-last-forward / carry-next-backward with
    ignorenulls) — state per task is one row per direction. Nothing
    is quadratic in days or users; at 100 TB the spine explode is the
    only fan-out and it is bounded by the date range.

    Interpolated values round to 6dp (registry float rule); observed
    days pass through the exact DECIMAL day-sum untouched."""
    ev = tables(spark, sf_dir)["events"].where(F.col("event_type") == "purchase")
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(dsum("value").alias("day_value"))
    span = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    spine = span.select(
        "user_id", F.explode(F.sequence("d0", "d1")).alias("day")
    )
    j = spine.join(daily, ["user_id", "day"], "left")
    vday = F.when(F.col("day_value").isNotNull(), F.col("day"))
    wp = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    pv = F.last("day_value", ignorenulls=True).over(wp)
    pd_ = F.last(vday, ignorenulls=True).over(wp)
    nv = F.first("day_value", ignorenulls=True).over(wn)
    nd = F.first(vday, ignorenulls=True).over(wn)
    interp = pv + (nv - pv) * F.datediff(F.col("day"), pd_) / F.datediff(nd, pd_)
    return j.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.when(F.col("day_value").isNotNull(), F.col("day_value"))
        .otherwise(F.round(interp, 6))
        .alias("value_filled"),
        F.col("day_value").isNull().alias("is_gap"),
    )


def _ewma_sql_terms() -> tuple[str, str]:
    """DuckDB numerator/denominator term lists for the truncated EWMA —
    built from the same weight literals as the Spark side so both
    engines evaluate an identical chain of double ops."""
    num = " + ".join(
        f"coalesce(lag(day_value, {k}) OVER w * {wgt}, 0.0)"
        for k, wgt in enumerate(_EWMA_WEIGHTS)
    )
    den = " + ".join(
        f"(CASE WHEN lag(day_value, {k}) OVER w IS NOT NULL"
        f" THEN {wgt} ELSE 0.0 END)"
        for k, wgt in enumerate(_EWMA_WEIGHTS)
    )
    return num, den


_EWMA_NUM_SQL, _EWMA_DEN_SQL = _ewma_sql_terms()


@register(
    "ewma_anomaly_daily",
    oracle=f"""
    WITH daily AS (
      SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
             {DSUM_SQL.format(x="value")} AS day_value
      FROM events WHERE ts IS NOT NULL
      GROUP BY event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE)
    ),
    scored AS (
      SELECT event_type, day, day_value,
             round(({_EWMA_NUM_SQL}) / NULLIF(({_EWMA_DEN_SQL}), 0), 6) AS ewma
      FROM daily
      WINDOW w AS (PARTITION BY event_type ORDER BY day)
    )
    SELECT event_type, strftime(day, '%Y-%m-%d') AS day, day_value, ewma,
           day_value > 1.2 * ewma OR day_value < 0.8 * ewma AS is_anomaly
    FROM scored
    """,
    tags=("timeseries", "ewma", "anomaly"),
    bench=True,
)
def ewma_anomaly_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EWMA smoothing + threshold anomaly flag over the daily value
    series of each event type — the classic streaming-metrics monitor
    (smoothed baseline, flag days that deviate >20% from it).

    EWMA is a recursion, which distributed dataflow can't express
    directly; the standard scale trick is the TRUNCATED form — weights
    0.5^k die off so fast that 7 terms bound the error at 2^-7. That
    turns the recursion into a fixed 7-term weighted sum of window
    lags: ONE shuffle on event_type, one frame-bounded window pass,
    no iteration, no state. Weight literals are exact powers of two
    shared verbatim with the oracle, so the float chain is
    bit-identical across engines (ewma itself rounds to 6dp, and the
    anomaly comparison reads the rounded value — no boundary flips).
    """
    # NULL-ts rows are excluded on both engines: a daily series has no
    # bucket for an unknown day, and a NULL day would otherwise sort
    # differently in the two engines' window frames (Spark ASC is
    # NULLS FIRST, DuckDB's is NULLS LAST), shifting every lag term.
    ev = tables(spark, sf_dir)["events"].where(F.col("ts").isNotNull())
    daily = ev.groupBy("event_type", F.to_date("ts").alias("day")).agg(
        dsum("value").alias("day_value")
    )
    w = Window.partitionBy("event_type").orderBy("day")
    num = None
    den = None
    for k, wgt in enumerate(_EWMA_WEIGHTS):
        lagged = F.lag("day_value", k).over(w)
        term = F.coalesce(lagged * F.lit(float(wgt)), F.lit(0.0))
        dterm = F.when(lagged.isNotNull(), F.lit(float(wgt))).otherwise(F.lit(0.0))
        num = term if num is None else num + term
        den = dterm if den is None else den + dterm
    # try_divide: an all-NULL lag window (every visible day_value
    # NULL) has zero total weight — EWMA is undefined (NULL), not an
    # ANSI error; NULLIF pins DuckDB to the same rule
    scored = daily.withColumn("ewma", F.round(F.try_divide(num, den), 6))
    return scored.select(
        "event_type",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "day_value",
        "ewma",
        (
            (F.col("day_value") > 1.2 * F.col("ewma"))
            | (F.col("day_value") < 0.8 * F.col("ewma"))
        ).alias("is_anomaly"),
    )


FUNNEL_STAGES = ("signup", "view", "click", "purchase")


@register(
    "funnel_conversion",
    oracle="""
    WITH ev AS (
      SELECT user_id, event_type, epoch_us(CAST(ts AS TIMESTAMP)) AS tus
      FROM events
    ),
    s1 AS (SELECT user_id, MIN(tus) AS t FROM ev
           WHERE event_type = 'signup' GROUP BY user_id),
    s2 AS (SELECT e.user_id, MIN(e.tus) AS t FROM ev e JOIN s1 ON s1.user_id = e.user_id
           WHERE e.event_type = 'view' AND e.tus > s1.t GROUP BY e.user_id),
    s3 AS (SELECT e.user_id, MIN(e.tus) AS t FROM ev e JOIN s2 ON s2.user_id = e.user_id
           WHERE e.event_type = 'click' AND e.tus > s2.t GROUP BY e.user_id),
    s4 AS (SELECT e.user_id, MIN(e.tus) AS t FROM ev e JOIN s3 ON s3.user_id = e.user_id
           WHERE e.event_type = 'purchase' AND e.tus > s3.t GROUP BY e.user_id),
    stages AS (
      SELECT 1 AS stage_no, 'signup' AS stage, CAST(COUNT(*) AS BIGINT) AS n_users FROM s1
      UNION ALL
      SELECT 2, 'view', CAST(COUNT(*) AS BIGINT) FROM s2
      UNION ALL
      SELECT 3, 'click', CAST(COUNT(*) AS BIGINT) FROM s3
      UNION ALL
      SELECT 4, 'purchase', CAST(COUNT(*) AS BIGINT) FROM s4
    )
    SELECT stage_no, stage, n_users,
           round(CAST(n_users AS DOUBLE) / NULLIF(first_value(n_users) OVER
                 (ORDER BY stage_no ROWS BETWEEN UNBOUNDED PRECEDING
                  AND UNBOUNDED FOLLOWING), 0), 6) AS pct_of_first
    FROM stages
    """,
    tags=("events", "funnel", "window"),
    bench=True,
)
def funnel_conversion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered funnel analysis: how many users progress
    signup → view → click → purchase where each stage's event must
    happen STRICTLY AFTER the user's previous stage time (the
    product-analytics funnel operator, e.g. ClickHouse's
    `windowFunnel`, as relational composition).

    Each stage is a filtered min-aggregate joined to the previous
    stage's per-user time — at any scale the stage tables are
    user-sized (≪ events) and shrink monotonically, so Spark
    broadcast-joins them against the events scan; the events table is
    scanned once per stage with the event-type filter pushed down,
    never shuffled on a growing key. The final 4-row stage table
    normalizes against stage 1 with a scalar window."""
    ev = tables(spark, sf_dir)["events"].select(
        "user_id", "event_type", F.unix_micros("ts").alias("tus")
    )
    prev = (
        ev.where(F.col("event_type") == FUNNEL_STAGES[0])
        .groupBy("user_id")
        .agg(F.min("tus").alias("t"))
    )
    stage_dfs = [prev]
    for stage in FUNNEL_STAGES[1:]:
        nxt = (
            ev.where(F.col("event_type") == stage)
            .join(prev.select("user_id", F.col("t").alias("pt")), "user_id")
            .where(F.col("tus") > F.col("pt"))
            .groupBy("user_id")
            .agg(F.min("tus").alias("t"))
        )
        stage_dfs.append(nxt)
        prev = nxt
    counts = None
    for i, (stage, df) in enumerate(zip(FUNNEL_STAGES, stage_dfs), start=1):
        row = df.agg(F.count("*").cast("bigint").alias("n_users")).select(
            F.lit(i).alias("stage_no"), F.lit(stage).alias("stage"), "n_users"
        )
        counts = row if counts is None else counts.unionAll(row)
    w = Window.orderBy("stage_no").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    return counts.select(
        "stage_no",
        "stage",
        "n_users",
        # try_divide: with zero stage-1 users the funnel percentages are
        # undefined — NULL on both engines (oracle NULLIFs the divisor)
        F.round(
            F.try_divide(F.col("n_users").cast("double"), F.first("n_users").over(w)), 6
        ).alias("pct_of_first"),
    )


@register(
    "cohort_retention",
    oracle=f"""
    WITH ev AS (
      SELECT user_id, date_trunc('week', CAST(ts AS TIMESTAMP)) AS wk
      FROM events
    ),
    firsts AS (
      SELECT user_id, MIN(wk) AS cohort_wk FROM ev GROUP BY user_id
    ),
    active AS (
      SELECT DISTINCT e.user_id, f.cohort_wk, e.wk
      FROM ev e JOIN firsts f ON f.user_id = e.user_id
    ),
    sizes AS (
      SELECT cohort_wk, CAST(COUNT(*) AS BIGINT) AS cohort_size
      FROM firsts GROUP BY cohort_wk
    )
    SELECT strftime(a.cohort_wk, '%Y-%m-%d') AS cohort_week,
           CAST(date_diff('day', a.cohort_wk, a.wk) / 7 AS INT) AS week_offset,
           CAST(COUNT(*) AS BIGINT) AS n_active,
           s.cohort_size,
           round(COUNT(*) * 1.0 / s.cohort_size, 6) AS retention
    FROM active a JOIN sizes s ON s.cohort_wk = a.cohort_wk
    GROUP BY a.cohort_wk, a.wk, s.cohort_size
    """,
    tags=("events", "cohort", "retention"),
    bench=True,
)
def cohort_retention(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cohort retention matrix: users grouped by first-activity week,
    tracked by how many are still active N weeks later — THE
    product-analytics table every events warehouse serves.

    Plan: first-activity is one user-keyed aggregate; per-(user,
    week) activity dedups in the same shuffle family; the matrix is a
    (cohort, week) aggregate whose output is weeks^2-sized — trivial
    at any corpus scale. The cohort-size table is cohort-count-sized
    and broadcasts back. Week offsets are integer day-diffs of
    week-truncated dates divided by 7 — exact, engine-portable (both
    engines truncate to Monday); retention is one division of exact
    BIGINTs, rounded to 6dp."""
    ev = tables(spark, sf_dir)["events"].select(
        "user_id", F.date_trunc("week", "ts").alias("wk")
    )
    firsts = ev.groupBy("user_id").agg(F.min("wk").alias("cohort_wk"))
    active = ev.join(firsts, "user_id").select(
        "user_id", "cohort_wk", "wk"
    ).distinct()
    sizes = firsts.groupBy("cohort_wk").agg(
        F.count("*").cast("bigint").alias("cohort_size")
    )
    return (
        active.groupBy("cohort_wk", "wk")
        .agg(F.count("*").cast("bigint").alias("n_active"))
        .join(sizes, "cohort_wk")
        .select(
            F.date_format("cohort_wk", "yyyy-MM-dd").alias("cohort_week"),
            (F.datediff(F.col("wk"), F.col("cohort_wk")) / 7)
            .cast("int")
            .alias("week_offset"),
            "n_active",
            "cohort_size",
            F.round(F.col("n_active") * 1.0 / F.col("cohort_size"), 6).alias(
                "retention"
            ),
        )
    )


@register(
    "session_window_agg",
    oracle=f"""
    WITH gaps AS (
      SELECT user_id, event_id, value,
             epoch_us(CAST(ts AS TIMESTAMP)) AS tus,
             CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
                       - lag(epoch_us(CAST(ts AS TIMESTAMP)))
                         OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > {SESSION_GAP_US}
                  OR lag(epoch_us(CAST(ts AS TIMESTAMP)))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events WHERE ts IS NOT NULL
    ),
    sess AS (
      SELECT user_id, tus, value,
             SUM(new_session) OVER (PARTITION BY user_id ORDER BY tus, event_id
                                    ROWS UNBOUNDED PRECEDING) AS sid
      FROM gaps
    )
    SELECT user_id, CAST(MIN(tus) AS BIGINT) AS session_start_us,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           {DSUM_SQL.format(x="value")} AS total_value
    FROM sess GROUP BY user_id, sid
    """,
    tags=("timeseries", "session-window"),
)
def session_window_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Spark's BUILT-IN `session_window` aggregation (the dynamic-gap
    session operator Structured Streaming shares), oracle-checked
    against the gaps-and-islands SQL formulation — proving the native
    operator and the window-function composition define the SAME
    sessions.

    Semantics pinned by the oracle (and by the constructed boundary
    test): an event at EXACTLY gap distance still MERGES into the
    session — Spark closes a session at `last + gap` inclusive, so
    the SQL twin uses `> gap` for a new session, the SAME convention
    as the manual `sessionize_events`. The two formulations define
    identical sessions.

    Plan: one shuffle on user_id; Spark merges overlapping candidate
    windows per key in a single pass (UpdatingSessionsIterator) —
    state bounded by a user's open session, the same O(active keys)
    story as the streaming sessionizer. The session start is the
    first event's timestamp, emitted as exact BIGINT micros.

    NULL-ts events: Spark's session_window silently drops rows with
    no assignable window; the explicit filter pins the oracle's
    gaps-and-islands twin to the same rule."""
    ev = tables(spark, sf_dir)["events"].where(F.col("ts").isNotNull())
    return (
        ev.groupBy("user_id", F.session_window("ts", "30 minutes"))
        .agg(
            F.count("*").cast("bigint").alias("n_events"),
            dsum("value").alias("total_value"),
        )
        .select(
            "user_id",
            F.unix_micros(F.col("session_window.start")).alias("session_start_us"),
            "n_events",
            "total_value",
        )
    )


# ---------------------------------------------------------------------------
# round 6: CUSUM changepoint / drift detection over daily counts
# ---------------------------------------------------------------------------


def _register_cusum() -> None:
    @register(
        "cusum_changepoint_daily",
        oracle="""
        WITH daily AS (
          SELECT event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE) AS day,
                 CAST(COUNT(*) AS BIGINT) AS x
          FROM events WHERE ts IS NOT NULL
          GROUP BY event_type, CAST(CAST(ts AS TIMESTAMP) AS DATE)
        ),
        seq AS (
          SELECT event_type, day, x,
                 CAST(SUM(x) OVER w AS BIGINT) AS cum,
                 CAST(row_number() OVER w AS BIGINT) AS i,
                 CAST(SUM(x) OVER p AS BIGINT) AS total,
                 CAST(COUNT(*) OVER p AS BIGINT) AS n
          FROM daily
          WINDOW w AS (PARTITION BY event_type ORDER BY day
                       ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
                 p AS (PARTITION BY event_type)
        ),
        drifted AS (
          SELECT event_type, day, x,
                 cum - CAST(i * total AS DOUBLE) / n AS drift,
                 sqrt(CAST(total AS DOUBLE) / n) AS sigma
          FROM seq
        ),
        scored AS (
          -- least(0, ...): the running min must include the EMPTY
          -- prefix (drift_0 = 0), else the statistic clamps to 0
          -- whenever every prefix drift is positive and a changepoint
          -- at the start of the series is masked
          SELECT event_type, day, x, sigma,
                 drift - least(0.0e0, min(drift) OVER (
                   PARTITION BY event_type ORDER BY day
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 )) AS cusum
          FROM drifted
        )
        SELECT event_type, strftime(day, '%Y-%m-%d') AS day, x,
               round(cusum, 6) AS cusum,
               cusum > 3.0e0 * sigma AS is_change
        FROM scored
        """,
        tags=("timeseries", "changepoint", "cusum", "anomaly"),
    )
    def cusum_changepoint_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
        """CUSUM CHANGEPOINT detection over each event type's daily
        count series — the classic drift monitor (Page 1954) a data
        pipeline runs on its own ingest volumes: a sustained rate
        shift accumulates where a one-day spike does not (the
        complement of `ewma_anomaly_daily`'s point-anomaly flag).

        The recursion s_i = max(0, s_{i-1} + (x_i - mean)) is not
        window-expressible directly; the prefix-sum identity is:
        s_i = drift_i - min_{0<=j<=i} drift_j with drift_i = cum_i -
        i*mean and the EMPTY prefix drift_0 = 0 included via
        least(0, min(...)) — omitting it clamps the statistic to 0
        whenever all prefix drifts are positive, masking changepoints
        at the start of a series (found in review, pinned by test).
        That is two ordered-frame window passes over a days-sized
        table — one shuffle on event_type, no iteration. Threshold
        h = 3*sqrt(mean) (the Poisson-scale rule of thumb).

        Float discipline: x and cum are exact BIGINTs; i*mean is
        computed as CAST(i*total AS DOUBLE)/n — one exact integer
        product, one division — so every double is produced by the
        same literal expression in both engines and the running min /
        threshold comparison cannot flip. NULL-ts rows are excluded on
        both sides (same rationale as the EWMA query)."""
        ev = tables(spark, sf_dir)["events"].where(F.col("ts").isNotNull())
        daily = ev.groupBy(
            "event_type", F.to_date("ts").alias("day")
        ).agg(F.count("*").cast("bigint").alias("x"))
        w = (
            Window.partitionBy("event_type")
            .orderBy("day")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        p = Window.partitionBy("event_type")
        seq = daily.select(
            "event_type",
            "day",
            "x",
            F.sum("x").over(w).cast("bigint").alias("cum"),
            F.row_number()
            .over(Window.partitionBy("event_type").orderBy("day"))
            .cast("bigint")
            .alias("i"),
            F.sum("x").over(p).cast("bigint").alias("total"),
            F.count("*").over(p).cast("bigint").alias("n"),
        )
        drift = F.col("cum") - (F.col("i") * F.col("total")).cast(
            "double"
        ) / F.col("n")
        sigma = F.sqrt(F.col("total").cast("double") / F.col("n"))
        drifted = seq.select(
            "event_type", "day", "x",
            drift.alias("drift"), sigma.alias("sigma"),
        )
        cusum = F.col("drift") - F.least(
            F.lit(0.0), F.min("drift").over(w)
        )
        return drifted.select(
            "event_type",
            F.date_format("day", "yyyy-MM-dd").alias("day"),
            "x",
            F.round(cusum, 6).alias("cusum"),
            (cusum > F.lit(3.0) * F.col("sigma")).alias("is_change"),
        )


_register_cusum()
