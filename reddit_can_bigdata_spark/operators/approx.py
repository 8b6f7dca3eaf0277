"""Sketch-based and sampled approximate aggregates — the 100 TB
substitutions.

An engine-portable Count-Min Sketch (hash-checked as a relation, its
point-query guarantee contract-tested in tests/test_approx.py), exact
heavy hitters, and hash-sampled aggregates that carry their own
confidence intervals.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from reddit_can_bigdata_spark.functions.text import PORTABLE_HASH32_SQL
from reddit_can_bigdata_spark.operators.common import tables
from reddit_can_bigdata_spark.registry import register


CMS_DEPTH = 4
CMS_WIDTH = 2719  # prime; eps ≈ e/width ≈ 0.001


def cms_sketch(df: DataFrame, col: str) -> DataFrame:
    """Count-Min Sketch as a RELATION: (row_i, bucket, cnt) counters,
    depth×width fixed size regardless of key cardinality. Each input
    row increments one bucket per hash row (portable md5-based hash,
    salted by the row index), so partial sketches merge by adding
    counts — a treeAggregate-able heavy-hitter structure whose build
    is one explode(depth) + one bounded group-by.

    Unlike Spark's built-in binary sketch this one is engine-portable:
    the identical table is computable in DuckDB, so the driver's
    oracle gate hash-checks the sketch itself; the CMS guarantee
    (true ≤ estimate ≤ true + collisions) is contract-tested on top.
    """
    from reddit_can_bigdata_spark.functions.text import portable_hash32

    rows = df.select(
        F.col(col).alias("key"),
        F.explode(F.sequence(F.lit(0), F.lit(CMS_DEPTH - 1))).alias("row_i"),
    )
    bucket = portable_hash32(
        F.concat(F.col("row_i").cast("string"), F.lit(":"), F.col("key"))
    ) % CMS_WIDTH
    return (
        rows.select("row_i", bucket.alias("bucket"))
        .groupBy("row_i", "bucket")
        .agg(F.count("*").alias("cnt"))
    )


_CMS_HASH = PORTABLE_HASH32_SQL.format(
    x="(CAST(row_i AS VARCHAR) || ':' || key)"
)


@register(
    "cms_event_type_sketch",
    oracle=f"""
    WITH rows AS (
      SELECT event_type AS key, i AS row_i
      FROM events CROSS JOIN generate_series(0, {CMS_DEPTH - 1}) t(i)
    )
    SELECT row_i, {_CMS_HASH} % {CMS_WIDTH} AS bucket,
           CAST(COUNT(*) AS BIGINT) AS cnt
    FROM rows GROUP BY row_i, bucket
    """,
    tags=("approx", "sketch", "cms"),
)
def cms_event_type_sketch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The Count-Min sketch of event_type frequencies as a relation —
    the sketch TABLE itself is hash-exact against the DuckDB oracle
    (portable md5 bucket hashing), making the approximate structure
    exactly verifiable even though its estimates are approximate."""
    return cms_sketch(tables(spark, sf_dir)["events"], "event_type")


def cms_estimate(sketch_rows: list, key: str) -> int:
    """Point estimate from a collected sketch: min over hash rows of
    the key's bucket counter (CMS query)."""
    import hashlib

    counters = {(r["row_i"], r["bucket"]): r["cnt"] for r in sketch_rows}
    ests = []
    for i in range(CMS_DEPTH):
        h = int(hashlib.md5(f"{i}:{key}".encode()).hexdigest()[:8], 16) % CMS_WIDTH
        ests.append(counters.get((i, h), 0))
    return min(ests)


# ---------------------------------------------------------------------------
# round 4: heavy hitters
# ---------------------------------------------------------------------------

HH_PHI_DEN = 50  # heavy hitter = frequency > n / HH_PHI_DEN (2%)


@register(
    "heavy_hitters_exact",
    oracle=f"""
    WITH tok AS (
      SELECT unnest(list_filter(string_split(text, ' '), t -> t <> '')) AS term
      FROM documents
    ),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS total FROM tok),
    cnt AS (SELECT term, CAST(COUNT(*) AS BIGINT) AS freq FROM tok GROUP BY term)
    SELECT term, freq, total
    FROM cnt CROSS JOIN n
    WHERE freq * {HH_PHI_DEN} > total
    """,
    tags=("approx", "heavy-hitters"),
)
def heavy_hitters_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact phi-heavy-hitters (tokens with frequency > 2% of the
    stream): one hash aggregate + a 1-row total broadcast; the
    threshold is an integer cross-multiplication (no division,
    bit-exact)."""
    from reddit_can_bigdata_spark.operators.pretrain import TOKENS_EXPR

    docs = tables(spark, sf_dir)["documents"]
    tok = docs.select(F.explode(F.expr(TOKENS_EXPR)).alias("term"))
    n = tok.agg(F.count("*").cast("bigint").alias("total"))
    cnt = tok.groupBy("term").agg(F.count("*").cast("bigint").alias("freq"))
    return (
        cnt.crossJoin(n)
        .where(F.col("freq") * HH_PHI_DEN > F.col("total"))
        .select("term", "freq", "total")
    )


# ---------------------------------------------------------------------------
# round 4 (session 3): error-bounded approximate aggregation
# ---------------------------------------------------------------------------

SAMPLE_MOD = 16  # keep 1-in-16 rows (hash-deterministic)

_CI_REV = (
    "CAST(l_extendedprice AS DECIMAL(18,4))"
    " * CAST(1.0 - l_discount AS DECIMAL(9,4))"
)
_CI_KEY = "concat(CAST(l_orderkey AS VARCHAR), '_', CAST(l_linenumber AS VARCHAR))"


@register(
    "approx_sample_revenue_ci",
    oracle=f"""
    WITH agg AS (
      SELECT COUNT(*) AS n_total,
             COUNT(*) FILTER (insample) AS n_sample,
             CAST(SUM({_CI_REV}) AS DOUBLE) AS exact_total,
             CAST(SUM(CASE WHEN insample THEN {_CI_REV} END) AS DOUBLE) AS s,
             CAST(SUM(CASE WHEN insample
                  THEN CAST({_CI_REV} AS DECIMAL(19,4))
                       * CAST({_CI_REV} AS DECIMAL(19,4))
                  END) AS DOUBLE) AS s2
      FROM (SELECT *,
              {PORTABLE_HASH32_SQL.format(x=_CI_KEY)} % {SAMPLE_MOD} = 0
                AS insample
            FROM lineitem)
    )
    SELECT CAST(n_total AS BIGINT) AS n_total,
           CAST(n_sample AS BIGINT) AS n_sample,
           ROUND(exact_total, 2) AS exact_total,
           CASE WHEN n_sample >= 1
                THEN ROUND(s / n_sample * n_total, 2) END AS est_total,
           CASE WHEN n_sample >= 2
                THEN ROUND(sqrt((s2 - s * s / n_sample) / (n_sample - 1)
                                / n_sample
                                * (1.0 - CAST(n_sample AS DOUBLE) / n_total))
                           * n_total, 2) END AS se_total,
           CASE WHEN n_sample >= 2
                THEN ROUND(s / n_sample * n_total
                 - 1.96 * sqrt((s2 - s * s / n_sample) / (n_sample - 1)
                               / n_sample
                               * (1.0 - CAST(n_sample AS DOUBLE) / n_total))
                        * n_total, 2) END AS ci95_lo,
           CASE WHEN n_sample >= 2
                THEN ROUND(s / n_sample * n_total
                 + 1.96 * sqrt((s2 - s * s / n_sample) / (n_sample - 1)
                               / n_sample
                               * (1.0 - CAST(n_sample AS DOUBLE) / n_total))
                        * n_total, 2) END AS ci95_hi
    FROM agg
    """,
    tags=("approx", "sampling", "ci"),
)
def approx_sample_revenue_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """BlinkDB-style error-bounded approximation: estimate total
    revenue from a deterministic 1-in-{SAMPLE_MOD} hash sample and
    report the 95% CI from the finite-population SRS estimator
    (se = N * sqrt(var/n * (1 - n/N))).

    ONE pass computes everything as conditional aggregates (the exact
    total rides along here only to expose the CI's honesty; the
    production point is that the sample-side scan could read 1/16th
    of the data via a hash-bucketed layout). The sample membership is
    the portable md5 hash — reproducible across engines, reruns, and
    partitionings, unlike `sample(fraction, seed)`. Sums accumulate
    in DECIMAL — including the x² moment: the revenue term carries at
    most 4 decimal places, so the (18,4) recast is exact and the
    squared decimal sum is order-independent (a plain double sum here
    would be the partition-order ULP footgun dsum() exists to avoid);
    every derived stat is the identical double expression tree on
    both sides, rounded to cents.

    Degenerate inputs are guarded identically on both sides (the
    grouped variant's rule applied here): est needs n_sample >= 1 and
    se/ci need n_sample >= 2, else NULL — without the guard a
    filtered-down input hits x/0, where Spark doubles yield Inf/NaN
    but DuckDB's behavior depends on its ieee_floating_point_ops
    setting — a latent cross-engine divergence.

    `tests/test_approx.py` pins that the exact total falls inside the
    interval at both SFs and that se scales ~1/sqrt(n)."""
    from reddit_can_bigdata_spark.functions.text import portable_hash32

    li = tables(spark, sf_dir)["lineitem"]
    rev = F.col("l_extendedprice").cast("decimal(18,4)") * (
        F.lit(1.0) - F.col("l_discount")
    ).cast("decimal(9,4)")
    key = F.concat(
        F.col("l_orderkey").cast("string"),
        F.lit("_"),
        F.col("l_linenumber").cast("string"),
    )
    insample = portable_hash32(key) % SAMPLE_MOD == 0
    agg = li.agg(
        F.count("*").cast("bigint").alias("n_total"),
        F.count(F.when(insample, 1)).cast("bigint").alias("n_sample"),
        F.sum(rev).cast("double").alias("exact_total_raw"),
        F.sum(F.when(insample, rev)).cast("double").alias("s"),
        F.sum(
            # (18,4)^2 -> DECIMAL(37,8) in Spark, exact; the oracle uses
            # (19,4) because DuckDB needs int128 operands for the same
            # product (int64 DECIMAL(18) overflows) -> (38,8), same value
            F.when(insample, rev.cast("decimal(18,4)") * rev.cast("decimal(18,4)"))
        )
        .cast("double")
        .alias("s2"),
    )
    n, ns = F.col("n_total"), F.col("n_sample")
    s, s2 = F.col("s"), F.col("s2")
    est = s / ns * n
    se = (
        F.sqrt(
            (s2 - s * s / ns)
            / (ns - F.lit(1))
            / ns
            * (F.lit(1.0) - ns.cast("double") / n)
        )
        * n
    )
    return agg.select(
        "n_total",
        "n_sample",
        F.round("exact_total_raw", 2).alias("exact_total"),
        F.when(ns >= 1, F.round(est, 2)).alias("est_total"),
        F.when(ns >= 2, F.round(se, 2)).alias("se_total"),
        F.when(ns >= 2, F.round(est - F.lit(1.96) * se, 2)).alias("ci95_lo"),
        F.when(ns >= 2, F.round(est + F.lit(1.96) * se, 2)).alias("ci95_hi"),
    )


_GCI_KEY = "CAST(event_id AS VARCHAR)"
_GCI_VAL = "CAST(CAST(value AS DECIMAL(18,4)) AS DECIMAL(19,4))"


@register(
    "approx_group_value_ci",
    oracle=f"""
    WITH agg AS (
      SELECT event_type,
             COUNT(*) AS n_total,
             COUNT(*) FILTER (insample) AS n_sample,
             CAST(SUM(CASE WHEN insample THEN {_GCI_VAL} END) AS DOUBLE) AS s,
             CAST(SUM(CASE WHEN insample THEN {_GCI_VAL} * {_GCI_VAL} END)
                  AS DOUBLE) AS s2
      FROM (SELECT *,
              {PORTABLE_HASH32_SQL.format(x=_GCI_KEY)} % {SAMPLE_MOD} = 0
                AS insample
            FROM events)
      GROUP BY event_type
    )
    SELECT event_type,
           CAST(n_total AS BIGINT) AS n_total,
           CAST(n_sample AS BIGINT) AS n_sample,
           ROUND(s / n_sample * n_total, 2) AS est_total,
           ROUND(sqrt((s2 - s * s / n_sample) / (n_sample - 1) / n_sample
                      * (1.0 - CAST(n_sample AS DOUBLE) / n_total))
                 * n_total, 2) AS se_total
    FROM agg
    WHERE n_sample >= 2
    """,
    tags=("approx", "sampling", "ci", "group"),
)
def approx_group_value_ci(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The GROUPED form of the sample estimator: per-event-type total
    `value` with its standard error, from the same 1-in-{SAMPLE_MOD}
    portable-hash sample — what an approximate engine actually serves
    (every GROUP BY answer carries its own error bar; groups whose
    sample is too small for a variance estimate are withheld rather
    than reported with a fake se). Identical arithmetic to
    approx_sample_revenue_ci, one hash aggregate on event_type; the
    sample predicate is group-independent, so per-group estimates stay
    unbiased. The (19,4) decimal in BOTH engines here (vs the
    18/19 split in the scalar query): value is small enough that
    Spark's (19,4)^2 -> (38,8) stays in range too, and one shared
    width keeps the oracle string identical to the Spark types."""
    from reddit_can_bigdata_spark.functions.text import portable_hash32

    ev = tables(spark, sf_dir)["events"]
    val = F.col("value").cast("decimal(18,4)").cast("decimal(19,4)")
    insample = (
        portable_hash32(F.col("event_id").cast("string")) % SAMPLE_MOD == 0
    )
    agg = ev.groupBy("event_type").agg(
        F.count("*").cast("bigint").alias("n_total"),
        F.count(F.when(insample, 1)).cast("bigint").alias("n_sample"),
        F.sum(F.when(insample, val)).cast("double").alias("s"),
        F.sum(F.when(insample, val * val)).cast("double").alias("s2"),
    )
    n, ns, s, s2 = (F.col(c) for c in ("n_total", "n_sample", "s", "s2"))
    est = s / ns * n
    se = (
        F.sqrt(
            (s2 - s * s / ns)
            / (ns - F.lit(1))
            / ns
            * (F.lit(1.0) - ns.cast("double") / n)
        )
        * n
    )
    return agg.where(ns >= 2).select(
        "event_type",
        "n_total",
        "n_sample",
        F.round(est, 2).alias("est_total"),
        F.round(se, 2).alias("se_total"),
    )
