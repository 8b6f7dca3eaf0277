"""Table catalog: load the driver-generated parquet tables.

The reference loads whole MongoDB collections into pandas
(``dashboard/dashboard.py:148-155``); here every table is a columnar
parquet scan, so Catalyst pushes filters and prunes columns down to the
file reader for free. ``load_tables`` registers one temp view per
table so every query is also runnable via ``spark.sql``.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession, functions as F

TABLE_NAMES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)


#: per-process catalog memo: {(session id, sf_dir, listing fingerprint):
#: tables dict}. ``tables()`` is called several times inside a single
#: query builder (and 58 x 3 times per bench run); each cold call costs
#: ten ``spark.read.parquet`` footer reads plus ten temp-view
#: registrations of driver latency for identical DataFrames. The memo
#: key includes every table file's (mtime_ns, size), so a regenerated
#: fixture — the maintenance/layout tests rewrite tables in place —
#: always gets a fresh scan (a parquet DataFrame pins its file listing
#: at read time, so reusing one across a rewrite would serve stale
#: files). Plan-handle reuse only: no data or results are cached.
_CATALOG_MEMO: dict[tuple, dict[str, DataFrame]] = {}


def _dir_fingerprint(sf_dir: str) -> tuple:
    parts = []
    for name in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        try:
            st = os.stat(path)
            parts.append((name, st.st_mtime_ns, st.st_size))
        except OSError:
            parts.append((name, None, None))
    return tuple(parts)


def coerce_ts(df: DataFrame, col: str = "ts") -> DataFrame:
    """Event time as TIMESTAMP, from each form it takes on disk: the
    one coercion every batch and stream read of events goes through
    (event-time watermarks and ``unix_micros`` require TIMESTAMP).

    - ``bigint`` is parquet TIMESTAMP(NANOS) read as epoch nanos (see
      session.py nanosAsLong); the values are µs-precision, so the
      div-1000 conversion is lossless;
    - ``timestamp_ntz`` is naive parquet timestamp[us] under Spark 4's
      inferTimestampNTZ. Session tz is pinned to UTC (session.py), so
      the cast keeps the wall clock and matches DuckDB's naive reading
      of the same file;
    - ``timestamp`` passes through. Any other dtype is a schema
      regression and raises ``TypeError``."""
    dtype = dict(df.dtypes)[col]
    if dtype == "bigint":
        return df.withColumn(col, F.timestamp_micros(F.expr(f"{col} div 1000")))
    if dtype == "timestamp_ntz":
        return df.withColumn(col, F.col(col).cast("timestamp"))
    if dtype != "timestamp":
        raise TypeError(
            f"events.{col}: expected bigint/timestamp/timestamp_ntz, got {dtype}"
        )
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    """Load every testdata table as a DataFrame and register temp views.

    At 100 TB these would be partitioned tables (e.g. ``orders`` by
    ``o_orderdate`` month, ``events`` by ``ts`` day) registered in a
    metastore; the query code below only depends on the view names, so
    swapping the physical layout is transparent to every operator.
    """
    # applicationId (not id(spark)): a restarted session can reuse the
    # same Python object address, but never the same application id.
    key = (spark.sparkContext.applicationId, sf_dir, _dir_fingerprint(sf_dir))
    hit = _CATALOG_MEMO.get(key)
    if hit is not None:
        # Re-register the temp views: an interleaved load of a DIFFERENT
        # sf_dir (tests do this) would have repointed the view names.
        # View registration is a driver-side catalog write — no footer
        # I/O — so the hit path stays cheap.
        for name, df in hit.items():
            df.createOrReplaceTempView(name)
        return dict(hit)
    # events.parquet stores TIMESTAMP(NANOS), which Spark rejects unless
    # read as long (converted back to timestamp by coerce_ts). Set
    # defensively here: a caller may hand us a session built without
    # it.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    out: dict[str, DataFrame] = {}
    for name in TABLE_NAMES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        df = spark.read.parquet(path)
        if name == "events":
            df = coerce_ts(df)
        df.createOrReplaceTempView(name)
        out[name] = df
    _CATALOG_MEMO[key] = dict(out)
    return out
