"""Lake-maintenance guarantees the oracles can't see: file-level
untouchedness for backfill, file-count reduction for compaction, and
mergeSchema inference for schema evolution. (Content correctness of
all three is hash-checked against DuckDB via test_oracle_parity.)"""

from __future__ import annotations

import os
import tempfile

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import DateType, StructField, StructType

from reddit_can_bigdata_spark.registry import REGISTRY, _ensure_loaded
from reddit_can_bigdata_spark.tables import load_tables

_ensure_loaded()


def _file_stamps(path: str) -> dict[str, tuple[int, float]]:
    """{relative parquet path: (size, mtime)} under ``path``."""
    out = {}
    for root, _dirs, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                st = os.stat(p)
                out[os.path.relpath(p, path)] = (st.st_size, st.st_mtime)
    return out


def test_backfill_touches_only_target_partition(spark, sf_dir, tmp_path):
    """Dynamic partition overwrite: after backfilling 2024-01-15,
    every other day's files are byte-identical (same names, sizes,
    mtimes); the target day's directory is replaced; and the stored
    values for the target day are exactly doubled."""
    from reddit_can_bigdata_spark.plans.layout import write_date_partitioned
    from reddit_can_bigdata_spark.plans.maintenance import backfill_day
    from reddit_can_bigdata_spark.tables import load_tables

    ev = load_tables(spark, sf_dir)["events"]
    path = str(tmp_path / "events_parted")
    write_date_partitioned(ev, path, "ts", part_col="day")
    before = _file_stamps(path)
    target = "day=2024-01-15"
    before_others = {k: v for k, v in before.items() if not k.startswith(target)}
    assert any(k.startswith(target) for k in before), "fixture lacks the target day"

    corrected = (
        ev.where(
            (F.col("ts") >= F.lit("2024-01-15").cast("timestamp"))
            & (F.col("ts") < F.lit("2024-01-16").cast("timestamp"))
        )
        .withColumn("value", F.col("value") * 2)
        .withColumn("day", F.date_format("ts", "yyyy-MM-dd"))
    )
    backfill_day(corrected, path, part_col="day")

    after = _file_stamps(path)
    after_others = {k: v for k, v in after.items() if not k.startswith(target)}
    assert after_others == before_others, "sibling partitions were rewritten"
    assert set(after) - set(after_others), "target partition vanished"
    assert set(after) != set(before), "target partition was not replaced"

    parted = spark.read.schema(
        StructType(list(ev.schema.fields) + [StructField("day", DateType())])
    ).parquet(
        path
    )
    stored = (
        parted.where(F.col("day") == F.lit("2024-01-15").cast("date"))
        .agg(F.sum(F.col("value").cast("decimal(20,6)")).alias("s"))
        .collect()[0]["s"]
    )
    orig = (
        ev.where(
            (F.col("ts") >= F.lit("2024-01-15").cast("timestamp"))
            & (F.col("ts") < F.lit("2024-01-16").cast("timestamp"))
        )
        .agg(F.sum((F.col("value") * 2).cast("decimal(20,6)")).alias("s"))
        .collect()[0]["s"]
    )
    assert stored == orig


def test_backfill_week_readback_prunes_partitions(spark, sf_dir, tmp_path):
    """The post-backfill week rollup reads the day-partitioned layout
    with its range predicate as PartitionFilters — at 100 TB the
    backfill-verification scan opens six directories, not the table."""
    import re

    from reddit_can_bigdata_spark.plans.inspect import formatted_plan
    from reddit_can_bigdata_spark.plans.layout import write_date_partitioned
    from reddit_can_bigdata_spark.tables import load_tables

    ev = load_tables(spark, sf_dir)["events"]
    path = str(tmp_path / "events_parted")
    write_date_partitioned(ev, path, "ts", part_col="day")
    parted = spark.read.schema(
        StructType(list(ev.schema.fields) + [StructField("day", DateType())])
    ).parquet(
        path
    )
    week = parted.where(
        (F.col("day") >= F.lit("2024-01-12").cast("date"))
        & (F.col("day") < F.lit("2024-01-18").cast("date"))
    )
    plan = formatted_plan(week)
    m = re.search(r"PartitionFilters: \[([^\]]*)\]", plan)
    assert m, plan
    assert "day" in m.group(1) and "2024-01-12" in m.group(1), m.group(1)


def test_compaction_reduces_files_preserves_rows(spark, sf_dir, tmp_path):
    """64 splinter files in, ceil(bytes/target) files out, zero row
    churn."""
    from reddit_can_bigdata_spark.plans.maintenance import compact_table
    from reddit_can_bigdata_spark.tables import load_tables

    ev = load_tables(spark, sf_dir)["events"]
    path = str(tmp_path / "events_fragmented")
    ev.repartition(64).write.mode("overwrite").parquet(path)
    n_before = len(_file_stamps(path))
    rows_before = spark.read.schema(ev.schema).parquet(path).count()
    assert n_before > 8

    n_target = compact_table(spark, path, target_file_bytes=128 << 20)
    n_after = len(_file_stamps(path))
    assert n_after == n_target < n_before
    assert spark.read.schema(ev.schema).parquet(path).count() == rows_before


def test_merge_schema_inference_reconstructs_union(spark, sf_dir, tmp_path):
    """``mergeSchema=true`` infers the union schema across the two
    write generations, and generation-1 rows surface the late column
    as NULL."""
    from reddit_can_bigdata_spark.tables import load_tables

    docs = load_tables(spark, sf_dir)["documents"]
    path = str(tmp_path / "docs_evolved")
    gen1 = docs.where((F.col("doc_id") % 2 == 0) | F.col("doc_id").isNull()).select(
        "doc_id", "lang", "text"
    )
    gen2 = docs.where(F.col("doc_id") % 2 == 1).select(
        "doc_id", "lang", "text", F.length("text").cast("long").alias("quality_score")
    )
    gen1.write.mode("overwrite").parquet(path)
    gen2.write.mode("append").parquet(path)

    merged = spark.read.option("mergeSchema", "true").parquet(path)
    assert set(merged.columns) == {"doc_id", "lang", "text", "quality_score"}
    n_gen1 = gen1.count()
    assert merged.where(F.col("quality_score").isNull()).count() >= n_gen1
    # explicit-superset-schema read (the registered query's path) sees
    # the identical frame
    explicit = spark.read.schema(gen2.schema).parquet(path)
    assert sorted(map(tuple, merged.select(*sorted(merged.columns)).collect())) == sorted(
        map(tuple, explicit.select(*sorted(explicit.columns)).collect())
    )


@pytest.mark.parametrize("fail", [False, True], ids=["ok", "raises"])
@pytest.mark.parametrize("name", sorted(n for n in REGISTRY if n.startswith("maint_")))
def test_maint_query_leaves_no_scratch(spark, sf_dir, monkeypatch, name, fail):
    """Every maint_* query writes its table under a fresh temp path. A
    normal run, and one whose body raises at its last step, leave no
    new entry in the temp dir."""
    from reddit_can_bigdata_spark.plans import maintenance

    def boom(df):
        raise RuntimeError("boom")

    load_tables(spark, sf_dir)  # the catalog's own reads are not the query's
    before = set(os.listdir(tempfile.gettempdir()))
    if fail:
        monkeypatch.setattr(maintenance, "materialize", boom)
        with pytest.raises(RuntimeError, match="boom"):
            REGISTRY[name].fn(spark, sf_dir)
    else:
        REGISTRY[name].fn(spark, sf_dir).count()
    assert set(os.listdir(tempfile.gettempdir())) - before == set()
