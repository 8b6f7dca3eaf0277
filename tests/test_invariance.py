"""Execution-knob invariance: results must not depend on ops knobs.

At cluster scale ``spark.sql.shuffle.partitions`` and AQE are tuning
knobs an operator flips freely — float accumulation order, unstable
window tiebreaks, or LIMIT-without-ORDER would each silently make
results depend on them. The full-registry sweep lives in
``tools/invariance_check.py`` (0 failures / 174 on both axes); this
test pins a representative subset in CI so a future edit that
reintroduces knob-dependence fails fast.

Subset chosen one per risk class:
- DECIMAL-exact aggregation over floats (tpch_q1),
- global top-k with tiebreaks (w1),
- iterative float fixed-point (g6 PageRank),
- window-function ranking (w_rolling),
- sketch/sampled estimator seeded per-row, not per-partition
  (approx_group_value_ci),
- banded-hash dedup whose bucket joins reshuffle (dedup_minhash_lsh).
"""

from __future__ import annotations

import pytest

from reddit_can_bigdata_spark import registry
from tools.empty_check import norm

QUERIES = [
    "tpch_q1_pricing_summary",
    "w1_global_topk",
    "g6_pagerank",
    "w_rolling_7d_revenue",
    "approx_group_value_ci",
    "dedup_minhash_lsh",
]

KNOBS = [
    ("spark.sql.shuffle.partitions", ("3", "8")),
    ("spark.sql.adaptive.enabled", ("false", "true")),
]


def _collect(spark, name, sf_dir):
    registry._ensure_loaded()
    sdf = registry.REGISTRY[name].fn(spark, sf_dir)
    return norm([tuple(r) for r in sdf.collect()], sdf.columns)


@pytest.mark.parametrize("knob,values", KNOBS, ids=["partitions", "aqe"])
@pytest.mark.parametrize("name", QUERIES)
def test_knob_invariance(spark, sf_dir, name, knob, values):
    # Both confs are read at plan time, so SET inside one session is
    # effective per-query; restore afterwards to not perturb the suite.
    before = spark.conf.get(knob)
    try:
        results = []
        for v in values:
            spark.conf.set(knob, v)
            results.append(_collect(spark, name, sf_dir))
        assert results[0] == results[1], (
            f"{name}: rows differ across {knob}={values}"
        )
    finally:
        spark.conf.set(knob, before)


def test_table_checksum_is_partitioning_independent(spark, sf_dir):
    """The reconciliation checksum must be identical under any
    physical layout — that is its entire value. Recompute over a
    shuffled 17-partition copy of lineitem and compare all three
    fields."""
    import shutil
    import tempfile

    from reddit_can_bigdata_spark.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    fn = REGISTRY["table_checksum_lineitem"].fn
    base = fn(spark, sf_dir).collect()[0]

    tmp = tempfile.mkdtemp()
    try:
        spark.read.parquet(f"{sf_dir}/lineitem.parquet").repartition(
            17
        ).write.mode("overwrite").parquet(f"{tmp}/lineitem.parquet")
        alt = fn(spark, tmp).collect()[0]
        assert tuple(base) == tuple(alt), (base, alt)
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
