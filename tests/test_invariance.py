"""Execution-knob invariance: results must not depend on ops knobs.

At cluster scale ``spark.sql.shuffle.partitions`` and AQE are tuning
knobs an operator flips freely — float accumulation order, unstable
window tiebreaks, or LIMIT-without-ORDER would each silently make
results depend on them. The full-registry sweep is the ``partitions``
and ``aqe`` axes of ``tools/oracle_check.py``; this test runs a
representative subset through the same per-query check, so a future
edit that reintroduces knob-dependence fails fast.

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

from tools.oracle_check import KNOBS, check

QUERIES = [
    "tpch_q1_pricing_summary",
    "w1_global_topk",
    "g6_pagerank",
    "w_rolling_7d_revenue",
    "approx_group_value_ci",
    "dedup_minhash_lsh",
]


@pytest.mark.parametrize("knob", list(KNOBS))
@pytest.mark.parametrize("name", QUERIES)
def test_knob_invariance(spark, sf_dir, name, knob):
    # the check runs the query once per knob value in this session and
    # restores the conf afterwards, so the suite is not perturbed
    status, detail = check(spark, name, sf_dir, knob=knob)
    assert status == "OK", f"{name}: {detail}"


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
