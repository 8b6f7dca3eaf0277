"""Accuracy contracts for the sketch-based scale-path aggregates."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_count_min_sketch_one_sided_error(spark, sf_dir):
    """CMS contract: for every observed key, true count <= estimate
    <= true + collisions (bounded by N/width per hash row)."""
    from pyspark.sql import functions as F

    from reddit_can_bigdata_spark.operators.approx import (
        CMS_WIDTH,
        cms_estimate,
        cms_sketch,
    )
    from reddit_can_bigdata_spark.tables import load_tables

    ev = load_tables(spark, sf_dir)["events"].select("event_type")
    sketch_rows = cms_sketch(ev, "event_type").collect()
    true = {
        r["event_type"]: r["cnt"]
        for r in ev.groupBy("event_type").agg(F.count("*").alias("cnt")).collect()
    }
    n = sum(true.values())
    for key, t in true.items():
        est = cms_estimate(sketch_rows, key)
        assert t <= est <= t + n / CMS_WIDTH * 4, (key, t, est)


def test_sample_ci_contains_exact_and_tightens(spark, sf_dir, sf001_dir):
    """approx_sample_revenue_ci: the 95% interval must contain the
    exact total at both SFs (the estimator's honesty), and the
    RELATIVE standard error must shrink going 6k -> 60k rows
    (~1/sqrt(10); assert a loose 2x to stay variance-proof)."""
    from reddit_can_bigdata_spark.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    if sf_dir == sf001_dir:
        pytest.skip("needs two distinct SFs to compare se scaling")
    fn = REGISTRY["approx_sample_revenue_ci"].fn
    rows = {d: fn(spark, d).collect()[0] for d in (sf_dir, sf001_dir)}
    rel = {}
    for d, r in rows.items():
        assert r["ci95_lo"] <= r["exact_total"] <= r["ci95_hi"], dict(r.asDict())
        assert r["n_sample"] > 0 and r["se_total"] > 0
        rel[d] = r["se_total"] / r["est_total"]
    small, big = (sf_dir, sf001_dir) if rows[sf_dir]["n_total"] < rows[sf001_dir]["n_total"] else (sf001_dir, sf_dir)
    assert rel[big] < rel[small] / 2.0, rel
