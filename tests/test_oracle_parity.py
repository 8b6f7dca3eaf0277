"""Golden-output tests: every registered query vs its DuckDB oracle.

Mirrors the driver's t2 check: row count, column names, and an
order-insensitive comparison of values (floats to 9 significant
digits — the queries themselves already round/stabilize anything
order-dependent, so this tolerance is belt-and-braces)."""

from __future__ import annotations

import math
import uuid
from contextlib import contextmanager

import pytest

from reddit_can_bigdata_spark.operators.graphkernel import (
    GRAPH_KERNEL_MAX_EDGES_CONF,
    GRAPH_RAW_COLLECT_MAX_BYTES_CONF,
)
from reddit_can_bigdata_spark.registry import REGISTRY, _ensure_loaded

_ensure_loaded()


def _norm_cell(v):
    if v is None:
        return None
    if isinstance(v, bool):
        return v
    if isinstance(v, float):
        if math.isnan(v):
            return "nan"
        if v == 0:
            return 0.0
        # 9 significant digits
        from decimal import Decimal

        return float(f"{v:.9g}")
    if isinstance(v, (int, str)):
        return v
    return str(v)


def _normalize(rows, cols):
    out = []
    for row in rows:
        d = dict(zip(cols, row))
        out.append(tuple(_norm_cell(d[c]) for c in sorted(cols)))
    return sorted(out, key=lambda t: tuple(str(x) for x in t))


def _check_oracle(name, spark, duck, sf_dir):
    spec = REGISTRY[name]
    sdf = spec.fn(spark, sf_dir)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]

    if spec.oracle is None:
        assert len(spark_rows) >= 0  # rows-only smoke
        return

    res = duck.execute(spec.oracle)
    duck_cols = [c[0] for c in res.description]
    duck_rows = res.fetchall()

    assert sorted(spark_cols) == sorted(duck_cols), (
        f"{name}: column mismatch spark={spark_cols} duck={duck_cols}"
    )
    assert len(spark_rows) == len(duck_rows), (
        f"{name}: row count spark={len(spark_rows)} duck={len(duck_rows)}"
    )
    ns, nd = _normalize(spark_rows, spark_cols), _normalize(duck_rows, duck_cols)
    mismatches = [(a, b) for a, b in zip(ns, nd) if a != b]
    assert not mismatches, f"{name}: {len(mismatches)} mismatched rows, first 3: {mismatches[:3]}"


@pytest.mark.parametrize("name", sorted(REGISTRY))
def test_query_matches_oracle(name, spark, duck, sf_dir):
    _check_oracle(name, spark, duck, sf_dir)


@contextmanager
def _conf(spark, **confs):
    """Set session confs for the block, then restore the previous
    values (unset where there was none)."""
    saved = {k: spark.conf.get(k, None) for k in confs}
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        yield
    finally:
        for k, v in saved.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# the gate row decides whether the DAG's network stage runs at all
_LOOP_TIER = sorted(n for n, s in REGISTRY.items() if "graph" in s.tags) + [
    "pipeline_gate_report"
]


@pytest.mark.parametrize("name", _LOOP_TIER)
def test_query_matches_oracle_loop_tier(name, spark, duck, sf_dir):
    """The same comparison with the kernel tier off: every graph query
    runs its distributed loops, and the composites take the side of
    their dense fork that pools and checkpoints the arms."""
    with _conf(spark, **{GRAPH_KERNEL_MAX_EDGES_CONF: "0"}):
        _check_oracle(name, spark, duck, sf_dir)


def _jobs(spark, fn) -> int:
    """Spark jobs ``fn`` submits, counted through a private job group."""
    sc = spark.sparkContext
    group = f"jobcount-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_g2_raw_gate_miss_adds_no_count_job(spark, duck, sf_dir):
    """Standalone g2 above the raw-collect gate goes straight to its
    one-aggregate distributed plan: an open kernel gate (1 edge) must
    not add a count probe over the kernel tier being off (0)."""
    from reddit_can_bigdata_spark.operators.graph import g2_degree_centrality

    jobs = {}
    for limit in ("0", "1"):
        with _conf(
            spark,
            **{GRAPH_RAW_COLLECT_MAX_BYTES_CONF: "0", GRAPH_KERNEL_MAX_EDGES_CONF: limit},
        ):
            jobs[limit] = _jobs(
                spark, lambda: g2_degree_centrality(spark, sf_dir).collect()
            )
            _check_oracle("g2_degree_centrality", spark, duck, sf_dir)
    assert jobs["1"] == jobs["0"] > 0, jobs
