"""Golden-output tests: every registered query vs its DuckDB oracle.

Mirrors the driver's t2 check: row count, column names, and an
order-insensitive comparison of values (floats to 9 significant
digits — the queries themselves already round/stabilize anything
order-dependent, so this tolerance is belt-and-braces). The values go
through ``perfbench.oracle.normalize``, the form the benchmark checks
its outputs with."""

from __future__ import annotations

import uuid
from contextlib import contextmanager

import pytest

from perfbench.oracle import normalize
from reddit_can_bigdata_spark.operators.graphkernel import (
    GRAPH_KERNEL_MAX_EDGES_CONF,
    GRAPH_RAW_COLLECT_MAX_BYTES_CONF,
)
from reddit_can_bigdata_spark.registry import REGISTRY, _ensure_loaded

_ensure_loaded()


def _cache_entries(spark) -> set[int]:
    """Identities of the entries in the JVM CacheManager. Its entry
    list is private, so it is read through reflection."""
    cm = spark._jsparkSession.sharedState().cacheManager()
    field = cm.getClass().getDeclaredField("cachedData")
    field.setAccessible(True)
    entries = field.get(cm)
    ident = spark._jvm.java.lang.System.identityHashCode
    return {ident(entries.apply(i)) for i in range(entries.size())}


def _check_oracle(name, spark, duck, sf_dir):
    spec = REGISTRY[name]
    before = _cache_entries(spark)
    sdf = spec.fn(spark, sf_dir)
    spark_cols = sdf.columns
    spark_rows = [tuple(r) for r in sdf.collect()]
    # a plan-keyed cache entry outliving its query is shared with every
    # later call of the same plan (warm bench reps) and never released
    leaked = _cache_entries(spark) - before
    assert not leaked, f"{name}: left {len(leaked)} CacheManager entries behind"

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
    _, ns = normalize(spark_cols, spark_rows)
    _, nd = normalize(duck_cols, duck_rows)
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


# the gate row decides whether the DAG's network stage runs at all, and
# dedup_clusters runs its components on the kernel or the loop tier
_LOOP_TIER = sorted(n for n, s in REGISTRY.items() if "graph" in s.tags) + [
    "pipeline_gate_report",
    "dedup_clusters",
]


@pytest.mark.parametrize("name", _LOOP_TIER)
def test_query_matches_oracle_loop_tier(name, spark, duck, sf_dir):
    """The same comparison with the kernel tier off: every graph query
    runs its distributed loops, and the composites take the side of
    their dense fork that pools and checkpoints the arms."""
    with _conf(spark, **{GRAPH_KERNEL_MAX_EDGES_CONF: "0"}):
        _check_oracle(name, spark, duck, sf_dir)


@pytest.mark.parametrize("name", _LOOP_TIER)
def test_query_matches_oracle_aggregate_tier(name, spark, duck, sf_dir):
    """The same comparison with the raw collect off and the kernel tier
    on: every graph query builds the distributed edge aggregate once,
    probes it and collects it into the kernels' CSR."""
    with _conf(spark, **{GRAPH_RAW_COLLECT_MAX_BYTES_CONF: "0"}):
        _check_oracle(name, spark, duck, sf_dir)


def _graph_entry_points():
    from reddit_can_bigdata_spark.operators import advanced

    points = {
        n: REGISTRY[n].fn
        for n in (
            "g3b_betweenness_sampled",
            "g4_closeness_centrality",
            "g4c_closeness_sampled",
            "g5_eigenvector_centrality",
            "g6_pagerank",
            "g7_connected_components",
            "g7_label_propagation",
            "g9_triangles_clustering",
        )
    }
    points["closeness_for_scale"] = advanced.closeness_for_scale
    return points


#: (raw-collect gate, kernel edge gate) per tier: the raw collect hits;
#: the raw collect misses and the aggregate is over the kernel gate;
#: the kernel tier is off
_TIERS = {
    "raw": {},
    "aggregate_miss": {
        GRAPH_RAW_COLLECT_MAX_BYTES_CONF: "0",
        GRAPH_KERNEL_MAX_EDGES_CONF: "1",
    },
    "loop": {GRAPH_KERNEL_MAX_EDGES_CONF: "0"},
}


@pytest.mark.parametrize("name", sorted(_graph_entry_points()))
def test_graph_entry_point_builds_the_edge_aggregate_once(
    name, spark, sf_dir, monkeypatch
):
    """Each graph entry point gets its graph from one resolution: no
    edge-aggregate plan when the raw collect hits, exactly one when it
    misses (the probe's checkpoint feeds the loop) and on the loop
    tier (the gate statistics and the loop read the same frame)."""
    from reddit_can_bigdata_spark.operators import advanced, graph

    original = graph._edges
    builds = []

    def counted(*args, **kwargs):
        builds.append(1)
        return original(*args, **kwargs)

    for mod in (graph, advanced):
        if getattr(mod, "_edges", None) is original:
            monkeypatch.setattr(mod, "_edges", counted)
    fn = _graph_entry_points()[name]
    got = {}
    for tier, confs in _TIERS.items():
        builds.clear()
        with _conf(spark, **confs):
            fn(spark, sf_dir)
        got[tier] = len(builds)
    assert got == {"raw": 0, "aggregate_miss": 1, "loop": 1}, got


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


@pytest.mark.parametrize(
    "name", ["g7_label_propagation", "dash_community_summary", "g8_graph_metadata"]
)
def test_network_page_graph_queries_take_few_jobs(name, spark, duck, sf_dir):
    """On the default tier the label-propagation queries run their
    rounds on the driver and g8 reads its counts off the raw-collected
    graph: at most 3 jobs each, where the distributed loop submitted
    ~40 for label propagation and the edge aggregate 7 for g8."""
    _check_oracle(name, spark, duck, sf_dir)
    fn = REGISTRY[name].fn
    assert _jobs(spark, lambda: fn(spark, sf_dir).collect()) <= 3


def test_a7_table_counts_take_two_jobs(spark, duck, sf_dir):
    """The five table counts are one aggregate over the union of the
    five scans: one shuffle-map job and one result job, where the
    cross-joined counts took 10."""
    _check_oracle("a7_table_counts", spark, duck, sf_dir)
    fn = REGISTRY["a7_table_counts"].fn
    assert _jobs(spark, lambda: fn(spark, sf_dir).collect()) <= 2


def test_g7_components_do_not_probe_twice(spark, sf_dir):
    """Above the kernel gate g7 components run the loop over the edge
    aggregate the resolver already probed, with no second count over
    its symmetric list. The parent's miss tier took 29 jobs, 6 more
    than the loop tier's 23, for the second probe."""
    from reddit_can_bigdata_spark.operators.graph import g7_connected_components

    g7_connected_components(spark, sf_dir).collect()  # tables loaded, codegen warm
    jobs = {}
    for tier in ("aggregate_miss", "loop"):
        with _conf(spark, **_TIERS[tier]):
            jobs[tier] = _jobs(
                spark, lambda: g7_connected_components(spark, sf_dir).collect()
            )
    assert jobs["aggregate_miss"] < 29 and jobs["loop"] <= 23, jobs


@pytest.mark.parametrize("name", ["g7_connected_components", "dedup_clusters"])
def test_kernel_gate_miss_costs_one_job_over_the_loop(name, spark, duck, sf_dir):
    """Above the kernel gate the probe is one row count over the edge
    checkpoint, and that job writes the checkpoint the loop then reads:
    the miss tier submits at most one job more than the tier-off loop,
    which has no probe, and both give the oracle's rows. The probe used
    to take 3 jobs: a shuffled count of a persisted copy."""
    fn = REGISTRY[name].fn
    fn(spark, sf_dir).collect()  # tables loaded, codegen warm
    jobs = {}
    for tier in ("aggregate_miss", "loop"):
        with _conf(spark, **_TIERS[tier]):
            jobs[tier] = _jobs(spark, lambda: fn(spark, sf_dir).collect())
            _check_oracle(name, spark, duck, sf_dir)
    assert jobs["aggregate_miss"] <= jobs["loop"] + 1, jobs
