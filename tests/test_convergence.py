"""`until_converged` mode: fixed-round loops truncate on graphs whose
diameter exceeds the round bound (the documented oracle-parity
trade-off); the converged mode must keep iterating to the true fixed
point. Oracle: closed forms on a path graph P_n (diameter n-1 >> every
fixed bound) — dist(i,j) = |i-j|, betweenness(k) = k*(n-1-k),
components of a path = one.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

N = 12  # path 0-1-...-11, diameter 11 > CLOSENESS_HOPS/BW_LEVELS/CC_ITERS


def _path_sym(spark, weighted: bool = False):
    edges = [(i, i + 1) for i in range(N - 1)]
    rows = [(u, v, 1) for u, v in edges] + [(v, u, 1) for u, v in edges]
    df = spark.createDataFrame(rows, "src long, dst long, weight long")
    if weighted:
        return df.select("src", "dst", F.col("weight").cast("double").alias("w")).cache()
    return df.select("src", "dst", "weight").cache()


def test_bfs_fixed_rounds_truncate_and_converged_exact(spark):
    from reddit_can_bigdata_spark.operators.advanced import CLOSENESS_HOPS, _bfs_distances

    sym = _path_sym(spark)
    assert CLOSENESS_HOPS < N - 1  # the premise: bound < diameter

    fixed = _bfs_distances(sym, CLOSENESS_HOPS, F.lit(1), unweighted=True)
    got_fixed = {(r["src"], r["node"]): r["dist"] for r in fixed.collect()}
    # truncated: pairs farther than the hop bound are MISSING
    assert (0, N - 1) not in got_fixed
    assert len(got_fixed) < N * N
    assert max(got_fixed.values()) == CLOSENESS_HOPS

    conv = _bfs_distances(sym, CLOSENESS_HOPS, F.lit(1), unweighted=True, until_converged=True)
    got = {(r["src"], r["node"]): r["dist"] for r in conv.collect()}
    want = {(i, j): abs(i - j) for i in range(N) for j in range(N)}
    assert got == want


def test_weighted_bfs_converged_exact(spark):
    from reddit_can_bigdata_spark.operators.advanced import CLOSENESS_HOPS, _bfs_distances

    sym = _path_sym(spark)
    conv = _bfs_distances(
        sym, CLOSENESS_HOPS, F.col("weight"), until_converged=True
    )
    got = {(r["src"], r["node"]): r["dist"] for r in conv.collect()}
    assert got == {(i, j): abs(i - j) for i in range(N) for j in range(N)}


def test_min_label_components_converged_single_component(spark):
    from reddit_can_bigdata_spark.operators.graph import min_label_components

    sym = _path_sym(spark).select("src", "dst")
    # 2 rounds < diameter: min-label hasn't swept the whole path
    trunc, _ = min_label_components(sym, 2)
    assert trunc.select("label").distinct().count() > 1
    conv, _ = min_label_components(sym, 2, until_converged=True)
    rows = conv.collect()
    assert {r["label"] for r in rows} == {0}
    assert len(rows) == N


@pytest.mark.parametrize("tier", ["kernel", "loop"])
def test_min_label_components_records_rounds(spark, tier):
    """``min_label_components`` returns the rounds it ran, the same on
    both tiers: on the path P_N the label of node 0 needs N-1 rounds to
    reach node N-1, and one more round changes nothing."""
    import numpy as np

    from reddit_can_bigdata_spark.operators import graph
    from reddit_can_bigdata_spark.operators.graphkernel import build_arrays

    if tier == "kernel":
        u = np.arange(N - 1, dtype=np.int64)
        inputs = {"sym": None, "graph": build_arrays(u, u + 1, np.ones_like(u))}
    else:
        inputs = {"sym": _path_sym(spark).select("src", "dst"), "graph": None}
    labels, rounds = graph.min_label_components(**inputs, iters=2, spark=spark)
    labels.collect()
    assert rounds == 2
    labels, rounds = graph.min_label_components(
        **inputs, iters=2, until_converged=True, spark=spark
    )
    labels.collect()
    assert rounds == N


def test_brandes_converged_matches_closed_form(spark):
    from reddit_can_bigdata_spark.operators.graph import (
        BW_LEVELS,
        _brandes_backward,
        _brandes_forward,
    )

    sym = _path_sym(spark).select("src", "dst")
    srcs = sym.select("src").distinct().select(F.col("src").alias("node"))

    # fixed rounds: BFS stops BW_LEVELS hops out -> truncated frontier list
    fixed, _ = _brandes_forward(sym, srcs, BW_LEVELS)
    assert len(fixed) == BW_LEVELS + 1  # level 0 + BW_LEVELS rounds

    frontiers, sizes = _brandes_forward(sym, srcs, BW_LEVELS, until_converged=True)
    assert len(frontiers) == N  # levels 0..diameter
    assert sizes == [f.count() for f in frontiers]

    levels = _brandes_backward(sym, frontiers, sizes)
    all_lv = levels[0]
    for lv in levels[1:]:
        all_lv = all_lv.unionByName(lv)
    acc = (
        all_lv.where(F.col("node") != F.col("src"))
        .groupBy("node")
        .agg((F.sum("delta") / 2).alias("bc"))
    )
    got = {r["node"]: r["bc"] for r in acc.collect()}
    # path graph: node k lies on every (i, j) pair with i < k < j
    want = {k: float(k * (N - 1 - k)) for k in range(N)}
    assert got == want


class TestReliableCheckpointMode:
    """materialize: one runtime conf flips every materialization from
    executor-local localCheckpoint to RELIABLE checkpoint() — the
    100x-scale requirement (executor-local blocks die with the
    executor; reliable checkpoints survive and restart the lineage
    from the checkpoint, not from the scan)."""

    def test_helper_switches_on_conf_and_truncates_lineage(self, spark, tmp_path):
        from reddit_can_bigdata_spark.operators.common import (
            ITER_CHECKPOINT_DIR_CONF,
            materialize,
        )

        df = spark.range(100).selectExpr("id", "id * 2 AS v")
        try:
            spark.conf.set(ITER_CHECKPOINT_DIR_CONF, str(tmp_path / "ck"))
            ck = materialize(df)
            # reliable checkpoint materializes files under the dir...
            files = list((tmp_path / "ck").rglob("*"))
            assert any(f.is_file() for f in files), files
            # ...and the plan is truncated to a scan of the checkpoint
            # (no Range/Project lineage left)
            plan = ck._jdf.queryExecution().optimizedPlan().toString()
            assert "LogicalRDD" in plan, plan
            assert "Range" not in plan, plan
            assert ck.count() == 100
        finally:
            spark.conf.unset(ITER_CHECKPOINT_DIR_CONF)
        # conf unset => back to localCheckpoint (no new files appear)
        n_before = len(list((tmp_path / "ck").rglob("*")))
        materialize(df)
        assert len(list((tmp_path / "ck").rglob("*"))) == n_before

    @pytest.mark.parametrize(
        "name",
        [
            # a loop: per-round state
            "g6_pagerank",
            # sites that were not loops before the policy had one owner:
            # the dedup shingle/rare/signature barriers
            "dedup_lsh_quality",
            "curate_dsir_logweight",
            # the label loop's shared symmetric edge list
            "g7_label_propagation",
            # lazy scalar barriers
            "tpch_q15_top_supplier",
            # a streaming snapshot read back from its sink
            "streaming_etl_sink",
        ],
    )
    def test_g6_pagerank_identical_under_reliable_checkpoints(
        self, spark, tmp_path, sf_dir, name
    ):
        """Reliable checkpoints produce the same rows as the default
        local mode (materialization must never change results, only
        fault tolerance), and every case writes checkpoint files."""
        from reddit_can_bigdata_spark.operators.common import (
            ITER_CHECKPOINT_DIR_CONF,
        )
        from reddit_can_bigdata_spark.registry import REGISTRY, _ensure_loaded

        _ensure_loaded()
        fn = REGISTRY[name].fn

        def rows():
            return sorted(map(tuple, fn(spark, sf_dir).collect()), key=repr)

        local = rows()
        ckdir = tmp_path / "ck"
        try:
            spark.conf.set(ITER_CHECKPOINT_DIR_CONF, str(ckdir))
            reliable = rows()
            files = [f for f in ckdir.rglob("*") if f.is_file()]
            assert files, f"{name}: no reliable checkpoint written"
        finally:
            spark.conf.unset(ITER_CHECKPOINT_DIR_CONF)
        assert local, name
        assert local == reliable


@pytest.mark.parametrize("tier", ["dense", "executor", "loop"])
@pytest.mark.parametrize(
    "name", ["g4_closeness_centrality", "g4c_closeness_sampled", "g3b_betweenness_sampled"]
)
def test_until_converged_ceiling_raises_on_every_tier(spark, sf_dir, monkeypatch, tier, name):
    """One until-converged ceiling for both graph tiers: with it at 2
    rounds, the path's BFS (diameter 11) stops short of its fixed point,
    and every tier raises the loop driver's error instead of returning
    truncated values (an executor-tier task raises it inside Spark)."""
    import re

    from test_oracle_parity import _conf

    from reddit_can_bigdata_spark.operators import common, graphkernel as gk
    from reddit_can_bigdata_spark.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    monkeypatch.setattr(common, "UNTIL_CONVERGED_MAX_ROUNDS", 2)
    if tier == "executor":
        monkeypatch.setattr(gk, "TRIANGLE_DENSE_MAX_NODES", 0)
    edges = spark.createDataFrame(
        [(i, i + 1, 1) for i in range(N - 1)], "u long, v long, weight long"
    )
    confs = {gk.GRAPH_KERNEL_MAX_EDGES_CONF: "0"} if tier == "loop" else {}
    msg = str(common.unconverged(2, until_converged=True))
    with _conf(spark, **confs), pytest.raises(Exception, match=re.escape(msg)):
        REGISTRY[name].fn(spark, sf_dir, edges=edges, until_converged=True).collect()
