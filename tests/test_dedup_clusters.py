"""dedup_clusters invariants: the pair graph and the emitted
(doc_id, canonical_id) mapping must agree."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F


def test_clusters_consistent_with_pairs(spark, sf_dir):
    from reddit_can_bigdata_spark.operators.dedup import (
        CLUSTER_JACCARD,
        dedup_clusters,
        dedup_minhash_lsh,
    )

    pairs = (
        dedup_minhash_lsh(spark, sf_dir)
        .where(F.col("est_jaccard") >= CLUSTER_JACCARD)
        .collect()
    )
    mapping = {
        r["doc_id"]: r["canonical_id"] for r in dedup_clusters(spark, sf_dir).collect()
    }
    docs_n = spark.read.parquet(f"{sf_dir}/documents.parquet").count()

    # total mapping: one row per document
    assert len(mapping) == docs_n
    # thresholded near-dup pairs land in the same cluster
    assert pairs, "fixture corpus should contain near-dup pairs"
    for r in pairs:
        assert mapping[r["doc_a"]] == mapping[r["doc_b"]]
    # canonical is the cluster minimum and a member of the cluster
    clusters: dict[int, list[int]] = {}
    for doc, canon in mapping.items():
        clusters.setdefault(canon, []).append(doc)
    for canon, members in clusters.items():
        assert canon == min(members)
    # docs not in any pair map to themselves
    paired = {r["doc_a"] for r in pairs} | {r["doc_b"] for r in pairs}
    for doc, canon in mapping.items():
        if doc not in paired:
            assert canon == doc


def test_min_label_long_chain_converges(spark):
    """Round-6 advice: a near-dup component with diameter larger than
    any fixed round budget must still collapse to ONE canonical label.
    A 20-node path graph (diameter 19) converges under
    until_converged + pointer-doubling shortcut in O(log d) rounds, on
    the loop tier and on the kernel tier."""
    from reddit_can_bigdata_spark.operators.graph import min_label_components

    for inputs in _chain_inputs(spark).values():
        labels = min_label_components(
            **inputs, iters=0, until_converged=True, shortcut=True, require_converged=True
        )[0].collect()
        assert {r["node"] for r in labels} == set(range(20))
        assert {r["label"] for r in labels} == {0}


def _chain_inputs(spark) -> dict:
    """The 20-node path as min_label_components' input on each tier:
    the symmetric pair list for the loop, the CSR and the caller's
    session for the kernel."""
    import numpy as np

    from reddit_can_bigdata_spark.operators.graphkernel import build_arrays

    edges = [(i, i + 1) for i in range(19)]
    sym = spark.createDataFrame(
        edges + [(b, a) for a, b in edges], "src long, dst long"
    ).repartition("dst")
    u = np.arange(19, dtype=np.int64)
    return {
        "loop": {"sym": sym, "graph": None},
        "kernel": {
            "sym": None,
            "graph": build_arrays(u, u + 1, np.ones_like(u)),
            "spark": spark,
        },
    }


@pytest.mark.parametrize("tier", ["kernel", "loop"])
def test_min_label_unconverged_raises(spark, tier):
    """A fixed 2-round budget with require_converged raises on either
    tier instead of returning truncated labels."""
    from reddit_can_bigdata_spark.operators.graph import min_label_components

    with pytest.raises(RuntimeError, match="no fixed point"):
        min_label_components(**_chain_inputs(spark)[tier], iters=2, require_converged=True)


def test_cluster_split_pairs_share_split(spark, sf_dir):
    """Pair-level leakage invariant, asserted DIRECTLY on the split
    (round-6 advice): every LSH pair at est_jaccard >= CLUSTER_JACCARD
    must land in one split. Grouping by the computed canonical_id alone
    would be trivially true if propagation had truncated."""
    from reddit_can_bigdata_spark.operators.dedup import (
        CLUSTER_JACCARD,
        dedup_minhash_lsh,
    )
    from reddit_can_bigdata_spark.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    split_of = {
        r["doc_id"]: r["split"]
        for r in REGISTRY["dedup_cluster_split"].fn(spark, sf_dir).collect()
    }
    pairs = (
        dedup_minhash_lsh(spark, sf_dir)
        .where(F.col("est_jaccard") >= CLUSTER_JACCARD)
        .collect()
    )
    assert pairs
    for r in pairs:
        assert split_of[r["doc_a"]] == split_of[r["doc_b"]]


def test_cluster_split_never_straddles_clusters(spark, sf_dir):
    """The leakage-safety invariant: every near-dup cluster lands
    wholly inside ONE split — the property per-document hashing lacks
    by construction."""
    from reddit_can_bigdata_spark.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    rows = REGISTRY["dedup_cluster_split"].fn(spark, sf_dir).collect()
    by_cluster = {}
    for r in rows:
        by_cluster.setdefault(r["canonical_id"], set()).add(r["split"])
    assert all(len(s) == 1 for s in by_cluster.values())
    # and the rule actually exercises all three splits on the fixture
    assert {s for ss in by_cluster.values() for s in ss} == {
        "train", "val", "test"
    }


def test_cluster_split_on_a_worker_thread(spark, duck, sf_dir):
    """A pool thread has no active session (`getActiveSession` is
    None there), as in a threaded dashboard or the DAG's concurrent
    stages: the split, whose components take the kernel tier at the
    test SF, still gives its oracle's rows when it runs on one."""
    import threading

    from test_oracle_parity import _check_oracle

    errors = []

    def check():
        try:
            _check_oracle("dedup_cluster_split", spark, duck, sf_dir)
        except BaseException as e:  # re-raised on the test's thread
            errors.append(e)

    worker = threading.Thread(target=check)
    worker.start()
    worker.join()
    if errors:
        raise errors[0]
