"""Graph algorithm invariants + a NumPy reference implementation for
PageRank (SURVEY §5: small-scale exactness against an independent
oracle, invariants beyond)."""

from __future__ import annotations

import numpy as np
import pytest


@pytest.fixture(scope="module")
def edges(spark, sf_dir):
    from reddit_can_bigdata_spark.operators.graph import _edges

    return [(r["u"], r["v"], r["weight"]) for r in _edges(spark, sf_dir).collect()]


def test_pagerank_matches_numpy_reference(spark, sf_dir, edges):
    from reddit_can_bigdata_spark.operators.graph import (
        PAGERANK_DAMPING,
        PAGERANK_ITERS,
        g6_pagerank,
    )

    nodes = sorted({u for u, _, _ in edges} | {v for _, v, _ in edges})
    idx = {n: i for i, n in enumerate(nodes)}
    n = len(nodes)
    w = np.zeros((n, n))
    for u, v, wt in edges:
        w[idx[u], idx[v]] += wt
        w[idx[v], idx[u]] += wt
    trans = w / w.sum(axis=1, keepdims=True)  # row: src -> dst prob
    r = np.full(n, 1.0 / n)
    for _ in range(PAGERANK_ITERS):
        r = (1 - PAGERANK_DAMPING) / n + PAGERANK_DAMPING * trans.T @ r
    got = {row["node"]: row["pagerank"] for row in g6_pagerank(spark, sf_dir).collect()}
    assert len(got) == n
    for node in nodes:
        assert got[node] == pytest.approx(r[idx[node]], abs=1e-5)


def test_pagerank_sums_to_one(spark, sf_dir):
    from reddit_can_bigdata_spark.operators.graph import g6_pagerank

    total = sum(r["pagerank"] for r in g6_pagerank(spark, sf_dir).collect())
    assert total == pytest.approx(1.0, abs=1e-3)


def test_components_partition_nodes(spark, sf_dir, edges):
    from reddit_can_bigdata_spark.operators.graph import g7_connected_components

    nodes = {u for u, _, _ in edges} | {v for _, v, _ in edges}
    rows = g7_connected_components(spark, sf_dir).collect()
    assert sum(r["n_nodes"] for r in rows) == len(nodes)
    # component labels are the minimum node id of each component
    assert all(r["component"] in nodes for r in rows)


def test_distributed_brandes_full_sources_matches_exact(spark, sf_dir, edges):
    """With the sample widened to ALL sources, the distributed
    level-synchronous Brandes must EXACTLY reproduce the driver-side
    `betweenness_exact` — no sampling error, so any deviation is an
    algorithmic bug, not noise."""
    from pyspark.sql import functions as F

    from reddit_can_bigdata_spark.operators.graph import (
        BW_LEVELS,
        _brandes_backward,
        _brandes_forward,
        _edges,
        betweenness_exact,
    )

    e = _edges(spark, sf_dir).select("u", "v")
    sym = e.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionAll(
        e.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    ).cache()
    nodes = sym.select(F.col("src").alias("node")).distinct()
    levels = _brandes_backward(sym, *_brandes_forward(sym, nodes, BW_LEVELS))
    all_lv = levels[0]
    for lv in levels[1:]:
        all_lv = all_lv.unionByName(lv)
    got = {
        r["node"]: r["bc"]
        for r in all_lv.where(F.col("node") != F.col("src"))
        .groupBy("node")
        .agg((F.sum("delta") / 2).alias("bc"))
        .collect()
    }
    exact = betweenness_exact([(u, v) for u, v, _ in edges])
    assert set(got) == set(exact)
    for nd, bc in exact.items():
        assert got[nd] == pytest.approx(bc, abs=1e-6), f"node {nd}"


def test_sampled_closeness_approximates_exact(spark, sf_dir):
    """g4c (1-in-7 pivot sample, Eppstein–Wang rescale) must track the
    exact all-sources closeness g4 on the test graph: every node
    estimated, small mean relative error."""
    from reddit_can_bigdata_spark.operators.advanced import (
        g4_closeness_centrality,
        g4c_closeness_sampled,
    )

    exact = {
        r["node"]: r["closeness"] for r in g4_closeness_centrality(spark, sf_dir).collect()
    }
    est = {
        r["node"]: r["closeness_est"]
        for r in g4c_closeness_sampled(spark, sf_dir).collect()
    }
    common = [n for n in est if n in exact]
    assert len(common) >= 0.9 * len(exact)
    errs = [abs(est[n] - exact[n]) / exact[n] for n in common]
    assert sum(errs) / len(errs) < 0.25


def _modularity(edges, part) -> float:
    """Weighted Newman modularity Q of a partition over an undirected
    edge list — the objective Louvain maximizes."""
    s = sum(w for _, _, w in edges)  # total edge weight (each edge once)
    deg: dict[int, float] = {}
    w_in: dict[int, float] = {}
    for u, v, w in edges:
        deg[u] = deg.get(u, 0.0) + w
        deg[v] = deg.get(v, 0.0) + w
        if part[u] == part[v]:
            w_in[part[u]] = w_in.get(part[u], 0.0) + w
    deg_c: dict[int, float] = {}
    for node, d in deg.items():
        deg_c[part[node]] = deg_c.get(part[node], 0.0) + d
    return sum(
        w_in.get(c, 0.0) / s - (deg_c[c] / (2.0 * s)) ** 2 for c in deg_c
    )


def _louvain(edges) -> dict[int, int]:
    """Driver-side greedy Louvain (deterministic: nodes visited in
    sorted order, ties to the smallest community id) — the exactness
    bridge to the reference's `louvain_communities(G, weight, seed=42)`
    (`network-analysis/network_analysis.py:194`). Returns node→community."""
    adj: dict[int, dict[int, float]] = {}
    for u, v, w in edges:
        adj.setdefault(u, {})[v] = adj.setdefault(u, {}).get(v, 0.0) + w
        adj.setdefault(v, {})[u] = adj.setdefault(v, {}).get(u, 0.0) + w
    mapping = {n: n for n in adj}  # original node -> current supernode
    final = dict(mapping)
    cur_edges = list(edges)
    while True:
        two_m = 2.0 * sum(w for _, _, w in cur_edges)
        deg = {n: sum(ws.values()) for n, ws in adj.items()}
        comm = {n: n for n in adj}
        comm_deg = dict(deg)
        moved_any = False
        for _ in range(20):  # local-move passes until stable
            moved = False
            for n in sorted(adj):
                c0 = comm[n]
                comm_deg[c0] -= deg[n]
                # weight from n to each neighboring community
                w_to: dict[int, float] = {}
                for nb, w in adj[n].items():
                    if nb != n:
                        w_to[comm[nb]] = w_to.get(comm[nb], 0.0) + w
                best_c, best_gain = c0, w_to.get(c0, 0.0) - comm_deg[c0] * deg[n] / two_m
                for c, w in sorted(w_to.items()):
                    gain = w - comm_deg[c] * deg[n] / two_m
                    if gain > best_gain + 1e-12:
                        best_c, best_gain = c, gain
                comm_deg[best_c] = comm_deg.get(best_c, 0.0) + deg[n]
                if best_c != c0:
                    comm[n] = best_c
                    moved = moved_any = True
            if not moved:
                break
        if not moved_any:
            return final
        final = {n: comm[mapping[n]] for n in final}
        mapping = dict(final)
        # aggregate: communities become supernodes
        agg: dict[tuple[int, int], float] = {}
        for u, v, w in cur_edges:
            a, b = comm[u], comm[v]
            key = (min(a, b), max(a, b))
            agg[key] = agg.get(key, 0.0) + w
        cur_edges = [(a, b, w) for (a, b), w in agg.items()]
        adj = {}
        for u, v, w in cur_edges:
            adj.setdefault(u, {})[v] = adj.setdefault(u, {}).get(v, 0.0) + w
            if u != v:
                adj.setdefault(v, {})[u] = adj.setdefault(v, {}).get(u, 0.0) + w


def _planted_graph():
    """Deterministic planted-partition graph: 3 communities of 8
    nodes, all intra-community pairs at weight 10, a light ring of
    inter-community bridges at weight 1. Louvain must recover the
    planted split (high Q); the fixture event graph is a complete
    K100 with near-uniform weights, which genuinely HAS no community
    structure (Q*≈0) — useless for this bridge."""
    edges = []
    for c in range(3):
        members = [c * 8 + i for i in range(8)]
        for i, u in enumerate(members):
            for v in members[i + 1 :]:
                edges.append((u, v, 10.0))
    for c in range(3):
        edges.append((c * 8, ((c + 1) % 3) * 8 + 1, 1.0))
    return edges


def test_labelprop_modularity_close_to_louvain(spark, sf_dir, edges):
    """SURVEY §7.3 risk 1 bridge: the distributed label-propagation
    partition's modularity Q must come close to what Louvain — the
    reference's actual algorithm (`louvain_communities`, seed=42) —
    achieves on the same graph. Partitions are compared by Q, not
    label equality. Asserted on a planted-partition graph (where the
    right answer is unambiguous) AND on the fixture event graph."""
    from pyspark.sql import functions as F

    from reddit_can_bigdata_spark.operators.graph import (
        g7c_modularity,
        label_prop_partition,
    )

    planted = _planted_graph()
    part_louvain = _louvain(planted)
    q_louvain = _modularity(planted, part_louvain)
    assert q_louvain > 0.5  # Louvain recovers the planted structure
    # singletons sanity-check the Q formula's sign convention
    assert _modularity(planted, {n: n for n in part_louvain}) <= 0.0

    sym = spark.createDataFrame(
        [(u, v, w) for u, v, w in planted] + [(v, u, w) for u, v, w in planted],
        "src long, dst long, w double",
    ).cache()
    part_lp = {
        r["node"]: r["label"] for r in label_prop_partition(sym).collect()
    }
    q_lp = _modularity(planted, part_lp)
    assert q_lp >= 0.8 * q_louvain, (
        f"label-prop Q={q_lp:.4f} too far below Louvain Q={q_louvain:.4f}"
    )

    # fixture event graph: K100, no structure — both must agree Q≈0
    q_louvain_fix = _modularity(edges, _louvain(edges))
    row = g7c_modularity(spark, sf_dir).collect()[0]
    assert abs(row["modularity"] - q_louvain_fix) < 0.05


def test_bfs_push_and_pull_modes_agree(spark, sf_dir):
    """Direction-optimizing BFS: with unweighted=True the loop may
    take pull rounds (missing-set semi-join + degree shortcut); with
    unweighted=False it always pushes the frontier. Both must produce
    the IDENTICAL distance relation — the optimization's correctness
    contract."""
    from pyspark.sql import functions as F

    from reddit_can_bigdata_spark.operators.advanced import (
        CLOSENESS_HOPS,
        _bfs_distances,
    )
    from reddit_can_bigdata_spark.operators.graph import _edges

    e = _edges(spark, sf_dir).select("u", "v")
    sym = e.select(F.col("u").alias("src"), F.col("v").alias("dst")).unionAll(
        e.select(F.col("v").alias("src"), F.col("u").alias("dst"))
    ).cache()
    pull = {
        (r["src"], r["node"]): r["dist"]
        for r in _bfs_distances(sym, CLOSENESS_HOPS, F.lit(1), unweighted=True).collect()
    }
    push = {
        (r["src"], r["node"]): r["dist"]
        for r in _bfs_distances(sym, CLOSENESS_HOPS, F.lit(1), unweighted=False).collect()
    }
    assert pull == push
    assert pull, "distance relation should be non-empty"


def test_components_match_union_find(spark, sf_dir, edges):
    from reddit_can_bigdata_spark.operators.graph import g7_connected_components

    parent: dict[int, int] = {}

    def find(x: int) -> int:
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for u, v, _ in edges:
        parent[find(u)] = find(v)
    expected: dict[int, int] = {}
    for node in parent:
        expected.setdefault(find(node), 0)
        expected[find(node)] += 1
    got = {
        r["component"]: r["n_nodes"]
        for r in g7_connected_components(spark, sf_dir).collect()
    }
    # same number of components, same size multiset (labels may differ
    # from union-find roots; min-label propagation uses min node id)
    assert sorted(got.values()) == sorted(expected.values())


@pytest.mark.parametrize("sampled", [False, True])
def test_closeness_weighted_and_hop_forms_agree_on_unit_weights(spark, sf001_dir, sampled):
    """`_closeness`'s two axes are independent: with every edge
    weight 1, the weighted form (the loop, dist + weight) and the hop
    form (dist + 1, on the kernel tier) give identical rows, exact and
    sampled alike. On the real weights they differ, so the
    ``weighted`` flag reaches the step."""
    from pyspark.sql import functions as F

    from reddit_can_bigdata_spark.operators.advanced import _closeness
    from reddit_can_bigdata_spark.operators.graph import _edges

    edges = _edges(spark, sf001_dir)
    unit = edges.withColumn("weight", F.lit(1).cast("bigint"))

    def rows(e, weighted):
        df = _closeness(
            spark, sf001_dir, weighted=weighted, sampled=sampled, out_col="c", edges=e
        )
        return sorted(tuple(r) for r in df.collect())

    hops = rows(unit, False)
    assert hops and rows(unit, True) == hops
    assert rows(edges, True) != hops


def test_g4d_weighted_sampled_approximates_exact(spark, sf001_dir):
    """g4d (pivot-sampled weighted closeness, the 100x path for g4b)
    estimates the exact weighted closeness within a few percent at
    sf0.01 (~100 nodes, 1-in-7 pivots). Uses sf0.01 regardless of the
    session SF: at sf0.001 the graph has only ~10 nodes so the sample
    is 2 pivots and the estimator is legitimately noisy."""
    from reddit_can_bigdata_spark.operators.advanced import (
        g4b_closeness_weighted,
        g4d_closeness_weighted_sampled,
    )

    sf = sf001_dir
    exact = {r["node"]: r["closeness_w"] for r in g4b_closeness_weighted(spark, sf).collect()}
    est = {
        r["node"]: r["closeness_w_est"]
        for r in g4d_closeness_weighted_sampled(spark, sf).collect()
    }
    # every node a pivot reaches gets an estimate (connected fixture)
    assert set(est) == set(exact)
    rel_errs = [abs(est[n] - exact[n]) / exact[n] for n in exact]
    mre = sum(rel_errs) / len(rel_errs)
    assert mre < 0.10, mre
    # and the estimator is unbiased enough that ordering mostly holds
    import math

    xs = [exact[n] for n in sorted(exact)]
    ys = [est[n] for n in sorted(exact)]
    mx, my = sum(xs) / len(xs), sum(ys) / len(ys)
    cov = sum((x - mx) * (y - my) for x, y in zip(xs, ys))
    corr = cov / math.sqrt(
        sum((x - mx) ** 2 for x in xs) * sum((y - my) ** 2 for y in ys)
    )
    assert corr > 0.5, corr


def test_g11_link_prediction_golden(spark, sf_dir):
    """Candidates must be non-adjacent backbone pairs; scores must
    match a pure-Python recomputation of the thresholded graph."""
    import math

    from reddit_can_bigdata_spark.operators.graph import (
        BACKBONE_Q,
        _edges,
        g11_link_prediction,
    )

    rows = g11_link_prediction(spark, sf_dir).collect()
    assert rows, "backbone link prediction must be non-vacuous"
    ew = {(r.u, r.v): r.weight for r in _edges(spark, sf_dir).collect()}
    weights = sorted(w for w in ew.values())
    q75 = weights[math.ceil(BACKBONE_Q * len(weights)) - 1]
    strong = {p for p, w in ew.items() if w > q75}
    nbrs: dict[int, set] = {}
    for u, v in strong:
        nbrs.setdefault(u, set()).add(v)
        nbrs.setdefault(v, set()).add(u)
    scored = []
    for u in nbrs:
        for v in nbrs:
            if u >= v or (u, v) in strong:
                continue
            cn = len(nbrs[u] & nbrs[v])
            if cn:
                scored.append(
                    (-cn / (len(nbrs[u]) + len(nbrs[v]) - cn), u, v, cn)
                )
    expect = sorted(scored)[: len(rows)]
    got = sorted((-r.jaccard, r.u, r.v, r.common_neighbors) for r in rows)
    for (gj, gu, gv, gc), (ej, eu, ev, ec) in zip(got, expect):
        assert (gu, gv, gc) == (eu, ev, ec)
        assert abs(gj - ej) < 1e-5
    for r in rows:
        assert (r.u, r.v) not in strong, "predicted pair already adjacent"
        assert 0.0 < r.jaccard <= 1.0


def test_g12_kcore_invariants(spark, sf_dir):
    """Every core member keeps >= k neighbors INSIDE the core
    (validity), no peeled node qualifies for re-entry (maximality —
    the k-core is unique), and Spark's peel loop converged far below
    the oracle's unrolled bound."""
    from reddit_can_bigdata_spark.operators.graph import (
        KCORE_MAX_PEELS,
        _backbone,
        _kcore,
    )

    core, peel_rounds = _kcore(spark, sf_dir)
    rows = core.collect()
    assert rows, "k-core must be non-vacuous at the test SF"
    assert peel_rounds < KCORE_MAX_PEELS / 2
    k = rows[0].k
    core = {r.node for r in rows}
    nbrs: dict[int, set] = {}
    for e in _backbone(spark, sf_dir).collect():
        nbrs.setdefault(e.u, set()).add(e.v)
        nbrs.setdefault(e.v, set()).add(e.u)
    for r in rows:
        in_core = len(nbrs[r.node] & core)
        assert in_core >= k, (r.node, in_core, k)
        assert r.core_degree == in_core
    for node in set(nbrs) - core:
        assert len(nbrs[node] & core) < k, f"maximality violated at {node}"
    # golden: full python peel reproduces the exact same core
    alive = set(nbrs)
    while True:
        drop = {x for x in alive if len(nbrs[x] & alive) < k}
        if not drop:
            break
        alive -= drop
    assert alive == core


def _synthetic_edges(spark, n, mod):
    """Deterministic sparse G(n, 1/mod): pair (u,v) is an edge iff the
    md5 of its label falls in the 1/mod bucket. md5-keyed so edge
    presence is uncorrelated with id order — the regime where the
    wedge sampler's hash-rank order must behave like a uniform pair
    sample (an id-correlated generator would mask sampler bias)."""
    import hashlib

    edges = [
        (u, v)
        for u in range(n)
        for v in range(u + 1, n)
        if int(hashlib.md5(f"{u}-{v}".encode()).hexdigest(), 16) % mod == 0
    ]
    return spark.createDataFrame(edges, "u long, v long")


def test_wedge_sampled_zero_on_triangle_free(spark):
    """A bipartite graph has no triangles; the estimator must return
    EXACTLY zero (no closed consecutive pair can exist), not merely a
    small number — the property that makes it safe to gate onto."""
    from reddit_can_bigdata_spark.operators.graph import (
        g9b_triangles_wedge_sampled,
    )

    bip = spark.createDataFrame(
        [(u, v) for u in range(10) for v in range(10, 25)], "u long, v long"
    )
    row = g9b_triangles_wedge_sampled(spark, "", edges=bip).collect()[0]
    assert row["sum_closed_deg"] == 0
    assert row["triangles_est"] == 0.0
    assert row["avg_clustering_est"] == 0.0


def test_wedge_sampled_exact_on_complete_graph(spark):
    """On K_n every tested wedge is closed, so the estimate collapses
    to the exact count C(n,3) and clustering exactly 1.0."""
    from reddit_can_bigdata_spark.operators.graph import (
        g9b_triangles_wedge_sampled,
    )

    n = 20
    kn = spark.createDataFrame(
        [(u, v) for u in range(n) for v in range(u + 1, n)], "u long, v long"
    )
    row = g9b_triangles_wedge_sampled(spark, "", edges=kn).collect()[0]
    assert row["triangles_est"] == n * (n - 1) * (n - 2) / 6
    assert row["avg_clustering_est"] == 1.0


def test_wedge_sampled_close_to_exact_on_sparse_graph(spark):
    """Measured estimator quality on a deterministic sparse md5-keyed
    G(n,p): the wedge sample's triangle and clustering estimates land
    within a few percent of g9's exact values."""
    from reddit_can_bigdata_spark.operators.graph import (
        g9_triangles_clustering,
        g9b_triangles_wedge_sampled,
    )

    df = _synthetic_edges(spark, 200, 10)
    exact = g9_triangles_clustering(spark, "", edges=df).collect()[0]
    est = g9b_triangles_wedge_sampled(spark, "", edges=df).collect()[0]
    t, te = exact["total_triangles"], est["triangles_est"]
    assert t > 100, "graph too sparse to be a meaningful quality probe"
    assert abs(te - t) / t < 0.10, (t, te)
    assert abs(est["avg_clustering_est"] - exact["avg_clustering"]) < 0.02


def test_closeness_relax_volume_gate(spark, sf_dir, monkeypatch):
    """Round 11: the exact-closeness gate budgets relaxation WORK
    (V·E_sym rows), not just node-count state — with the per-slot
    budget forced to 0 the auto gate must pick the sampled estimator
    even though the node ceiling passes."""
    from reddit_can_bigdata_spark.operators import advanced

    monkeypatch.setattr(advanced, "CLOSENESS_RELAX_ROWS_PER_SLOT", 0)
    gated = advanced.closeness_for_scale(spark, sf_dir)
    assert gated.columns == ["node", "closeness"]
    want = {
        (r["node"], r["closeness_est"])
        for r in advanced.g4c_closeness_sampled(spark, sf_dir).collect()
    }
    assert {(r["node"], r["closeness"]) for r in gated.collect()} == want


def test_budgeted_sample_mod_math():
    """Round 11 (post-probe): the sampling modulus a relax-row budget
    affords. Below budget the pinned base mod is returned unchanged
    (so registered oracle queries never drift at driver scale); above
    it, k clamps to what the budget affords — the measured sf1 shape
    (10k nodes, 21.3M symmetric edges) must yield a k in the tens on
    local[32] but stay at base on a 1000-executor cluster."""
    from reddit_can_bigdata_spark.operators.common import (
        budgeted_sample_mod,
    )

    # sf0.1 shape: (1000/7)*1.8M*6 ~ 1.5e9 <= 3.2e9 -> base mod kept
    assert budgeted_sample_mod(1000, 1_814_352, 6, 32, 7) == 7
    # sf1 shape on local[32]: over budget -> clamped
    mod = budgeted_sample_mod(10_000, 21_329_400, 6, 32, 7)
    assert mod > 7
    k = 10_000 // mod
    assert 16 <= k <= 32  # the budget affords ~25 sources
    # same graph, 8000-slot cluster: budget affords the full 1-in-7
    assert budgeted_sample_mod(10_000, 21_329_400, 6, 8000, 7) == 7
    # result never drops below the pinned base mod
    assert budgeted_sample_mod(10, 10, 1, 1000, 7) == 7
    # min_samples floors k even under a zero budget
    assert (
        budgeted_sample_mod(1600, 1_000_000, 6, 1, 7, rows_per_slot=0)
        == 100  # ceil(1600 / 16)
    )


def test_closeness_budgeted_mod_still_estimates(spark, sf_dir):
    """g4c with a larger sampling modulus (fewer sources) returns
    finite non-negative estimates keyed by the same node domain — the
    shape the budgeted production path serves when the graph
    densifies. (Estimator consistency across k is the n/k rescale,
    pinned for betweenness in
    test_distributed_brandes_full_sources_matches_exact.)"""
    from reddit_can_bigdata_spark.operators import advanced

    rows = advanced.g4c_closeness_sampled(
        spark, sf_dir, sample_mod=2
    ).collect()
    assert rows, "mod-2 sample must reach the fixture graph"
    assert all(r["closeness_est"] >= 0 for r in rows)
    base_nodes = {
        r["node"]
        for r in advanced.g4c_closeness_sampled(spark, sf_dir).collect()
    }
    assert {r["node"] for r in rows} >= base_nodes


def test_raw_numpy_edge_build_matches_distributed_aggregate(spark, sf_dir):
    """Round-11 optimization guard: the driver-side numpy edge build
    (`graphkernel._edges_from_raw` over the raw (orderkey, suppkey)
    columns, used by `collect_graph_raw` under the raw gate) must
    produce the EXACT (u, v, weight) multiset of the distributed
    `_edges` aggregate — dedup per order, u<v orientation, co-order
    counts — or every kernel-tier graph query silently drifts."""
    import numpy as np

    from reddit_can_bigdata_spark.operators import graphkernel as gk
    from reddit_can_bigdata_spark.operators.graph import _edges
    from reddit_can_bigdata_spark.operators.common import tables

    df = _edges(spark, sf_dir).orderBy("u", "v").toArrow()
    li = tables(spark, sf_dir)["lineitem"].select(
        "l_orderkey", "l_suppkey"
    ).toArrow()
    u, v, w = gk._edges_from_raw(
        li.column("l_orderkey").to_numpy(zero_copy_only=False).astype(np.int64),
        li.column("l_suppkey").to_numpy(zero_copy_only=False).astype(np.int64),
    )
    assert u.shape[0] == df.num_rows
    assert (u == df.column("u").to_numpy(zero_copy_only=False)).all()
    assert (v == df.column("v").to_numpy(zero_copy_only=False)).all()
    assert (w == df.column("weight").to_numpy(zero_copy_only=False)).all()


def test_graph_size_same_off_the_csr_and_the_edge_frame(spark, sf_dir):
    """`closeness_for_scale`'s gate inputs (n_nodes, e_sym) read off a
    resolved CSR equal the one-aggregate form over the edge frame."""
    from reddit_can_bigdata_spark.operators import graphkernel as gk
    from reddit_can_bigdata_spark.operators.graph import _edges

    _, g = gk.resolve_graph(spark, sf_dir)
    assert g is not None
    size = gk.graph_size(None, g)
    assert size[0] > 0 and size[1] > 0
    assert gk.graph_size(_edges(spark, sf_dir), None) == size


def test_raw_numpy_edge_build_edge_cases():
    """Duplicate (order, supplier) rows collapse; single-supplier
    orders emit nothing; weights count co-orders; empty input yields
    empty arrays; values past the 32-bit packing range fall back to
    the lexicographic path with identical results."""
    import numpy as np

    from reddit_can_bigdata_spark.operators import graphkernel as gk

    ok = np.array([7, 7, 7, 8, 9, 9, 9, 9], dtype=np.int64)
    sk = np.array([2, 1, 2, 5, 1, 2, 3, 1], dtype=np.int64)
    u, v, w = gk._edges_from_raw(ok, sk)
    assert list(zip(u.tolist(), v.tolist(), w.tolist())) == [
        (1, 2, 2),  # co-ordered in orders 7 and 9
        (1, 3, 1),
        (2, 3, 1),
    ]
    e = np.empty(0, dtype=np.int64)
    eu, ev, ew = gk._edges_from_raw(e, e)
    assert eu.shape == ev.shape == ew.shape == (0,)
    # force the unpackable branch with a > 2^31 supplier id
    big = np.int64(1) << 33
    ok2 = np.array([1, 1, 2, 2], dtype=np.int64)
    sk2 = np.array([big, 4, big, 4], dtype=np.int64)
    u2, v2, w2 = gk._edges_from_raw(ok2, sk2)
    assert list(zip(u2.tolist(), v2.tolist(), w2.tolist())) == [(4, int(big), 2)]


def test_dense_blas_kernels_match_executor_kernels(spark, sf_dir):
    """Round-11 optimization guard for the dense BLAS tier: under the
    V <= 4096 dense gate, betweenness / closeness / sampled closeness
    run as driver-side multi-source matmul kernels. Their outputs must
    be row-identical to the per-source executor mapInArrow kernels
    (forced here by dropping the dense gate to 0), or the tier swap
    silently changes results."""
    from reddit_can_bigdata_spark.operators import graphkernel as gk

    _, g = gk.resolve_graph(spark, sf_dir)
    assert g is not None and 0 < g.n_nodes <= gk.TRIANGLE_DENSE_MAX_NODES

    def rows(df):
        return sorted(tuple(r) for r in df.collect())

    dense = {
        "bw": rows(gk.betweenness_kernel_df(spark, g, 6, 7, False)),
        "cl": rows(gk.closeness_kernel_df(spark, g, 6, False)),
        "cls": rows(gk.closeness_sampled_kernel_df(spark, g, 6, 7, False)),
    }
    orig = gk.TRIANGLE_DENSE_MAX_NODES
    gk.TRIANGLE_DENSE_MAX_NODES = 0
    try:
        exe = {
            "bw": rows(gk.betweenness_kernel_df(spark, g, 6, 7, False)),
            "cl": rows(gk.closeness_kernel_df(spark, g, 6, False)),
            "cls": rows(gk.closeness_sampled_kernel_df(spark, g, 6, 7, False)),
        }
    finally:
        gk.TRIANGLE_DENSE_MAX_NODES = orig
    for k in dense:
        assert dense[k] == exe[k], f"dense vs executor kernel mismatch: {k}"


def _lp_tie_graphs():
    """Undirected (u, v, w) edge lists for the label-propagation
    kernel-vs-loop check. ``random``: seeded random graphs with weights
    1-2 (many equal vote sums, so the smallest-label tie-break decides
    often), joined as disjoint components under node-id offsets.
    ``swap``: the star K(1,3), on which synchronous propagation flips
    between two labellings forever. ``single_edge``: one edge, which
    swaps its two labels every round."""
    rng = np.random.default_rng(20241017)
    rand, base = [], 0
    for _ in range(12):
        n = int(rng.integers(4, 24))
        for u in range(n):
            for v in range(u + 1, n):
                if rng.random() < 0.3:
                    rand.append((base + u, base + v, int(rng.integers(1, 3))))
        base += n + 5
    return {
        "random": rand,
        "swap": [(10, 11, 1), (10, 12, 1), (10, 13, 1)],
        "single_edge": [(3, 7, 2)],
    }


@pytest.mark.parametrize("until_converged", [False, True])
@pytest.mark.parametrize("case", ["random", "swap", "single_edge"])
def test_label_prop_kernel_matches_loop(spark, case, until_converged):
    """The driver-side label-propagation kernel must return the exact
    (node, label) map of the distributed loop it replaces under the
    kernel gate, at the fixed LP_ITERS budget and at the
    until_converged cap, including graphs that never converge (where
    the round cap, not the early exit, ends both)."""
    from reddit_can_bigdata_spark.operators.graph import (
        LP_CONVERGED_ROUNDS,
        LP_ITERS,
        label_prop_partition,
    )
    from reddit_can_bigdata_spark.operators.graphkernel import (
        build_arrays,
        label_prop_kernel,
    )

    edges = _lp_tie_graphs()[case]
    u, v, w = (np.array(c, dtype=np.int64) for c in zip(*edges))
    g = build_arrays(u, v, w)
    if case != "random":
        # the graph really swaps: the labelling after one more round
        # differs, and after two more it is back
        once, twice = label_prop_kernel(g, 1), label_prop_kernel(g, 2)
        assert not np.array_equal(once, twice)
        assert np.array_equal(label_prop_kernel(g, 3), once)
    rounds = LP_CONVERGED_ROUNDS if until_converged else LP_ITERS
    kernel = dict(zip(g.nodes.tolist(), label_prop_kernel(g, rounds).tolist()))

    sym = spark.createDataFrame(
        [(a, b, float(c)) for a, b, c in edges]
        + [(b, a, float(c)) for a, b, c in edges],
        "src long, dst long, w double",
    )
    loop = {
        r["node"]: r["label"]
        for r in label_prop_partition(sym, until_converged=until_converged).collect()
    }
    assert kernel == loop
