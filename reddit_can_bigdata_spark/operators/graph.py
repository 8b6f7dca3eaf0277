"""Graph operators as DataFrame algorithms (SURVEY.md §2.9).

The reference builds a NetworkX graph in driver memory
(`network-analysis/network_analysis.py:37-121`) — a hard scale
ceiling. Here the graph IS a DataFrame: an undirected weighted edge
list built by a relational self-join (G1/A14), and every metric is a
join/aggregate (G2/G8/G9/G10) or an unrolled iterative dataflow
(G6 PageRank, G7-ish components) — the Pregel-as-DataFrame pattern.

Test graph: suppliers are nodes; two suppliers are adjacent iff they
co-occur in an order (via lineitem). Same shape as the reference's
user-interaction graph (users co-occurring in a thread).

Oracles: the iterative algorithms use *fixed* iteration counts, so
the DuckDB oracle unrolls them as a CTE chain — bit-stable because
per-iteration arithmetic is deterministic and final ranks are rounded.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from reddit_can_bigdata_spark.operators import graphkernel as gk
from reddit_can_bigdata_spark.operators.common import (
    Rounds,
    fixpoint,
    materialize,
    must_converge,
    round_budget,
    tables,
    unconverged,
)
from reddit_can_bigdata_spark.registry import register

PAGERANK_ITERS = 10
PAGERANK_DAMPING = 0.85
CC_ITERS = 8

# Iterative loops (G5/G6/G7) join a |nodes|-sized state vector
# (ranks / labels / eigenvector values) against the big materialized edge
# table every round. Broadcasting the state keeps the edge table
# unshuffled — the right trade while the vector fits in driver +
# executor memory — but at 100x nodes it is the classic broadcast
# OOM. Above this ceiling the loops switch to a shuffle join against
# the key-partitioned edge table. The session's threshold cannot choose
# here: it does not size a checkpointed state, and it never picks
# the co-partitioned shuffle-hash join over a sort-merge one.
STATE_BROADCAST_MAX_ROWS = 2_000_000


def _join_state(edges: DataFrame, state: DataFrame, on, n_state_rows: int) -> DataFrame:
    """Join the (big, materialized) edge table with the per-node state
    vector of ``n_state_rows`` rows.

    Up to the ceiling: hash map of the state on every executor, edge
    table never moves. Above it: shuffle-hash join — the edge table is
    already partitioned on its join key by the caller, so the exchange
    moves only the |nodes|-sized state side; no size ceiling."""
    if n_state_rows <= STATE_BROADCAST_MAX_ROWS:
        return edges.join(F.broadcast(state), on)
    return edges.join(state.hint("shuffle_hash"), on)


def betweenness_exact(edge_list: list[tuple[int, int]]) -> dict[int, float]:
    """G3: exact betweenness centrality (Brandes' algorithm, unweighted)
    on a collected edge list — the documented DRIVER-SIDE fallback
    (`network-analysis/network_analysis.py:145`; SURVEY §7.3 risk 2).

    Exact betweenness is O(V·E) sequential; run it only on graphs small
    enough to collect (the reference's ~500-user graph qualifies). The
    scale path is pivot sampling: run the same accumulation from a
    random source subset and rescale — same code, sampled sources.
    Undirected, unnormalized, each pair counted once.
    """
    import collections

    adj: dict[int, set[int]] = collections.defaultdict(set)
    for u, v in edge_list:
        adj[u].add(v)
        adj[v].add(u)
    bc = dict.fromkeys(adj, 0.0)
    for s in adj:
        # single-source shortest-path counts (BFS)
        dist = {s: 0}
        sigma = collections.defaultdict(int)
        sigma[s] = 1
        preds: dict[int, list[int]] = collections.defaultdict(list)
        order: list[int] = []
        q = collections.deque([s])
        while q:
            x = q.popleft()
            order.append(x)
            for y in adj[x]:
                if y not in dist:
                    dist[y] = dist[x] + 1
                    q.append(y)
                if dist[y] == dist[x] + 1:
                    sigma[y] += sigma[x]
                    preds[y].append(x)
        # dependency accumulation
        delta = dict.fromkeys(dist, 0.0)
        for w in reversed(order):
            for p in preds[w]:
                delta[p] += (sigma[p] / sigma[w]) * (1 + delta[w])
            if w != s:
                bc[w] += delta[w]
    return {n: b / 2 for n, b in bc.items()}  # undirected pairs counted twice

# Undirected weighted edge list (u < v), weight = #shared orders,
# types = sorted distinct order statuses over those orders (A14).
_EDGES_SQL = """
  SELECT a.l_suppkey AS u, b.l_suppkey AS v,
         CAST(COUNT(DISTINCT a.l_orderkey) AS BIGINT) AS weight
  FROM lineitem a JOIN lineitem b
    ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
  GROUP BY u, v
"""


def _edges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1: build the undirected edge list — per-order supplier set →
    in-row pair expansion → pair-count aggregate.

    Reference builds edges with CPython dict loops
    (`network-analysis/network_analysis.py:42-121`). Round 11
    (optimization, guide §2.4 "remove shuffles outright"): the previous
    form deduped (orderkey, suppkey) with a DISTINCT (one shuffle on
    both columns), self-joined on orderkey (second shuffle — the
    distinct's partitioning doesn't serve an orderkey join), then
    aggregated pairs (third shuffle). Collapsing the dedup + self-join
    into ``collect_set`` per orderkey + an in-row combination explode
    produces the identical pair multiset with ONE shuffle before the
    pair aggregate, and the shuffle carries one set row per order
    instead of the join's row pairs. Per-order sets are tiny (bounded
    by order line count), so the explode is skew-free and
    corpus-linear — the same shape at 100 TB.

    Equivalence: each order contributes exactly one row per unordered
    supplier pair in both forms (the old DISTINCT made (orderkey,
    suppkey) unique before the u<v join; a set is unique by
    construction, and array_sort makes every emitted pair u<v), so
    weight = COUNT(*) is unchanged.
    """
    li = tables(spark, sf_dir)["lineitem"].select("l_orderkey", "l_suppkey")
    per_order = li.groupBy("l_orderkey").agg(
        F.array_sort(F.collect_set("l_suppkey")).alias("s")
    )
    pairs = per_order.select(
        F.explode(
            F.expr(
                "flatten(transform(s, (x, i) ->"
                " transform(slice(s, i + 2, size(s)), y -> struct(x AS u, y AS v))))"
            )
        ).alias("p")
    )
    return pairs.groupBy(F.col("p.u").alias("u"), F.col("p.v").alias("v")).agg(
        F.count("*").cast("bigint").alias("weight")
    )


def _sym(edges: DataFrame, weight: str | None = None, key: str | None = None) -> DataFrame:
    """The loop tier's symmetric edge list: both directions of every
    undirected (u, v) row as (src, dst), materialized once.

    ``weight`` adds the edge weight: ``"w"`` as a double (the rank,
    eigenvector and label loops) or ``"weight"`` as the raw count (the
    weighted distance loops). ``key`` hash-partitions the list on the
    column the caller's state join probes, so only the state side
    moves when the join shuffles."""
    extra = {
        None: [],
        "weight": [F.col("weight")],
        "w": [F.col("weight").cast("double").alias("w")],
    }[weight]
    sym = edges.select(F.col("u").alias("src"), F.col("v").alias("dst"), *extra).unionAll(
        edges.select(F.col("v").alias("src"), F.col("u").alias("dst"), *extra)
    )
    return materialize(sym.repartition(key) if key else sym)


def _sym_sql(weight: str | None = None) -> str:
    """`_sym`'s DuckDB twin, the iterative oracles' preamble: the CTE
    ``e`` (the undirected edge aggregate) and ``sym`` (both directions
    of every edge as (src, dst)). ``weight`` is `_sym`'s: ``None``,
    ``"weight"`` (the raw count) or ``"w"`` (the count as a double).
    Both CTEs are MATERIALIZED, as every round reads ``sym`` again."""
    e = _EDGES_SQL if weight else f"SELECT u, v FROM ({_EDGES_SQL})"
    w = {None: "", "weight": ", weight", "w": ", CAST(weight AS DOUBLE) AS w"}[weight]
    return (
        f"e AS MATERIALIZED ({e}),\n"
        f"sym AS MATERIALIZED (SELECT u AS src, v AS dst{w} FROM e"
        f" UNION ALL SELECT v, u{w} FROM e)"
    )


def _unrolled(prefix: str, step: Callable[[int], str], rounds: int) -> str:
    """A fixed-round loop as the CTE chain ``{prefix}1..{prefix}{rounds}``
    after the caller's seed ``{prefix}0``: round i + 1 is ``step(i)``, a
    query over ``{prefix}{i}``. MATERIALIZED, or DuckDB inlines the
    rounds that read their predecessor twice and the plan grows 2^k."""
    return ",\n".join(
        f"{prefix}{i + 1} AS MATERIALIZED ({step(i)})" for i in range(rounds)
    )


@register(
    "g1_a14_edge_aggregation",
    oracle="""
    WITH pairs AS (
      SELECT a.l_suppkey AS u, b.l_suppkey AS v, a.l_orderkey AS ok
      FROM lineitem a JOIN lineitem b
        ON a.l_orderkey = b.l_orderkey AND a.l_suppkey < b.l_suppkey
    )
    SELECT u, v, CAST(COUNT(DISTINCT ok) AS BIGINT) AS weight,
           array_to_string(list_sort(list_distinct(list(o.o_orderstatus))), ',') AS types
    FROM pairs p JOIN orders o ON o.o_orderkey = p.ok
    GROUP BY u, v
    """,
    tags=("graph", "agg"),
)
def g1_a14_edge_aggregation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G1+A14: canonical undirected edges with weight and the sorted
    distinct interaction-type set (collect_set analog,
    `network-analysis/network_analysis.py:109-114`), rendered as a
    string so the hash comparison is array-order-free."""
    t = tables(spark, sf_dir)
    li = t["lineitem"].select("l_orderkey", "l_suppkey")
    a, b = li.alias("a"), li.alias("b")
    pairs = a.join(
        b,
        (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
        & (F.col("a.l_suppkey") < F.col("b.l_suppkey")),
    ).select(
        F.col("a.l_suppkey").alias("u"),
        F.col("b.l_suppkey").alias("v"),
        F.col("a.l_orderkey").alias("ok"),
    )
    return (
        pairs.join(t["orders"], F.col("ok") == F.col("o_orderkey"))
        .groupBy("u", "v")
        .agg(
            F.countDistinct("ok").alias("weight"),
            F.array_join(F.array_sort(F.collect_set("o_orderstatus")), ",").alias("types"),
        )
    )


@register(
    "g2_degree_centrality",
    oracle=f"""
    WITH e AS ({_EDGES_SQL}),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS degree,
             CAST(SUM(weight) AS BIGINT) AS weighted_degree
      FROM (SELECT u AS node, weight FROM e UNION ALL SELECT v, weight FROM e)
      GROUP BY node
    ),
    n AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n_nodes FROM deg)
    SELECT d.node, d.degree, d.weighted_degree,
           round(d.degree / (n.n_nodes - 1), 6) AS degree_centrality
    FROM deg d CROSS JOIN n
    """,
    tags=("graph", "centrality"),
    bench=True,
)
def g2_degree_centrality(
    spark: SparkSession,
    sf_dir: str,
    edges: DataFrame | None = None,
    graph=None,
) -> DataFrame:
    """G2+G10: degree and weighted degree per node, plus
    degree/(n-1) centrality (`network-analysis/network_analysis.py:138`).
    Explode both endpoints → one hash aggregate; the n-1 scalar
    broadcasts. ``edges`` lets a composite share one materialized
    edge table across several centralities; ``graph`` (a pre-collected
    ``GraphArrays``) lets it read degrees off the shared CSR with zero
    edge-table passes (optimization round 11)."""
    if graph is None and edges is None:
        # Standalone call: take the kernel tier only through the raw
        # collect (optimization round 12). collect_graph_raw makes the
        # gate a filesystem stat and the edge build ~0.3s of driver
        # numpy: A/B at sf0.1 (n=4, values identical) — distributed
        # 1.88s wall / 3.4 cpu-s vs kernel 0.63s / 0.12. Above the raw
        # gate the distributed edge aggregate would cost a count job
        # plus an Arrow collect just to read row lengths, more than
        # the one-aggregate distributed plan below that it replaces, so
        # a raw-gate miss goes straight to that plan (the 100 TB path).
        graph = gk.collect_graph_raw(spark, sf_dir)
    if graph is not None:
        return gk.degree_kernel_df(spark, graph)
    e, _ = gk.resolve_graph(spark, sf_dir, edges, kernel=False)
    # One edge-table pass, not four: the u/v union as a generator over
    # a single scan (explode of the two endpoint structs), and the
    # |V|-row degree table materialized so the n-count broadcast job and
    # the output both read it instead of re-running the edge build (the
    # before-plan showed four full lineitem→pairs subtrees; guide §2.4
    # "remove shuffles outright" / duplicated-subtree case).
    both = e.select(
        F.explode(
            F.array(
                F.struct(F.col("u").alias("node"), F.col("weight")),
                F.struct(F.col("v").alias("node"), F.col("weight")),
            )
        ).alias("s")
    ).select("s.node", "s.weight")
    deg = materialize(
        both.groupBy("node").agg(
            F.count("*").alias("degree"), F.sum("weight").alias("weighted_degree")
        ),
        eager=False,
    )
    n = deg.agg(F.count("*").cast("double").alias("n_nodes"))
    return deg.crossJoin(n).select(
        "node",
        "degree",
        "weighted_degree",
        F.round(F.col("degree") / (F.col("n_nodes") - 1), 6).alias("degree_centrality"),
    )


@register(
    "g8_graph_metadata",
    oracle=f"""
    WITH e AS ({_EDGES_SQL}),
    nodes AS (SELECT DISTINCT node FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e))
    SELECT CAST((SELECT COUNT(*) FROM nodes) AS BIGINT) AS num_nodes,
           CAST((SELECT COUNT(*) FROM e) AS BIGINT) AS num_edges,
           round(2.0 * (SELECT COUNT(*) FROM e)
                 / NULLIF((SELECT COUNT(*) FROM nodes) * ((SELECT COUNT(*) FROM nodes) - 1.0), 0), 6)
             AS density
    """,
    tags=("graph", "scalar"),
)
def g8_graph_metadata(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G8: graph metadata — node count, edge count, density 2E/(N(N-1))
    (`network-analysis/network_analysis.py:119,333`). Under the raw
    collect gate the counts come off the collected CSR as a 1-row
    frame; above it, from the distributed edge aggregate."""
    g = gk.collect_graph_raw(spark, sf_dir)
    return _graph_counts(spark, None if g is not None else _edges(spark, sf_dir), g)


def _graph_counts(spark: SparkSession, edges: DataFrame | None, g) -> DataFrame:
    """g8 over a resolved graph: the counts off the CSR when there is
    one (no job), else two aggregates over the edge frame."""
    if g is not None:
        import pandas as pd

        # a pandas frame becomes a local relation: no Python worker runs
        counts = gk._local_df(spark, pd.DataFrame(
            {"num_nodes": [g.n_nodes], "num_edges": [g.n_sym_edges // 2]}
        ))
    else:
        nodes = edges.select(F.col("u").alias("node")).unionAll(
            edges.select(F.col("v").alias("node"))
        ).distinct()
        ec = edges.agg(F.count("*").alias("num_edges"))
        nc = nodes.agg(F.count("*").alias("num_nodes"))
        counts = nc.crossJoin(ec)
    return counts.select(
        "num_nodes",
        "num_edges",
        # try_divide: an empty/one-node graph has no defined density —
        # NULL on both engines (the oracle NULLIFs the denominator)
        F.round(
            F.try_divide(
                2.0 * F.col("num_edges"),
                F.col("num_nodes") * (F.col("num_nodes") - 1.0),
            ),
            6,
        ).alias("density"),
    )


@register(
    "g9_triangles_clustering",
    oracle=f"""
    WITH e AS (SELECT u, v FROM ({_EDGES_SQL})),
    tri AS (
      SELECT e1.u AS a, e1.v AS b, e2.v AS c
      FROM e e1 JOIN e e2 ON e2.u = e1.v
      JOIN e e3 ON e3.u = e1.u AND e3.v = e2.v
    ),
    tri_per_node AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS n_tri
      FROM (SELECT a AS node FROM tri UNION ALL SELECT b FROM tri UNION ALL SELECT c FROM tri)
      GROUP BY node
    ),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS degree
      FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e) GROUP BY node
    )
    SELECT CAST((SELECT COUNT(*) FROM tri) AS BIGINT) AS total_triangles,
           round(CAST(SUM(CASE WHEN d.degree >= 2
                      THEN 2.0 * coalesce(t.n_tri, 0) / (d.degree * (d.degree - 1.0))
                      ELSE 0.0 END) AS DOUBLE) / NULLIF(COUNT(*), 0), 6) AS avg_clustering
    FROM deg d LEFT JOIN tri_per_node t ON t.node = d.node
    """,
    tags=("graph", "triangles"),
    bench=True,
)
def g9_triangles_clustering(
    spark: SparkSession, sf_dir: str, edges: DataFrame | None = None
) -> DataFrame:
    """G9: triangle counting with DEGREE ORIENTATION — every edge is
    directed from its lower-(degree, id) endpoint to the higher one,
    so each triangle {x,y,z} with pi(x)<pi(y)<pi(z) is enumerated
    exactly once as the wedge (x->y, x->z) closed by the edge (y->z).
    Then local clustering C(v)=2T(v)/(d(v)(d(v)-1)) averaged over all
    nodes (`nx.average_clustering`,
    `network-analysis/network_analysis.py:335`).

    Scale: under degree orientation every node's OUT-degree is
    O(sqrt(E)) (a classic bound: a node keeps an out-edge only toward
    neighbors of >= its own degree), so the wedge join fans out at most
    sqrt(E) per edge regardless of celebrity nodes — the skew bound the
    raw (u<v) orientation lacks. The edge list is built once and
    materialized; the wedge join and the closing-edge join shuffle on vertex
    ids.
    """
    return _triangles(spark, sf_dir, *gk.resolve_graph(spark, sf_dir, edges))


def _triangles(
    spark: SparkSession, sf_dir: str, edges: DataFrame | None, g
) -> DataFrame:
    """g9 over a resolved graph: the dense kernel on a CSR under
    ``TRIANGLE_DENSE_MAX_NODES``, else the distributed count over the
    edge frame (built here when the CSR came without one)."""
    if g is not None and g.n_nodes <= gk.TRIANGLE_DENSE_MAX_NODES:
        tk = gk.triangles_kernel_df(spark, g)
        local_k = F.when(
            F.col("degree") >= 2,
            2.0
            * F.coalesce(F.col("n_tri"), F.lit(0))
            / (F.col("degree") * (F.col("degree") - 1.0)),
        ).otherwise(0.0)
        return tk.agg(
            (F.coalesce(F.sum("n_tri"), F.lit(0)) / 3)
            .cast("long")
            .alias("total_triangles"),
            F.round(
                F.try_divide(F.sum(local_k).cast("double"), F.count("*")), 6
            ).alias("avg_clustering"),
        )
    e, _ = gk.resolve_graph(spark, sf_dir, edges, kernel=False)
    e = materialize(e.select("u", "v"))
    deg = materialize(
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
    )
    # Strategy switch: per-node triangle counts via the complement
    # identity T(v) = C(deg v, 2) − open_wedges(v), where an open
    # wedge at v is a NON-adjacent neighbor pair — countable over the
    # missing-pair set. On dense graphs |missing|·deg is far below the
    # direct path's Σwedges + 3·|triangles| (the K1000-ish test graph:
    # ~42M vs ~550M rows); on sparse graphs the missing set is O(N²)
    # and the degree-oriented wedge join wins. Pick by measured sizes;
    # both produce identical exact results. One job: Σdeg = 2|E|, and
    # Σdeg² bounds the wedge join output (the sums are None on empty).
    row = deg.agg(
        F.count("*").alias("n"),
        F.sum("degree").alias("e"),
        F.sum(F.col("degree") * F.col("degree")).alias("s"),
    ).collect()[0]
    n_nodes, n_edges, direct_cost = row["n"], (row["e"] or 0) // 2, row["s"] or 0
    n_missing = n_nodes * (n_nodes - 1) // 2 - n_edges
    avg_deg = 2.0 * n_edges / max(n_nodes, 1)
    if n_missing * avg_deg < direct_cost:
        tpn = _triangles_per_node_complement(e, deg)
    else:
        tpn = _triangles_per_node_oriented(e, deg)
    local = F.when(
        F.col("degree") >= 2,
        2.0 * F.coalesce(F.col("n_tri"), F.lit(0)) / (F.col("degree") * (F.col("degree") - 1.0)),
    ).otherwise(0.0)
    return deg.join(tpn, "node", "left").agg(
        (F.coalesce(F.sum("n_tri"), F.lit(0)) / 3).cast("long").alias("total_triangles"),
        F.round(F.try_divide(F.sum(local).cast("double"), F.count("*")), 6).alias(
            "avg_clustering"
        ),
    )


def _triangles_per_node_oriented(e: DataFrame, deg: DataFrame) -> DataFrame:
    """Direct path: degree-oriented wedge join (each triangle
    enumerated once), per-node counts from ONE traversal of the
    triangle set (corner explode — a 3-branch union would re-execute
    the dominant join per branch, measured 50s -> ~15s). Returns
    3·T(v) per node as n_tri rows."""
    ed = (
        e.join(deg.select(F.col("node").alias("u"), F.col("degree").alias("du")), "u")
        .join(deg.select(F.col("node").alias("v"), F.col("degree").alias("dv")), "v")
    )
    fwd = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = materialize(
        ed.select(
            F.when(fwd, F.col("u")).otherwise(F.col("v")).alias("src"),
            F.when(fwd, F.col("v")).otherwise(F.col("u")).alias("dst"),
            F.when(fwd, F.col("dv")).otherwise(F.col("du")).alias("ddeg"),
        )
    )
    e1, e2, e3 = oriented.alias("e1"), oriented.alias("e2"), oriented.alias("e3")
    # wedge (src->b, src->c) with pi(b) < pi(c), closed by oriented b->c
    wedge_lt = (F.col("e1.ddeg") < F.col("e2.ddeg")) | (
        (F.col("e1.ddeg") == F.col("e2.ddeg")) & (F.col("e1.dst") < F.col("e2.dst"))
    )
    tri = (
        e1.join(e2, (F.col("e2.src") == F.col("e1.src")) & wedge_lt)
        .join(
            e3,
            (F.col("e3.src") == F.col("e1.dst")) & (F.col("e3.dst") == F.col("e2.dst")),
        )
        .select(
            F.col("e1.src").alias("a"), F.col("e1.dst").alias("b"), F.col("e2.dst").alias("c")
        )
    )
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("n_tri"))
    )


def _triangles_per_node_complement(e: DataFrame, deg: DataFrame) -> DataFrame:
    """Complement path for dense graphs: every neighbor pair of v is
    either a triangle or an open wedge, so
    T(v) = C(deg v, 2) − |{(a,b) missing : v ∈ N(a) ∩ N(b)}|.
    Enumerate common neighbors of each MISSING pair (candidates =
    |missing|·deg through two broadcastable edge joins, spread across
    tasks) and subtract. Exact for any graph; chosen only when the
    missing set is small."""
    sym = _sym(e)
    nodes = deg.select("node")
    a = nodes.select(F.col("node").alias("a"))
    b = nodes.select(F.col("node").alias("b"))
    n_parts = e.sparkSession.sparkContext.defaultParallelism
    missing = (
        a.crossJoin(b)
        .where(F.col("a") < F.col("b"))
        .join(
            e.select(F.col("u").alias("a"), F.col("v").alias("b")), ["a", "b"], "left_anti"
        )
        .repartition(n_parts)
    )
    # v ∈ N(b): expand; then keep v ∈ N(a) via the second edge probe.
    # (a,b) missing ⇒ a ∉ N(b) and b ∉ N(a), so v ≠ a, v ≠ b for free.
    cand = missing.join(
        sym.select(F.col("src").alias("b"), F.col("dst").alias("vn")), "b"
    )
    witnessed = cand.join(
        sym.select(F.col("src").alias("a"), F.col("dst").alias("vn")),
        ["a", "vn"],
        "left_semi",
    )
    open_wedges = witnessed.groupBy(F.col("vn").alias("node")).agg(
        F.count("*").alias("n_open")
    )
    # n_tri = T(v), the same unit the oriented path's corner counts
    # produce (each triangle contributes once per corner)
    return deg.join(open_wedges, "node", "left").select(
        "node",
        (
            (F.col("degree") * (F.col("degree") - 1) / 2).cast("long")
            - F.coalesce(F.col("n_open"), F.lit(0))
        )
        .cast("long")
        .alias("n_tri"),
    )


# Wedge-sample hash: neighbors are ranked by (id · MULT) mod PRIME —
# a multiplicative hash both engines compute identically on BIGINT
# (products stay far under 2^63 for any realistic id space). The
# multiplicative constant (Knuth's 2654435761) decorrelates rank
# order from id order, which matters because co-occurrence graphs are
# id-correlated (consecutive suppkeys co-order): an order-preserving
# key ((id + C) % P, or the ids themselves) keeps adjacent ids
# adjacent in rank order, so the "consecutive pair" sample
# over-covers true edges — measured +46% to +55% triangle
# overestimate on local-window graphs (u ~ u±k), vs −12% to −37% for
# the multiplicative hash on the same adversarial structure and
# ±0.5–5% on md5-keyed G(n,p) where id order carries no signal
# (measurement script in tests/test_graph_invariants.py's synthetic
# generators; single fixed hash ⇒ per-node sampling errors correlate
# on translation-symmetric graphs instead of averaging out — the
# known cost of a deterministic, oracle-reproducible sample).
WEDGE_HASH_MULT = 2654435761
WEDGE_HASH_MOD = 2147483647  # 2^31 - 1, prime

@register(
    "g9b_triangles_wedge_sampled",
    oracle=f"""
    WITH e AS MATERIALIZED (SELECT u, v FROM ({_EDGES_SQL})),
    sym AS (SELECT u AS src, v AS dst FROM e UNION ALL SELECT v, u FROM e),
    ordered AS (
      SELECT src, dst,
             lead(dst) OVER (
               PARTITION BY src
               ORDER BY (dst * {WEDGE_HASH_MULT}) % {WEDGE_HASH_MOD}, dst
             ) AS nxt
      FROM sym
    ),
    tested AS (
      SELECT src, least(dst, nxt) AS a, greatest(dst, nxt) AS b
      FROM ordered WHERE nxt IS NOT NULL
    ),
    closed AS (
      SELECT t.src AS node, CAST(COUNT(*) AS BIGINT) AS n_closed
      FROM tested t JOIN e ON e.u = t.a AND e.v = t.b
      GROUP BY t.src
    ),
    deg AS (
      SELECT node, CAST(COUNT(*) AS BIGINT) AS degree
      FROM (SELECT u AS node FROM e UNION ALL SELECT v FROM e) GROUP BY node
    )
    SELECT CAST(SUM(COALESCE(c.n_closed, 0) * d.degree) AS BIGINT)
             AS sum_closed_deg,
           round(CAST(SUM(COALESCE(c.n_closed, 0) * d.degree) AS DOUBLE)
             / 6.0, 2) AS triangles_est,
           round(CAST(SUM(CASE WHEN d.degree >= 2
                      THEN CAST(COALESCE(c.n_closed, 0) AS DOUBLE)
                           / (d.degree - 1.0)
                      ELSE 0.0 END) AS DOUBLE)
             / NULLIF(COUNT(*), 0), 6) AS avg_clustering_est
    FROM deg d LEFT JOIN closed c ON c.node = d.node
    """,
    tags=("graph", "triangles", "sampled"),
)
def g9b_triangles_wedge_sampled(
    spark: SparkSession, sf_dir: str, edges: DataFrame | None = None
) -> DataFrame:
    """G9 at the scale where exact counting dies: estimate triangles
    and average clustering from O(E_sym) wedge samples instead of
    Σdeg² enumerated wedges.

    Each node ranks its neighbors by the portable multiplicative hash
    above and tests ONLY the d−1 consecutive pairs in that order —
    d−1 of the C(d,2) wedges at the node, a deterministic
    pseudo-uniform sample (so the DuckDB oracle reproduces it bit-for-
    bit; a random sample could not be oracled). With ``closed``
    closures observed among d−1 tested wedges, the closed-wedge count
    at v estimates as closed·C(d,2)/(d−1) = closed·d/2, hence

        T̂ = Σ_v closed(v)·d(v) / 6      (each triangle has 3 corners)
        Ĉ(v) = closed(v)/(d(v)−1),  avg over ALL nodes (deg<2 → 0)

    ``sum_closed_deg`` (Σ closed·d) stays BIGINT-exact — the one
    hash-stable integer both engines must agree on — with a single
    final division producing the float estimates. Zero triangles ⇒
    zero estimate identically (no closed consecutive pair exists), and
    a complete graph estimates exactly (every tested wedge closed ⇒
    closed = d−1 ⇒ Ĉ(v) = 1).

    Scale shape: one window over the symmetric edge list (shuffle on
    src, O(E_sym) rows), one edge-set semi-probe of the tested pairs
    (O(E_sym) rows), one |nodes|-sized aggregate — no term grows with
    Σdeg². The reference computes `nx.average_clustering` in driver
    memory (`network-analysis/network_analysis.py:335`); this is the
    form that survives the graph NetworkX cannot hold.
    """
    e, _ = gk.resolve_graph(spark, sf_dir, edges, kernel=False)
    e = materialize(e.select("u", "v"))
    sym = _sym(e)
    hk = (F.col("dst") * F.lit(WEDGE_HASH_MULT)) % F.lit(WEDGE_HASH_MOD)
    w = Window.partitionBy("src").orderBy(hk.asc(), F.col("dst").asc())
    tested = (
        sym.withColumn("nxt", F.lead("dst").over(w))
        .where(F.col("nxt").isNotNull())
        .select(
            "src",
            F.least("dst", "nxt").alias("a"),
            F.greatest("dst", "nxt").alias("b"),
        )
    )
    closed = (
        tested.join(
            e.select(F.col("u").alias("a"), F.col("v").alias("b")),
            ["a", "b"],
            "left_semi",
        )
        .groupBy(F.col("src").alias("node"))
        .agg(F.count("*").cast("bigint").alias("n_closed"))
    )
    deg = (
        e.select(F.col("u").alias("node"))
        .unionAll(e.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").cast("bigint").alias("degree"))
    )
    nc = F.coalesce(F.col("n_closed"), F.lit(0))
    local = F.when(
        F.col("degree") >= 2, nc.cast("double") / (F.col("degree") - 1.0)
    ).otherwise(0.0)
    return deg.join(closed, "node", "left").agg(
        F.sum(nc * F.col("degree")).cast("bigint").alias("sum_closed_deg"),
        F.round(
            F.sum(nc * F.col("degree")).cast("double") / 6.0, 2
        ).alias("triangles_est"),
        F.round(
            F.try_divide(F.sum(local).cast("double"), F.count("*")), 6
        ).alias("avg_clustering_est"),
    )


def _pagerank_oracle() -> str:
    """Unrolled fixed-iteration PageRank as a DuckDB CTE chain."""
    d = PAGERANK_DAMPING
    rounds = _unrolled(
        "pr",
        lambda i: f"""
              SELECT t.dst AS node,
                     (1.0 - {d}) / (SELECT nn FROM n) + {d} * SUM(p.rank * t.p) AS rank
              FROM trans t JOIN pr{i} p ON p.node = t.src
              GROUP BY t.dst""",
        PAGERANK_ITERS,
    )
    # trans: the symmetric edges with transition weight w/wdeg(src)
    return f"""WITH {_sym_sql("w")},
    wdeg AS MATERIALIZED (SELECT src, SUM(w) AS wd FROM sym GROUP BY src),
    trans AS MATERIALIZED (
      SELECT s.src, s.dst, s.w / d.wd AS p
      FROM sym s JOIN wdeg d ON d.src = s.src
    ),
    n AS MATERIALIZED (SELECT CAST(COUNT(DISTINCT src) AS DOUBLE) AS nn FROM sym),
    pr0 AS MATERIALIZED (SELECT src AS node, 1.0 / n.nn AS rank FROM wdeg CROSS JOIN n),
    {rounds}
    SELECT node, round(rank, 6) AS pagerank FROM pr{PAGERANK_ITERS}"""


@register(
    "g6_pagerank",
    oracle=_pagerank_oracle(),
    tags=("graph", "pagerank", "iterative"),
    bench=True,
)
def g6_pagerank(
    spark: SparkSession,
    sf_dir: str,
    edges: DataFrame | None = None,
    graph=None,
) -> DataFrame:
    """G6: weighted PageRank (`nx.pagerank`,
    `network-analysis/network_analysis.py:171`) as an iterative
    DataFrame loop — rank' = (1-d)/N + d * Σ_in rank·w/wdeg, fixed 10
    iterations, damping 0.85.

    Scale: the transition matrix (src,dst,p) is computed once and
    materialized, partitioned by src so the join is co-located; each
    iteration is one shuffle on dst (G5 eigenvector centrality is this same loop with a normalize step instead of the
    teleport term). ``edges`` lets a composite share one materialized
    edge table across several centralities.
    """
    edges, g = gk.resolve_graph(spark, sf_dir, edges, graph)
    if g is not None:
        return gk.pagerank_kernel_df(spark, g, PAGERANK_ITERS, PAGERANK_DAMPING)
    sym = _sym(edges, "w")
    wdeg = sym.groupBy("src").agg(F.sum("w").alias("wd"))
    # Iterative loops pay per-task scheduler overhead EVERY round, so
    # the materialized transition matrix wants few, fat partitions (measured
    # 2x on the 10-round loop going 32 -> 8 partitions at sf0.1). On a
    # cluster, size by bytes (~128MB/partition), not by core count.
    n_parts = max(4, spark.sparkContext.defaultParallelism // 4)
    # keyed repartition: in shuffle state-join mode the src-partitioned
    # table co-locates the join so only the state side moves; in
    # broadcast mode it is an equally good fat-partition layout.
    trans = materialize(
        sym.join(wdeg, "src")
        .select("src", "dst", (F.col("w") / F.col("wd")).alias("p"))
        .repartition(n_parts, "src")
    )
    nodes = wdeg.select(F.col("src").alias("node"))
    n_nodes = float(nodes.count())
    if n_nodes == 0:
        # empty graph: no nodes to rank — return the empty result with
        # the right schema instead of evaluating 1/N below
        return nodes.select("node", F.lit(None).cast("double").alias("pagerank"))
    teleport = (1.0 - PAGERANK_DAMPING) / n_nodes

    def rank(r: Rounds) -> DataFrame:
        # ranks is |nodes|-sized — below the broadcast ceiling it
        # broadcasts so the (big) transition matrix never shuffles; the
        # groupBy partial-aggregates map-side, so the per-iteration
        # shuffle carries only |nodes| x |partitions| rows. Above the
        # ceiling it becomes a co-partitioned shuffle-hash join.
        ranks = r.state
        return (
            _join_state(trans, ranks, trans.src == ranks.node, n_nodes)
            .groupBy(F.col("dst").alias("node"))
            .agg(
                (F.lit(teleport) + F.lit(PAGERANK_DAMPING) * F.sum(F.col("rank") * F.col("p"))).alias(
                    "rank"
                )
            )
        )

    ranks = nodes.select("node", F.lit(1.0 / n_nodes).alias("rank"))
    ranks = fixpoint(ranks, rank, PAGERANK_ITERS).state
    return ranks.select("node", F.round("rank", 6).alias("pagerank"))


LP_ITERS = 4
#: round cap of ``until_converged`` label propagation: sync label
#: propagation can 2-cycle on bipartite-ish structure (no guaranteed
#: fixed point), so it caps at a budget enough for any practical
#: community structure rather than the diameter-scale backstop the
#: monotone loops use.
LP_CONVERGED_ROUNDS = 50


def _labelprop_oracle() -> str:
    rounds = _unrolled(
        "lp",
        lambda i: f"""
              SELECT node, label FROM (
                SELECT s.src AS node, l.label,
                       row_number() OVER (
                         PARTITION BY s.src
                         ORDER BY SUM(s.w) DESC, l.label
                       ) AS rn
                FROM sym s JOIN lp{i} l ON l.node = s.dst
                GROUP BY s.src, l.label
              ) WHERE rn = 1""",
        LP_ITERS,
    )
    return f"""WITH {_sym_sql("w")},
    lp0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label FROM sym),
    {rounds}
    SELECT CAST(label AS BIGINT) AS community,
           CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM lp{LP_ITERS} GROUP BY label"""


def label_prop_partition(sym: DataFrame, until_converged: bool = False) -> DataFrame:
    """Weighted label-propagation loop over a prepared symmetric edge
    list (src, dst, w) — every node synchronously adopts the label
    carrying the greatest total edge weight in its neighborhood (tie →
    smallest label), fixed 4 rounds. Each round = one state join
    (broadcast under the ceiling, co-partitioned shuffle above —
    `_join_state`) + one hash aggregate + one per-node window — linear
    in |E|. Deterministic by construction (sync updates, total tie
    order), hence oracle-checkable: an unchanged round is a fixed point.
    Returns (node, label)."""
    labels = sym.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    n_labels = labels.count()
    w = Window.partitionBy("node").orderBy(F.desc("wsum"), F.asc("label"))

    def vote(r: Rounds) -> DataFrame:
        labels = r.state
        votes = (
            _join_state(sym, labels, sym.dst == labels.node, n_labels)
            .groupBy(F.col("src").alias("node"), F.col("label"))
            .agg(F.sum("w").alias("wsum"))
        )
        return (
            votes.withColumn("rn", F.row_number().over(w))
            .where(F.col("rn") == 1)
            .select("node", "label")
        )

    def moved(nxt: DataFrame, labels: DataFrame) -> DataFrame:
        ab = nxt.alias("a").join(labels.alias("b"), "node")
        return ab.where(F.col("a.label") != F.col("b.label"))

    return fixpoint(
        labels, vote, LP_ITERS, until_converged=until_converged,
        cap=LP_CONVERGED_ROUNDS, changed=moved,
    ).state


def _label_prop(spark: SparkSession, sf_dir: str) -> tuple[DataFrame | tuple, DataFrame]:
    """Label propagation over the event co-occurrence graph; returns
    (graph, labels), ``labels`` a frame with (node, label) columns.

    Under the kernel gate ``graph`` is ``(GraphArrays, label array
    aligned with its nodes)``, so callers sum edge weights on the
    driver, and ``labels`` also carries each node's degree and
    engagement (`community_nodes_df`). Otherwise
    ``graph`` is the dst-partitioned symmetric edge list (src, dst, w)
    that `label_prop_partition` ran over."""
    edges, g = gk.resolve_graph(spark, sf_dir)
    if g is not None:
        lab = gk.label_prop_kernel(g, LP_ITERS)
        return (g, lab), gk.community_nodes_df(spark, g, lab)
    sym = _sym(edges, "w", key="dst")
    return sym, label_prop_partition(sym)


@register(
    "g7_label_propagation",
    oracle=_labelprop_oracle(),
    tags=("graph", "community", "iterative"),
)
def g7_label_propagation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """G7 (community structure): weighted label propagation — the
    scalable stand-in for Louvain (`louvain_communities(G, weight,
    seed=42)`, `network-analysis/network_analysis.py:194`), which is
    inherently sequential; community count/membership are asserted
    exactly only at test scale (SURVEY §7.3 risk 1). Under the kernel
    gate the rounds run on the driver (`label_prop_kernel`); above it
    as the distributed loop (`label_prop_partition`). Both tiers in
    `_label_prop`."""
    _, labels = _label_prop(spark, sf_dir)
    return labels.groupBy(F.col("label").cast("long").alias("community")).agg(
        F.count("*").alias("n_nodes")
    )


def _modularity_oracle() -> str:
    lp = _labelprop_oracle()
    # reuse the label-propagation chain, then compute weighted
    # modularity Q = sum_c [ w_in_c/m - (deg_c/(2m))^2 ] over the
    # final partition (lp{LP_ITERS}).
    head = lp[: lp.rindex("SELECT CAST(label AS BIGINT)")].rstrip()
    return (
        head
        + f""",
    comm AS MATERIALIZED (SELECT node, label FROM lp{LP_ITERS}),
    m2 AS MATERIALIZED (SELECT SUM(w) AS two_m FROM sym),
    internal AS MATERIALIZED (
      SELECT ca.label, SUM(s.w) AS w_in2   -- both directions => 2*w_in
      FROM sym s
      JOIN comm ca ON ca.node = s.src
      JOIN comm cb ON cb.node = s.dst AND cb.label = ca.label
      GROUP BY ca.label
    ),
    degs AS MATERIALIZED (
      SELECT c.label, SUM(s.w) AS deg_c
      FROM sym s JOIN comm c ON c.node = s.src GROUP BY c.label
    )
    SELECT CAST((SELECT COUNT(DISTINCT label) FROM comm) AS BIGINT) AS n_communities,
           round(CAST(SUM(coalesce(i.w_in2, 0.0) / m2.two_m
                 - (d.deg_c / m2.two_m) * (d.deg_c / m2.two_m)) AS DOUBLE), 6) AS modularity
    FROM degs d LEFT JOIN internal i ON i.label = d.label CROSS JOIN m2"""
    )


@register(
    "g7c_modularity",
    oracle=_modularity_oracle(),
    tags=("graph", "community", "modularity"),
)
def g7c_modularity(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted modularity Q of the label-propagation partition —
    the objective Louvain maximizes (Newman 2004), computed
    relationally: Q = Σ_c [w_in(c)/m − (deg(c)/2m)²]. This is the
    quantitative bridge to the reference's Louvain output: partitions
    are compared by Q, not by label equality (SURVEY §7.3 risk 1).
    On the kernel tier the per-community sums come off the CSR; on
    the loop tier they are two joins + two aggregates over the
    community assignment. Every node has an edge, so each community
    has one (label, deg_c, w_in2, two_m) row."""
    graph, comm = _label_prop(spark, sf_dir)
    if isinstance(graph, DataFrame):
        sym = graph
        ca = comm.select(F.col("node").alias("src"), F.col("label").alias("la"))
        cb = comm.select(F.col("node").alias("dst"), F.col("label").alias("lb"))
        two_m = sym.agg(F.sum("w").alias("two_m"))
        internal = (
            sym.join(F.broadcast(ca), "src")
            .join(F.broadcast(cb), "dst")
            .where(F.col("la") == F.col("lb"))
            .groupBy(F.col("la").alias("label"))
            .agg(F.sum("w").alias("w_in2"))
        )
        degs = (
            sym.join(F.broadcast(ca), "src")
            .groupBy(F.col("la").alias("label"))
            .agg(F.sum("w").alias("deg_c"))
        )
        terms = degs.join(internal, "label", "left").crossJoin(two_m)
    else:
        terms = gk.modularity_terms_df(spark, *graph)
    return terms.agg(
        F.count("*").alias("n_communities"),
        F.round(
            F.sum(
                F.coalesce(F.col("w_in2"), F.lit(0.0)) / F.col("two_m")
                - (F.col("deg_c") / F.col("two_m")) * (F.col("deg_c") / F.col("two_m"))
            ).cast("double"),
            6,
        ).alias("modularity"),
    )


def min_label_components(
    sym: DataFrame | None,
    iters: int,
    until_converged: bool = False,
    shortcut: bool = False,
    require_converged: bool = False,
    graph=None,
    spark: SparkSession | None = None,
) -> tuple[DataFrame, int]:
    """Min-label propagation over a symmetric edge list (src, dst):
    every node repeatedly adopts the smallest label among itself and
    its neighbors for ``iters`` fixed rounds (≥ component diameter ⇒
    connected components). Returns (node, label) and the rounds run.

    Each round = one state join (broadcast under the `_join_state`
    ceiling, co-partitioned shuffle above) + one hash aggregate —
    linear in |E|. The caller should pass a materialized, dst-partitioned
    ``sym``, or the CSR of a graph resolved under the kernel gate as
    ``graph`` and the caller's session as ``spark`` (the same rounds then
    run on the driver and ``spark`` builds the labels frame; nothing
    probes here). Shared by G7 components and the dedup clusterer.
    min-label is monotone, so a round that changes nothing is the
    fixed point: the dense test graph converges in 2-3 of its 8 rounds.

    ``shortcut=True`` adds a pointer-doubling step per round
    (label ← min(label, label[label]), one extra |V|-sized state
    join): path lengths halve each round, so convergence takes
    O(log diameter) rounds instead of O(diameter) — the 100 TB shape
    for long near-dup chains. ``require_converged=True`` raises if the
    loop exhausts its round budget without reaching the provable fixed
    point (a round that changes no label) — callers whose CORRECTNESS
    depends on full components (the leakage-safe cluster split) must
    set it, because a silently-truncated propagation leaves two linked
    docs with different canonical ids."""
    if graph is not None:
        budget = round_budget(iters, until_converged)
        nodes_arr, labels_arr, executed, converged = gk.min_label_kernel(
            graph, budget, shortcut=shortcut
        )
        if not converged and must_converge(budget, until_converged, require_converged):
            raise unconverged(budget, until_converged=until_converged, shortcut=shortcut)
        import pandas as pd

        labels = pd.DataFrame({"node": nodes_arr, "label": labels_arr})
        return spark.createDataFrame(labels, "node long, label long"), executed
    labels = sym.select(F.col("src").alias("node")).distinct().select(
        "node", F.col("node").alias("label")
    )
    n_labels = labels.count()

    def relabel(r: Rounds) -> DataFrame:
        labels = r.state.select("node", "label")
        neigh = (
            _join_state(sym, labels, sym.dst == labels.node, n_labels)
            .groupBy(F.col("src").alias("node"))
            .agg(F.min("label").alias("nlabel"))
        )
        step = labels.join(neigh, "node", "left").select(
            "node",
            F.col("label").alias("label0"),
            F.least(F.col("label"), F.coalesce(F.col("nlabel"), F.col("label"))).alias(
                "label1"
            ),
        )
        if shortcut:
            # label1 values are node ids present in `step` (every label
            # is some node's id), so a self-lookup resolves label[label]
            lk = step.select(
                F.col("node").alias("pnode"), F.col("label1").alias("plabel")
            )
            step = _join_state(step, lk, step.label1 == lk.pnode, n_labels).select(
                "node",
                "label0",
                F.least(
                    F.col("label1"), F.coalesce(F.col("plabel"), F.col("label1"))
                ).alias("label1"),
            )
        return step.select(
            "node",
            F.col("label1").alias("label"),
            (F.col("label1") < F.col("label0")).alias("chg"),
        )

    run = fixpoint(
        labels, relabel, iters, until_converged=until_converged,
        changed=lambda nxt, _: nxt.where("chg"),
        require_converged=require_converged, aids={"shortcut": shortcut},
    )
    return run.state.select("node", "label"), run.rounds


def _components_oracle() -> str:
    """`min_label_components`' fixed rounds: each node takes the least
    label among itself and its neighbours."""
    rounds = _unrolled(
        "l",
        lambda i: f"""
              SELECT l.node,
                     least(l.label, coalesce(min(nl.label), l.label)) AS label
              FROM l{i} l
              LEFT JOIN sym s ON s.src = l.node
              LEFT JOIN l{i} nl ON nl.node = s.dst
              GROUP BY l.node, l.label""",
        CC_ITERS,
    )
    return f"""WITH {_sym_sql()},
    l0 AS MATERIALIZED (SELECT DISTINCT src AS node, src AS label FROM sym),
    {rounds}
    SELECT CAST(label AS BIGINT) AS component, CAST(COUNT(*) AS BIGINT) AS n_nodes
    FROM l{CC_ITERS} GROUP BY label"""


@register(
    "g7_connected_components",
    oracle=_components_oracle(),
    tags=("graph", "components", "iterative"),
    bench=True,
)
def g7_connected_components(
    spark: SparkSession,
    sf_dir: str,
    until_converged: bool = False,
) -> DataFrame:
    """G7 (scalable path): community structure via min-label
    propagation — each node repeatedly adopts the smallest label in
    its neighborhood (fixed 8 rounds ≥ test-graph diameter), yielding
    connected components. This is the distributed stand-in for Louvain
    (`louvain_communities`, `network-analysis/network_analysis.py:194`),
    which is inherently sequential; SURVEY §7.3 risk 1 keeps exact
    Louvain as a driver-side small-scale fallback (tests/test_graph).
    Output: one row per component with its size."""
    # the CSR's indices ARE the symmetric pair list — under the kernel
    # gate the whole sym-DataFrame build (edge aggregate + union +
    # repartition + materialize + re-collect) disappears
    edges, g = gk.resolve_graph(spark, sf_dir)
    labels, _ = min_label_components(
        None if g is not None else _sym(edges, key="dst"), CC_ITERS,
        until_converged=until_converged, graph=g, spark=spark,
    )
    return labels.groupBy(F.col("label").cast("long").alias("component")).agg(
        F.count("*").alias("n_nodes")
    )


BW_LEVELS = 6  # >= test-graph diameter, like CLOSENESS_HOPS
BW_SAMPLE_MOD = 7  # deterministic 1-in-7 source sample (node % 7 == 0)


def _brandes_forward(
    sym: DataFrame,
    sources: DataFrame,
    levels: int,
    until_converged: bool = False,
) -> tuple[list[DataFrame], list[int]]:
    """Level-synchronous BFS with shortest-path counts from each source.

    Returns one frontier DataFrame per BFS level, each holding
    (src, node, sigma) where sigma is the number of shortest s→node
    paths, and each level's row count (the driver's progress counts,
    so no level is counted again) — the forward half of Brandes'
    algorithm, distributed: every level is one join on the frontier +
    one anti-join against the visited set + one hash aggregate.

    Direction-optimizing (Beamer-style): all parents of a level-l+1
    node sit at level l exactly, so when the still-unvisited (src,
    node) set is smaller than the frontier the level is computed by
    PULLING — candidates = missing x incident edges, σ = Σ over
    frontier neighbors — instead of pushing frontier·deg rows. On the
    dense test graph level 2 pushes |frontier|·deg ≈ 118M rows but
    pulls ~12M; identical sums either way.
    """
    lvl0 = sources.select(
        F.col("node").alias("src"), F.col("node"), F.lit(1).cast("long").alias("sigma")
    ).transform(materialize)
    srcs_n = lvl0.count()
    all_nodes = sym.select(F.col("dst").alias("node")).distinct()
    nodes_n = all_nodes.count()
    frontiers = [lvl0]
    edges = sym.select(F.col("src").alias("mid"), "dst")

    def level(r: Rounds) -> DataFrame | None:
        cur, visited = r.state, r.acc
        cur_n = r.counts[-1] if r.counts else srcs_n
        n_missing = srcs_n * nodes_n - (srcs_n + sum(r.counts))
        if n_missing == 0:
            return None
        if n_missing < cur_n:
            # repartition: the tiny missing set fans out deg× next —
            # without the spread the whole pull pipeline is one task
            missing = (
                lvl0.select("src")
                .crossJoin(all_nodes)
                .join(visited, ["src", "node"], "left_anti")
                .repartition(sym.sparkSession.sparkContext.defaultParallelism)
            )
            cand = missing.join(edges, missing.node == F.col("dst")).select(
                "src", "node", F.col("mid").alias("nbr")
            )
            fk = cur.select("src", F.col("node").alias("nbr"), "sigma")
            fkeys = F.broadcast(fk) if cur_n <= STATE_BROADCAST_MAX_ROWS else fk
            return (
                cand.join(fkeys, ["src", "nbr"])
                .groupBy("src", "node")
                .agg(F.sum("sigma").alias("sigma"))
            )
        expanded = cur.join(edges, cur.node == F.col("mid")).select(
            "src", F.col("dst").alias("node"), "sigma"
        )
        return (
            expanded.join(visited, ["src", "node"], "left_anti")
            .groupBy("src", "node")
            .agg(F.sum("sigma").alias("sigma"))
        )

    def visit(visited: DataFrame, nxt: DataFrame) -> DataFrame:
        frontiers.append(nxt)
        return visited.unionByName(nxt.select("src", "node"))

    run = fixpoint(
        lvl0, level, levels, until_converged=until_converged, rows=True,
        acc=lvl0.select("src", "node"), fold=visit,
    )
    # a level joins `frontiers` only when its count is nonzero
    return frontiers, [srcs_n, *run.counts[: len(frontiers) - 1]]


def _brandes_backward(
    sym: DataFrame, frontiers: list[DataFrame], sizes: list[int]
) -> list[DataFrame]:
    """Dependency accumulation — the backward half of Brandes.

    Walks the BFS levels deepest-first; a node u at level l receives
    δ(u) = Σ_{v successor at l+1} σ(u)/σ(v) · (1 + δ(v)). Each step is
    one join frontier→edges→next-level + one aggregate, so the whole
    accumulation is O(diameter) shuffles, fully distributed (no
    driver-side adjacency).

    The edge expansion runs from the SMALLER of the two adjacent
    levels: pushing level l through every edge enumerates |lvl_l|·deg
    rows, expanding the successors enumerates |lvl_{l+1}|·deg — same
    (u, v) pairs after the equi-join on the other level, so the sums
    are identical, but on the dense test graph the deepest levels are
    ~10x smaller than the widest (118M → 12M rows at the worst level).
    ``sizes`` are the levels' row counts from the forward pass.
    """
    lv = frontiers[-1].select("src", "node", "sigma", F.lit(0.0).alias("delta"))
    lv_n = sizes[-1]
    out = [lv]
    edges = sym.select(F.col("src").alias("unode"), F.col("dst").alias("vnode"))
    for f, f_n in zip(reversed(frontiers[:-1]), reversed(sizes[:-1])):
        succ = lv.select(
            F.col("src").alias("vsrc"),
            F.col("node").alias("vnode"),
            F.col("sigma").alias("vsigma"),
            F.col("delta").alias("vdelta"),
        )
        if lv_n < f_n:
            # expand successor side: (v, u) for u ∈ N(v), keep rows
            # whose (src, u) is at level l via the equi-join with f
            e2 = sym.select(F.col("src").alias("evnode"), F.col("dst").alias("eunode"))
            ex = succ.join(e2, succ.vnode == e2.evnode).select(
                F.col("vsrc").alias("src"),
                F.col("eunode").alias("node"),
                "vsigma",
                "vdelta",
            )
            fk = f.select("src", "node", "sigma")
            fside = F.broadcast(fk) if f_n <= STATE_BROADCAST_MAX_ROWS else fk
            contrib = (
                ex.join(fside, ["src", "node"])
                .groupBy("src", "node")
                .agg(
                    F.sum(
                        (F.col("sigma").cast("double") / F.col("vsigma"))
                        * (F.lit(1.0) + F.col("vdelta"))
                    ).alias("delta")
                )
            )
        else:
            contrib = (
                f.join(edges, f.node == F.col("unode"))
                .join(succ, ["vnode"])
                .where(F.col("vsrc") == F.col("src"))
                .groupBy("src", "node")
                .agg(
                    F.sum(
                        (F.col("sigma").cast("double") / F.col("vsigma"))
                        * (F.lit(1.0) + F.col("vdelta"))
                    ).alias("delta")
                )
            )
        lv = (
            f.join(contrib, ["src", "node"], "left")
            .select(
                "src", "node", "sigma", F.coalesce(F.col("delta"), F.lit(0.0)).alias("delta")
            )
            .transform(materialize)
        )
        lv_n = f_n
        out.append(lv)
    return out


def _betweenness_sampled_oracle() -> str:
    """Unrolled sampled-source Brandes as a DuckDB CTE chain: forward
    BFS levels with sigma (a level keeps the pairs no earlier level
    reached), then backward dependency accumulation, then the n/k
    rescale. MATERIALIZED throughout (twice-referenced CTEs)."""

    def level(i: int) -> str:
        seen = " UNION ALL ".join(f"SELECT src, node FROM new{j}" for j in range(i + 1))
        return f"""
              SELECT t.src, t.node, CAST(SUM(t.sigma) AS BIGINT) AS sigma FROM (
                SELECT p.src, s.dst AS node, p.sigma
                FROM new{i} p JOIN sym s ON s.src = p.node
              ) t
              LEFT JOIN ({seen}) v ON v.src = t.src AND v.node = t.node
              WHERE v.node IS NULL
              GROUP BY t.src, t.node"""

    parts = [
        _sym_sql(),
        "nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM sym)",
        f"srcs AS MATERIALIZED (SELECT node FROM nodes WHERE node % {BW_SAMPLE_MOD} = 0)",
        "new0 AS MATERIALIZED (SELECT node AS src, node, CAST(1 AS BIGINT) AS sigma FROM srcs)",
        _unrolled("new", level, BW_LEVELS),
    ]
    parts.append(
        f"lv{BW_LEVELS} AS MATERIALIZED"
        f" (SELECT src, node, sigma, CAST(0 AS DOUBLE) AS delta FROM new{BW_LEVELS})"
    )
    for l in range(BW_LEVELS - 1, -1, -1):
        parts.append(
            f"""lv{l} AS MATERIALIZED (
              SELECT u.src, u.node, u.sigma,
                     COALESCE(SUM((CAST(u.sigma AS DOUBLE) / t.vsigma) * (1.0 + t.vdelta)), 0.0)
                       AS delta
              FROM new{l} u
              LEFT JOIN (
                SELECT s.src AS unode, v.src AS vsrc, v.sigma AS vsigma, v.delta AS vdelta
                FROM sym s JOIN lv{l + 1} v ON v.node = s.dst
              ) t ON t.unode = u.node AND t.vsrc = u.src
              GROUP BY u.src, u.node, u.sigma
            )"""
        )
    all_lv = " UNION ALL ".join(
        f"SELECT src, node, delta FROM lv{l}" for l in range(BW_LEVELS + 1)
    )
    parts.append(
        f"acc AS MATERIALIZED (SELECT node, SUM(delta) AS sdelta FROM ({all_lv})"
        " WHERE node <> src GROUP BY node)"
    )
    parts.append("nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes)")
    parts.append("kk AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS k FROM srcs)")
    return (
        "WITH "
        + ",\n".join(parts)
        + """
    SELECT a.node, round((nn.n / kk.k) * a.sdelta / 2, 6) AS betweenness_est
    FROM acc a CROSS JOIN nn CROSS JOIN kk"""
    )


@register(
    "g3b_betweenness_sampled",
    oracle=_betweenness_sampled_oracle(),
    tags=("graph", "betweenness", "sampled", "iterative"),
    bench=True,
)
def g3b_betweenness_sampled(
    spark: SparkSession,
    sf_dir: str,
    edges: DataFrame | None = None,
    until_converged: bool = False,
    sample_mod: int | None = None,
    graph=None,
) -> DataFrame:
    """G3 at scale: source-SAMPLED Brandes betweenness, fully
    distributed (the scale path `network-analysis/network_analysis.py:145`
    keeps driver-side; SURVEY §7.3 risk 2).

    Runs Brandes' two phases as level-synchronous DataFrame loops from
    a deterministic 1-in-K source sample (node % K == 0): forward BFS
    accumulates shortest-path counts σ per (source, node); backward
    accumulation pushes dependencies δ down the BFS DAG one level per
    round. Estimate = (n/k) · Σ_S δ / 2 (undirected pairs counted
    twice; Brandes '01 pivot estimator). With K=1 this IS exact
    betweenness — `tests/test_graph_invariants.py` pins that against
    the driver-side `betweenness_exact` on the fixture graph.

    ``sample_mod`` is the COST KNOB (default ``BW_SAMPLE_MOD`` = 7,
    the registered oracle's K): runtime and state scale ~1/K, the
    estimator error ~sqrt(K/n). The K=7 vs K=16 accuracy/time
    tradeoff is pinned in tests/test_graph_invariants.py and tabled
    in PERF.md so a 100x user can pick K deliberately.

    Scale: state is O(K·N) per phase, every round is join+agg on
    (src, node) keys — no collected adjacency, no O(N²) blowup."""
    sample_mod = BW_SAMPLE_MOD if sample_mod is None else sample_mod
    edges, g = gk.resolve_graph(spark, sf_dir, edges, graph)
    if g is not None:
        return gk.betweenness_kernel_df(
            spark, g, BW_LEVELS, sample_mod, until_converged
        )
    sym = _sym(edges)
    nodes = sym.select(F.col("src").alias("node")).distinct()
    srcs = nodes.where(F.col("node") % sample_mod == 0)
    levels = _brandes_backward(
        sym, *_brandes_forward(sym, srcs, BW_LEVELS, until_converged=until_converged)
    )
    all_lv = levels[0]
    for lv in levels[1:]:
        all_lv = all_lv.unionByName(lv)
    n = nodes.agg(F.count("*").cast("double").alias("n"))
    k = srcs.agg(F.count("*").cast("double").alias("k"))
    acc = (
        all_lv.where(F.col("node") != F.col("src"))
        .groupBy("node")
        .agg(F.sum("delta").alias("sdelta"))
    )
    return (
        acc.crossJoin(n)
        .crossJoin(k)
        .select(
            "node",
            F.round((F.col("n") / F.col("k")) * F.col("sdelta") / 2, 6).alias(
                "betweenness_est"
            ),
        )
    )


# ---------------------------------------------------------------------------
# round 4: backbone extraction + link prediction
# ---------------------------------------------------------------------------

LINKPRED_TOPK = 20
BACKBONE_Q = 0.75  # keep edges strictly above the 75th-pct weight

# DuckDB twin of _backbone: the strong-tie subgraph via the weight
# HISTOGRAM percentile (never a global edge sort).
_BACKBONE_SQL = f"""
    e0 AS ({_EDGES_SQL}),
    wh AS (SELECT weight, CAST(COUNT(*) AS BIGINT) AS c FROM e0 GROUP BY weight),
    n AS (SELECT CAST(SUM(c) AS BIGINT) AS n_edges FROM wh),
    cum AS (SELECT weight,
                   SUM(c) OVER (ORDER BY weight ROWS UNBOUNDED PRECEDING) AS cs
            FROM wh),
    q AS (SELECT MIN(weight) AS q75 FROM cum CROSS JOIN n
          WHERE cs >= CAST(ceil({{bq}} * n_edges) AS BIGINT)),
    e AS (SELECT u, v FROM e0 CROSS JOIN q WHERE weight > q75)
""".format(bq=BACKBONE_Q)


def _backbone(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Strong-tie backbone: edges strictly above the exact
    {BACKBONE_Q:.0%}-percentile weight. The percentile comes from the
    distinct-weight histogram (tiny at any scale); its cumulative
    window runs over that histogram, never the edge list."""
    e0 = _edges(spark, sf_dir)
    wh = e0.groupBy("weight").agg(F.count("*").cast("bigint").alias("c"))
    n = wh.agg(F.sum("c").cast("bigint").alias("n_edges"))
    cum = wh.withColumn(
        "cs",
        F.sum("c").over(
            Window.orderBy("weight").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        ),
    )
    q = (
        cum.crossJoin(n)
        .where(F.col("cs") >= F.ceil(BACKBONE_Q * F.col("n_edges")).cast("bigint"))
        .agg(F.min("weight").alias("q75"))
    )
    return (
        e0.crossJoin(q)
        .where(F.col("weight") > F.col("q75"))
        .select("u", "v")
    )



@register(
    "g11_link_prediction",
    oracle=f"""
    WITH {_BACKBONE_SQL},
    sym AS (SELECT u AS a, v AS b FROM e UNION ALL SELECT v, u FROM e),
    deg AS (SELECT a AS node, CAST(COUNT(*) AS BIGINT) AS degree
            FROM sym GROUP BY a),
    cand AS (
      SELECT s1.a AS u, s2.b AS v, CAST(COUNT(*) AS BIGINT) AS common_neighbors
      FROM sym s1 JOIN sym s2 ON s1.b = s2.a AND s1.a < s2.b
      GROUP BY s1.a, s2.b
    ),
    nonadj AS (
      SELECT c.* FROM cand c ANTI JOIN e ON e.u = c.u AND e.v = c.v
    )
    SELECT n.u, n.v, n.common_neighbors,
           round(n.common_neighbors * 1.0
                 / (du.degree + dv.degree - n.common_neighbors), 6) AS jaccard
    FROM nonadj n
    JOIN deg du ON du.node = n.u
    JOIN deg dv ON dv.node = n.v
    ORDER BY n.common_neighbors * 1.0
             / (du.degree + dv.degree - n.common_neighbors) DESC, n.u, n.v
    LIMIT {LINKPRED_TOPK}
    """,
    tags=("graph", "link-prediction", "backbone"),
)
def g11_link_prediction(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link prediction by neighborhood overlap on the graph BACKBONE:
    extract the strong-tie subgraph (edges strictly above the exact
    75th-percentile weight), then score every non-adjacent pair with
    >= 1 common neighbor by common-neighbor count and Jaccard
    |N(u)∩N(v)| / |N(u)∪N(v)| — Liben-Nowell & Kleinberg 2003's
    who-should-be-connected query, extending the reference's network
    analysis (`network-analysis/network_analysis.py`) with the
    recommendation step it stops short of. (The co-order graph is
    near-complete, so prediction is only meaningful on the backbone —
    the same reason weighted-network papers threshold first.)

    Scale shape: the percentile threshold comes from the WEIGHT
    HISTOGRAM (distinct weight values — a tiny table at any corpus
    size), never a global sort of edges; its single-partition
    cumulative window is over that tiny table. Candidate pairs come
    from one two-path self-join on the symmetrized backbone (same
    mid-node join shape and skew profile as triangle counting g9; AQE
    skew-split handles runaway hubs). Adjacent pairs drop via LEFT
    ANTI join; node-sized degree tables broadcast under the ceiling.
    Jaccard is ONE division of exact BIGINTs (engine-stable ordering);
    output rounds to 6dp; top-k is TakeOrderedAndProject with (u, v)
    tiebreak."""
    e = _backbone(spark, sf_dir)
    sym = e.unionAll(e.select(F.col("v").alias("u"), F.col("u").alias("v")))
    deg = sym.groupBy("u").agg(F.count("*").cast("bigint").alias("degree"))
    s1 = sym.select(F.col("u").alias("a"), F.col("v").alias("mid"))
    s2 = sym.select(F.col("u").alias("mid"), F.col("v").alias("b"))
    cand = (
        s1.join(s2, "mid")
        .where(F.col("a") < F.col("b"))
        .groupBy(F.col("a").alias("u"), F.col("b").alias("v"))
        .agg(F.count("*").cast("bigint").alias("common_neighbors"))
    )
    nonadj = cand.join(e, ["u", "v"], "left_anti")
    du = deg.select(F.col("u"), F.col("degree").alias("du"))
    dv = deg.select(F.col("u").alias("v"), F.col("degree").alias("dv"))
    jac = F.col("common_neighbors") * 1.0 / (
        F.col("du") + F.col("dv") - F.col("common_neighbors")
    )
    return (
        nonadj.join(du, "u")
        .join(dv, "v")
        .select("u", "v", "common_neighbors", jac.alias("jaccard"))
        .orderBy(F.desc("jaccard"), F.asc("u"), F.asc("v"))
        .limit(LINKPRED_TOPK)
        .select("u", "v", "common_neighbors", F.round("jaccard", 6).alias("jaccard"))
    )


KCORE_MAX_PEELS = 40  # oracle unrolls this many peel rounds (fixpoint
# is reached far earlier; the test asserts Spark converged within it)


@register(
    "g12_kcore",
    oracle=f"""
    WITH RECURSIVE {_BACKBONE_SQL},
    sym AS (SELECT u AS a, v AS b FROM e UNION ALL SELECT v, u FROM e),
    deg AS (SELECT a, CAST(COUNT(*) AS BIGINT) AS d FROM sym GROUP BY a),
    nn AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_nodes FROM deg),
    dh AS (SELECT d, CAST(COUNT(*) AS BIGINT) AS c FROM deg GROUP BY d),
    dcum AS (SELECT d, SUM(c) OVER (ORDER BY d ROWS UNBOUNDED PRECEDING) AS cs
             FROM dh),
    kmed AS (SELECT MIN(d) AS km FROM dcum CROSS JOIN nn
             WHERE cs >= CAST(ceil(0.5 * n_nodes) AS BIGINT)),
    kk AS (SELECT (2 * km + 2) // 3 AS k FROM kmed),
    alive(node, iter) AS (
      SELECT a, 0 FROM deg
      UNION
      SELECT a.node, a.iter + 1
      FROM alive a CROSS JOIN kk
      WHERE a.iter < {KCORE_MAX_PEELS}
        AND (SELECT COUNT(*) FROM sym s
             JOIN alive b ON b.iter = a.iter AND b.node = s.b
             WHERE s.a = a.node) >= kk.k
    ),
    core AS (SELECT node FROM alive WHERE iter = {KCORE_MAX_PEELS})
    SELECT c.node,
           CAST((SELECT COUNT(*) FROM sym s
                 JOIN core c2 ON c2.node = s.b
                 WHERE s.a = c.node) AS BIGINT) AS core_degree,
           kk.k
    FROM core c CROSS JOIN kk
    """,
    tags=("graph", "kcore"),
)
def g12_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-core decomposition of the backbone at k = ceil(2/3 of the
    median degree):
    iteratively peel nodes with in-subgraph degree < k until the
    maximal subgraph where EVERY node keeps >= k neighbors remains —
    the standard dense-community / graph-shrinking primitive
    (Seidman 1983; the first step of most large-graph community and
    visualization pipelines).

    k is data-adaptive: the exact median degree comes from the
    backbone DEGREE HISTOGRAM (tiny table, engine-portable) and k =
    ceil(2*median/3) in pure integer arithmetic — low enough that a
    dense core survives, high enough that peeling actually cascades
    (4 rounds / 81-node core at sf0.01; median-k peels this
    degree-homogeneous graph to empty). The Spark side peels to the
    actual fixpoint as an iterative dataflow: per round, one degree
    aggregate over edges-with-both-endpoints-alive and a filter. Each
    round is one shuffle on node id;
    rounds needed = peel depth, typically tiny. The DuckDB oracle
    expresses the SAME peeling as a recursive CTE unrolled to
    KCORE_MAX_PEELS rounds (the fixpoint is reached far earlier —
    asserted in tests), making this iterative-until-convergence
    operator fully hash-checked, not rows-only."""
    return _kcore(spark, sf_dir)[0]


def _kcore(spark: SparkSession, sf_dir: str) -> tuple[DataFrame, int]:
    """`g12_kcore`'s rows and the peel rounds its loop ran."""
    e = _backbone(spark, sf_dir)
    sym = e.unionAll(
        e.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).select(F.col("u").alias("a"), F.col("v").alias("b"))
    deg = sym.groupBy("a").agg(F.count("*").cast("bigint").alias("d"))
    nn = deg.agg(F.count("*").cast("bigint").alias("n_nodes"))
    dh = deg.groupBy("d").agg(F.count("*").cast("bigint").alias("c"))
    dcum = dh.withColumn(
        "cs",
        F.sum("c").over(
            Window.orderBy("d").rowsBetween(
                Window.unboundedPreceding, Window.currentRow
            )
        ),
    )
    k_med_row = (
        dcum.crossJoin(nn)
        .where(F.col("cs") >= F.ceil(0.5 * F.col("n_nodes")).cast("bigint"))
        .agg(F.min("d"))
        .collect()[0][0]
    )
    if k_med_row is None:
        # empty backbone: no degree histogram, so no median and no core
        return deg.select(
            F.col("a").alias("node"),
            F.lit(None).cast("bigint").alias("core_degree"),
            F.lit(None).cast("bigint").alias("k"),
        ), 0
    k_med = int(k_med_row)
    k = (2 * k_med + 2) // 3
    alive = deg.select("a").transform(materialize)
    n_alive = alive.count()

    def inner_degrees(alive: DataFrame) -> DataFrame:
        return (
            sym.join(alive, "a")
            .join(alive.select(F.col("a").alias("b")), "b")
            .groupBy("a")
            .agg(F.count("*").alias("d"))
        )

    def peel(r: Rounds) -> DataFrame | None:
        sizes = [n_alive, *r.counts]
        if len(sizes) > 1 and sizes[-1] == sizes[-2]:
            return None  # the last round peeled nothing: the core
        return inner_degrees(r.state).where(F.col("d") >= k).select("a")

    run = fixpoint(alive, peel, KCORE_MAX_PEELS, rows=True)
    core = inner_degrees(run.state).select(
        F.col("a").alias("node"), F.col("d").alias("core_degree"),
        F.lit(k).cast("bigint").alias("k"),
    )
    return core, run.rounds
