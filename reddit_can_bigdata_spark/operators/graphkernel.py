"""Broadcast-tier vectorized graph kernels (optimization round 11).

The graph operators' join/aggregate loops are correct and scale-honest
(state joins size-gated by `graph._join_state`, relax volume budgeted per
task slot), but at the bench scale they execute 10^8-10^9 relax rows
through row-at-a-time codegen at ~200-500 ns each, where the same
adjacency walk costs ~1 ns as a vectorized numpy kernel
(optimization-guide §4.2: let Spark distribute, hand whole batches to
native code). This module supplies that kernel tier:

- the undirected edge AGGREGATE (u, v, weight) — never the raw
  payload — is collected once per query via Arrow and broadcast,
  exactly the broadcast-hash-join pattern (guide §3.2: the build side
  is driver-collected and shipped); the gate
  ``spark.redditCan.graphKernelMaxEdges`` (default 16M edge rows,
  ~400 MB of CSR) bounds it the way
  ``spark.sql.autoBroadcastJoinThreshold`` bounds a join build side;
- per-source work (multi-source BFS for closeness, sampled Brandes,
  per-node-block triangle counting) runs in EXECUTOR tasks via
  ``mapInArrow`` over a chunked work list — Spark still owns
  distribution, scheduling and fault tolerance;
- whole-graph single-vector iterations (PageRank, eigenvector,
  min-label, weighted label propagation) run on the driver: a graph
  under the broadcast gate is by definition single-executor-sized, and
  10 rounds of gather+bincount over E_sym edges is
  micro-seconds-per-million-edges work that the per-round shuffle
  barrier used to dominate.

:func:`resolve_graph` is the one place that picks the tier for a graph
query, a composite or `closeness_for_scale`: the raw collect, else one
edge aggregate probed by :func:`collect_graph`, else the distributed
loop over that same aggregate. Above the gate (a gate of ``0`` turns
the tier off) every operator falls back to the unchanged distributed
loop, which remains the 100 TB path. Results
are IDENTICAL by construction: the kernels replicate the exact
fixed-round semantics of the registered oracles (hop caps, level caps,
early exits on converged / empty frontiers, min-label round
truncation), integer state stays integer (int64 sigma / labels /
distances), and the only float reorderings are the same
associativity-of-double-sums freedom the Spark↔DuckDB parity already
tolerates under the engine-wide round-6 convention (see registry.py's
float-stability rules).
"""

from __future__ import annotations

from collections.abc import Iterator
from dataclasses import dataclass

import numpy as np
from pyspark.sql import DataFrame, SparkSession, functions as F

from reddit_can_bigdata_spark.operators.common import (
    ITER_CHECKPOINT_DIR_CONF,
    materialize,
    must_converge,
    round_budget,
    shared,
    unconverged,
)

#: conf knob: queries use the vectorized broadcast kernels only while
#: the undirected edge-aggregate row count stays under this; 0 or
#: negative disables the kernel tier entirely (pure distributed loops).
GRAPH_KERNEL_MAX_EDGES_CONF = "spark.redditCan.graphKernelMaxEdges"
#: 16M undirected edges ≈ 32M CSR entries ≈ 400 MB broadcast — the
#: same order as a large-but-routine broadcast join build side. The
#: sf1 honest-10x graph (10.7M edges) stays under it; a graph over it
#: is genuinely multi-executor-sized and takes the loop path.
GRAPH_KERNEL_MAX_EDGES = 16_000_000

#: dense-adjacency ceiling for the triangle kernel: V=4096 is a 64 MB
#: float32 matrix per task — above it the degree-oriented wedge join
#: (O(E^1.5), skew-bounded) is the right algorithm anyway.
TRIANGLE_DENSE_MAX_NODES = 4_096


@dataclass
class GraphArrays:
    """Symmetric CSR of the undirected edge aggregate.

    ``nodes`` is the sorted distinct node-id vocabulary; ``indptr`` /
    ``indices`` index POSITIONS into ``nodes`` (int32 — the gate keeps
    V far under 2^31); ``weights`` aligns with ``indices`` and carries
    the undirected edge weight on both directions."""

    nodes: np.ndarray    # int64 [V]
    indptr: np.ndarray   # int64 [V+1]
    indices: np.ndarray  # int32 [2E]
    weights: np.ndarray  # int64 [2E]

    @property
    def n_nodes(self) -> int:
        return int(self.nodes.shape[0])

    @property
    def n_sym_edges(self) -> int:
        return int(self.indices.shape[0])


def kernel_edge_limit(spark: SparkSession) -> int:
    # Reliable-checkpoint mode pins the distributed loops: the conf is
    # set exactly when the caller wants per-round fault tolerance on a
    # real cluster, which a driver-resident kernel cannot provide (and
    # the loop's checkpoint side effects are part of that contract).
    # PRECEDENCE: iterCheckpointDir wins over graphKernelMaxEdges; a
    # caller who explicitly set BOTH gets a one-time warning so the
    # 10-100x slower loop path is attributable (round-11 advice).
    if spark.conf.get(ITER_CHECKPOINT_DIR_CONF, None):
        explicit = spark.conf.get(GRAPH_KERNEL_MAX_EDGES_CONF, None)
        sc = spark.sparkContext
        if explicit is not None and not getattr(
            sc, "_reddit_can_kernel_pin_warned", False
        ):
            sc._reddit_can_kernel_pin_warned = True
            import warnings

            warnings.warn(
                f"{ITER_CHECKPOINT_DIR_CONF} is set: graph queries take "
                f"the distributed loop path (reliable per-round "
                f"checkpoints), overriding the explicitly configured "
                f"{GRAPH_KERNEL_MAX_EDGES_CONF}={explicit}.",
                stacklevel=2,
            )
        return 0
    try:
        return int(spark.conf.get(GRAPH_KERNEL_MAX_EDGES_CONF, str(GRAPH_KERNEL_MAX_EDGES)))
    except ValueError:
        return GRAPH_KERNEL_MAX_EDGES


def build_arrays(u: np.ndarray, v: np.ndarray, w: np.ndarray) -> GraphArrays:
    """CSR over the symmetric expansion of undirected (u, v, w) rows.
    The arrays are read-only: one graph may serve several builders
    (:func:`collect_graph_raw` in a shared scope), so a kernel that
    wrote into one would change the next builder's input."""
    nodes = np.unique(np.concatenate([u, v]))
    up = np.searchsorted(nodes, u).astype(np.int64)
    vp = np.searchsorted(nodes, v).astype(np.int64)
    src = np.concatenate([up, vp])
    dst = np.concatenate([vp, up]).astype(np.int32)
    ww = np.concatenate([w, w]).astype(np.int64)
    order = np.argsort(src, kind="stable")
    src_sorted = src[order]
    indices = dst[order]
    weights = ww[order]
    indptr = np.searchsorted(
        src_sorted, np.arange(nodes.shape[0] + 1, dtype=np.int64)
    ).astype(np.int64)
    for a in (nodes, indptr, indices, weights):
        a.setflags(write=False)
    return GraphArrays(nodes=nodes, indptr=indptr, indices=indices, weights=weights)


def collect_graph(
    edges: DataFrame, spark: SparkSession, max_edges: int | None = None
) -> GraphArrays | None:
    """Collect the (small) edge aggregate as CSR arrays, or None.

    ``edges`` is a lazy checkpoint (``materialize(..., eager=False)``,
    as :func:`resolve_graph` and ``dedup_clusters`` build it). The gate
    is a row count of its RDD: one job with no shuffle, which also
    writes the checkpoint, so the Arrow transfer under the gate and the
    caller's distributed loop above it read the checkpoint rather than
    rebuilding the edge aggregate. (``DataFrame.count`` would add a
    shuffle stage, a second job under AQE; persisting the counted frame
    a third.) Under the gate the edge rows come back through one Arrow
    transfer (`toArrow`): this is the broadcast-join build-side pattern —
    metadata rows move to the driver once, the heavy relax work never
    shuffles at all."""
    limit = kernel_edge_limit(spark) if max_edges is None else max_edges
    if limit <= 0:
        return None
    cols = ["u", "v", "weight"] if "weight" in edges.columns else ["u", "v"]
    if edges._jdf.queryExecution().toRdd().count() > limit:
        return None
    tbl = edges.select(*cols).toArrow()
    u = tbl.column("u").to_numpy(zero_copy_only=False).astype(np.int64)
    v = tbl.column("v").to_numpy(zero_copy_only=False).astype(np.int64)
    if "weight" in cols:
        w = tbl.column("weight").to_numpy(zero_copy_only=False).astype(np.int64)
    else:
        w = np.ones(u.shape[0], dtype=np.int64)
    return build_arrays(u, v, w)


#: conf knob: ceiling on the ON-DISK byte size of the raw table the
#: driver will collect to build the edge aggregate in numpy instead of
#: running the distributed dedup + pair-explode + aggregate job chain.
#: A stat() gate costs ZERO Spark jobs (a count gate was itself one
#: full scan job of latency per graph query).
GRAPH_RAW_COLLECT_MAX_BYTES_CONF = "spark.redditCan.graphRawCollectMaxBytes"
#: 1 GiB of parquet ≈ 16-40M full-width lineitem rows; only the two
#: key columns cross to the driver (≲ 640 MB of Arrow). Above it (any
#: serious cluster scale) the distributed aggregate + collect_graph
#: gate runs unchanged.
GRAPH_RAW_COLLECT_MAX_BYTES = 1 << 30


def _path_bytes(path: str) -> int:
    import os

    if os.path.isfile(path):
        return os.path.getsize(path)
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            try:
                total += os.path.getsize(os.path.join(root, f))
            except OSError:
                pass
    return total


def _edges_from_raw(
    ok: np.ndarray, sk: np.ndarray
) -> tuple[np.ndarray, np.ndarray, np.ndarray]:
    """The _edges aggregate in numpy: distinct (orderkey, suppkey) →
    per-order u<v pair expansion → (u, v) multiplicity counts.
    Integer-exact and multiset-identical to the SQL form by
    construction (a sorted distinct list per order yields exactly the
    u<v pairs the old DISTINCT + self-join emitted once each)."""
    empty = np.empty(0, dtype=np.int64)
    if ok.shape[0] == 0:
        return empty, empty, empty

    def _pack_unique(a: np.ndarray, b: np.ndarray, counts: bool):
        if (
            a.min(initial=0) >= 0
            and b.min(initial=0) >= 0
            and a.max(initial=0) < (1 << 31)
            and b.max(initial=0) < (1 << 31)
        ):
            packed = (a.astype(np.uint64) << 32) | b.astype(np.uint64)
            if counts:
                uniq, cnt = np.unique(packed, return_counts=True)
            else:
                uniq, cnt = np.unique(packed), None
            return (
                (uniq >> 32).astype(np.int64),
                (uniq & 0xFFFFFFFF).astype(np.int64),
                cnt,
            )
        arr = np.stack([a, b], axis=1)
        if counts:
            uniq, cnt = np.unique(arr, axis=0, return_counts=True)
        else:
            uniq, cnt = np.unique(arr, axis=0), None
        return uniq[:, 0].astype(np.int64), uniq[:, 1].astype(np.int64), cnt

    uok, usk, _ = _pack_unique(ok, sk, counts=False)
    # group boundaries per order (uok ascending; usk ascending within)
    starts = np.concatenate(
        [np.zeros(1, dtype=np.int64), np.flatnonzero(np.diff(uok)) + 1]
    )
    counts = np.diff(np.concatenate([starts, [uok.shape[0]]]))
    us, vs = [], []
    for k in np.unique(counts):
        k = int(k)
        if k < 2:
            continue
        sel = np.flatnonzero(counts == k)
        mat = usk[starts[sel][:, None] + np.arange(k)[None, :]]
        iu, iv = np.triu_indices(k, 1)
        us.append(mat[:, iu].ravel())
        vs.append(mat[:, iv].ravel())
    if not us:
        return empty, empty, empty
    u = np.concatenate(us)
    v = np.concatenate(vs)
    eu, ev, w = _pack_unique(u, v, counts=True)
    return eu, ev, w.astype(np.int64)


def collect_graph_raw(
    spark: SparkSession, sf_dir: str, max_bytes: int | None = None
) -> GraphArrays | None:
    """Build GraphArrays from ONE zero-shuffle scan of the raw
    (orderkey, suppkey) columns, or None above the raw gate.

    The distributed edge build is three narrow jobs (aggregate, gate
    count, Arrow collect) whose wall cost at bench scale is almost
    entirely stage latency; under the raw gate the same exact edge
    aggregate falls out of ~0.3s of numpy on the driver (guide §1.2:
    the cheapest execution is the one with no shuffle at all), and the
    gate itself is a filesystem stat, not a job. Every fallback —
    nulls in the key columns, too big on disk, a pair multiset past
    the kernel edge gate — returns None and the caller proceeds with
    the unchanged distributed build.

    Inside a ``common.shared_inputs`` scope (one dashboard
    render) the graph of an ``sf_dir`` is collected once and every
    builder reads the same read-only arrays; an explicit ``max_bytes``
    always collects."""
    import os

    if max_bytes is None:
        try:
            max_bytes = int(
                spark.conf.get(
                    GRAPH_RAW_COLLECT_MAX_BYTES_CONF,
                    str(GRAPH_RAW_COLLECT_MAX_BYTES),
                )
            )
        except ValueError:
            max_bytes = GRAPH_RAW_COLLECT_MAX_BYTES
        return shared(
            ("graph_raw", sf_dir),
            lambda: collect_graph_raw(spark, sf_dir, max_bytes),
        )
    limit = kernel_edge_limit(spark)
    if max_bytes <= 0 or limit <= 0:
        return None
    path = os.path.join(sf_dir, "lineitem.parquet")
    if not os.path.exists(path) or _path_bytes(path) > max_bytes:
        return None
    from reddit_can_bigdata_spark.operators.common import tables

    li = tables(spark, sf_dir)["lineitem"].select("l_orderkey", "l_suppkey")
    tbl = li.toArrow()
    c_ok, c_sk = tbl.column("l_orderkey"), tbl.column("l_suppkey")
    if c_ok.null_count or c_sk.null_count:
        return None  # SQL NULL-key semantics: let the oracle-shaped path decide
    ok = c_ok.to_numpy(zero_copy_only=False).astype(np.int64)
    sk = c_sk.to_numpy(zero_copy_only=False).astype(np.int64)
    # to_numpy copied; drop the Arrow table before the unique/sort
    # stage so peak driver RSS loses one full (2 x int64 x rows) copy
    # (round-12 RSS probe, tools/measure_raw_collect_rss.py: ~5 GiB
    # python peak at the 1 GiB gate ceiling — every released copy is
    # ~1 GiB of headroom there).
    del tbl, c_ok, c_sk
    u, v, w = _edges_from_raw(ok, sk)
    if u.shape[0] > limit:
        return None
    return build_arrays(u, v, w)


def resolve_graph(
    spark: SparkSession,
    sf_dir: str,
    edges: DataFrame | None = None,
    graph: GraphArrays | None = None,
    *,
    kernel: bool = True,
) -> tuple[DataFrame | None, GraphArrays | None]:
    """The one place a graph query picks its physical tier: returns
    ``(edges, graph)``, the edge aggregate (u, v, weight) and/or its
    CSR, building each at most once.

    - ``kernel=False`` (the caller runs a loop-only plan): the
      caller's ``edges``, else the plain lazy edge aggregate — no
      probe, no checkpoint;
    - a passed-in ``graph`` wins (a composite resolved it once for all
      of its arms);
    - no ``edges``: the raw collect (:func:`collect_graph_raw`, a
      filesystem-stat gate) returns the CSR with no edge table built;
    - otherwise the edge aggregate is built ONCE as a lazy checkpoint
      and :func:`collect_graph` probes it. The probe's count writes the
      checkpoint, so above the kernel gate (or with the tier off, when
      there is no probe) the loop, and a caller that reads the frame
      more than once, read it instead of rebuilding it. A frame found
      above the gate is marked and not probed again when a composite's
      arms or `closeness_for_scale`'s pick pass it back in.

    g2 and g8 do not come here: each one's distributed plan is a
    single aggregate, cheaper than a probe of the edge aggregate, so on
    a raw-gate miss they go straight to it (`collect_graph_raw` only).
    """
    from reddit_can_bigdata_spark.operators.graph import _edges

    if not kernel:
        return (_edges(spark, sf_dir) if edges is None else edges), None
    if graph is not None or getattr(edges, "_above_kernel_gate", False):
        return edges, graph
    if edges is None:
        graph = collect_graph_raw(spark, sf_dir)
        if graph is not None:
            return None, graph
        edges = materialize(_edges(spark, sf_dir), eager=False)
    graph = collect_graph(edges, spark)
    edges._above_kernel_gate = graph is None
    return edges, graph


def graph_size(edges: DataFrame | None, graph: GraphArrays | None) -> tuple[int, int]:
    """(n_nodes, e_sym) of a resolved graph: the inputs of
    `closeness_for_scale`'s work gate. Off the CSR's row lengths when
    there is one (zero jobs); else one aggregate over the degree table
    of the edge frame. Identical by construction: the CSR's vocabulary
    is distinct(u ∪ v), one degree row per node, and e_sym = Σdeg."""
    if graph is not None:
        return graph.n_nodes, int(np.diff(graph.indptr).sum())
    deg = (
        edges.select(F.explode(F.array("u", "v")).alias("node"))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    row = deg.agg(F.count("*").alias("n"), F.sum("d").alias("e")).collect()[0]
    return row["n"], row["e"] or 0


def _gather(indptr: np.ndarray, indices: np.ndarray, frontier: np.ndarray):
    """(repeated-frontier-positions, neighbor-positions) for every CSR
    slot of every frontier node — the vectorized edge expansion."""
    starts = indptr[frontier]
    counts = indptr[frontier + 1] - starts
    total = int(counts.sum())
    if total == 0:
        empty = np.empty(0, dtype=np.int64)
        return empty, empty
    # multi-range trick: element j of block i maps to starts[i] + j
    offs = np.repeat(starts + counts - np.cumsum(counts), counts) + np.arange(
        total, dtype=np.int64
    )
    reps = np.repeat(frontier, counts)
    return reps, indices[offs].astype(np.int64)


def _gather_nbrs(
    indptr: np.ndarray, indices: np.ndarray, frontier: np.ndarray
) -> np.ndarray:
    """Neighbor positions only — skips :func:`_gather`'s repeated-
    frontier array for callers (plain BFS) that never use it."""
    starts = indptr[frontier]
    counts = indptr[frontier + 1] - starts
    total = int(counts.sum())
    if total == 0:
        return np.empty(0, dtype=np.int64)
    offs = np.repeat(starts + counts - np.cumsum(counts), counts) + np.arange(
        total, dtype=np.int64
    )
    return indices[offs].astype(np.int64)


def _empty_result(spark: SparkSession, schema: str) -> DataFrame:
    return spark.createDataFrame([], schema)


#: rows per partition for kernel-emitted tables too big for the single
#: coalesced partition (a multi-million-node pagerank table must not
#: flow through every downstream narrow op as one task — round-11
#: advice). 64k rows of (long, double) ≈ 1 MB.
_LOCAL_DF_ROWS_PER_PART = 65_536


def _local_df(spark: SparkSession, pdf) -> DataFrame:
    """Driver-local kernel output, partitioned by SIZE: createDataFrame
    splits a pandas frame into defaultParallelism slices, so every
    narrow op downstream of a |V|-row kernel table ran 32 tasks of
    ~30 rows (pure per-task overhead; the composites measured ~200
    such tasks per query). coalesce merges without a shuffle down to
    one partition per ``_LOCAL_DF_ROWS_PER_PART`` rows (1 for anything
    dense-tier-sized, the core count near the 16M-edge broadcast gate);
    no consumer aggregates unsorted doubles across partitions, so
    values are unchanged at any partitioning."""
    parts = max(1, min(
        spark.sparkContext.defaultParallelism,
        -(-len(pdf) // _LOCAL_DF_ROWS_PER_PART),
    ))
    return spark.createDataFrame(pdf).coalesce(parts)


def _sources_df(
    spark: SparkSession, ids: np.ndarray, parts: int | None = None
) -> DataFrame:
    """Distribute a (tiny) work list of node ids across the cluster.

    ``createDataFrame(pandas)`` already slices the list into
    ``defaultParallelism`` contiguous partitions on the driver, so no
    ``repartition`` shuffle (one whole exchange + stage per kernel
    query, measured ~0.5-1s of pure latency) is needed — ``coalesce``
    merges down to ``parts`` without moving anything."""
    import pandas as pd

    n = int(ids.shape[0])
    if n == 0:
        return _empty_result(spark, "node long")
    if parts is None:
        parts = max(1, min(spark.sparkContext.defaultParallelism, (n + 7) // 8))
    df = spark.createDataFrame(pd.DataFrame({"node": ids.astype(np.int64)}))
    if parts < spark.sparkContext.defaultParallelism:
        df = df.coalesce(parts)
    return df


# ---------------------------------------------------------------- closeness
# Both kernels walk the same BFS per source, capped at ``hops`` levels
# (with ``until_converged``, the loop tier's `common.round_budget`
# ceiling: identical once hops >= diameter, exactly the loop/oracle
# contract), on the dense tier all sources at
# once (`_dense_levels`), on the executor tier one source at a time
# (`_bfs_levels`). Only the reduction differs. State stays integer
# until one double division per node, rounded 6, so the result is
# bit-identical to the DataFrame loop.


def _bfs_levels(
    ga: GraphArrays, p: int, cap: int, visited: np.ndarray, nxt: np.ndarray,
    strict: bool = False,
):
    """One source's level-synchronous BFS: yields (depth, positions
    first reached at that depth). ``visited`` and ``nxt`` are O(V)
    boolean masks the caller reuses across sources: level-set
    membership through a mask, not np.unique's O(E log E) sort of the
    gathered edges. The walk stops as soon as every node is visited,
    since the next gather over a near-full frontier could touch all 2E
    slots just to find nothing. ``strict``: a walk the cap stops
    raises :func:`unconverged`, as the loop tier does."""
    visited[:] = False
    visited[p] = True
    frontier = np.array([p], dtype=np.int64)
    depth, nvis = 0, 1
    while depth < cap and nvis < ga.n_nodes:
        depth += 1
        nxt[:] = False
        nxt[_gather_nbrs(ga.indptr, ga.indices, frontier)] = True
        nxt &= ~visited
        frontier = np.flatnonzero(nxt)
        if frontier.shape[0] == 0:
            return
        visited[frontier] = True
        nvis += frontier.shape[0]
        yield depth, frontier
    if strict and nvis < ga.n_nodes:
        raise unconverged(cap, until_converged=True)


def closeness_kernel_df(
    spark: SparkSession,
    g: GraphArrays,
    hops: int,
    until_converged: bool,
    out_col: str = "closeness",
) -> DataFrame:
    """Exact hop-closeness: per source, the reached count and distance
    sum, then (cnt − 1) / Σd."""
    if g.n_nodes == 0:
        return _empty_result(spark, f"node long, {out_col} double")
    cap = round_budget(hops, until_converged)
    strict = must_converge(cap, until_converged)
    if g.n_nodes <= TRIANGLE_DENSE_MAX_NODES:
        import pandas as pd

        cnt = np.ones(g.n_nodes, dtype=np.int64)
        dsum = np.zeros(g.n_nodes, dtype=np.int64)
        for depth, nxt in _dense_levels(g, np.arange(g.n_nodes), cap, strict):
            c = nxt.sum(axis=1)
            cnt += c
            dsum += depth * c
        raw = _local_df(spark, pd.DataFrame({"node": g.nodes, "cnt": cnt, "dsum": dsum}))
    else:
        bc = spark.sparkContext.broadcast(g)

        def run(batches: Iterator) -> Iterator:
            import pyarrow as pa

            ga: GraphArrays = bc.value
            visited = np.zeros(ga.n_nodes, dtype=bool)
            nxt = np.zeros(ga.n_nodes, dtype=bool)
            for batch in batches:
                srcs = batch.column("node").to_numpy(zero_copy_only=False)
                cnt = np.ones(srcs.shape[0], dtype=np.int64)
                dsum = np.zeros(srcs.shape[0], dtype=np.int64)
                for i, p in enumerate(np.searchsorted(ga.nodes, srcs)):
                    for depth, level in _bfs_levels(ga, p, cap, visited, nxt, strict):
                        cnt[i] += level.shape[0]
                        dsum[i] += depth * level.shape[0]
                yield pa.RecordBatch.from_arrays(
                    [pa.array(srcs, type=pa.int64()), pa.array(cnt), pa.array(dsum)],
                    names=["node", "cnt", "dsum"],
                )

        raw = _sources_df(spark, g.nodes).mapInArrow(run, "node long, cnt long, dsum long")
    return raw.where(F.col("dsum") > 0).select(
        "node",
        F.round((F.col("cnt").cast("double") - 1) / F.col("dsum"), 6).alias(out_col),
    )


def closeness_sampled_kernel_df(
    spark: SparkSession,
    g: GraphArrays,
    hops: int,
    sample_mod: int,
    until_converged: bool,
    out_col: str = "closeness_est",
) -> DataFrame:
    """Eppstein–Wang sampled closeness: BFS from the 1-in-K source
    sample, Σ d(s, v) accumulated PER TARGET NODE, then k·(n−1)/(n·Σd)
    (the g4c contract verbatim). On the executor tier each task emits
    one partial Σd vector over the nodes its sources reached."""
    ids = g.nodes[g.nodes % sample_mod == 0]
    if ids.shape[0] == 0:
        return _empty_result(spark, f"node long, {out_col} double")
    cap = round_budget(hops, until_converged)
    strict = must_converge(cap, until_converged)
    if g.n_nodes <= TRIANGLE_DENSE_MAX_NODES:
        import pandas as pd

        srcpos = np.searchsorted(g.nodes, ids)
        sdist = np.zeros(g.n_nodes, dtype=np.int64)
        touched = np.zeros(g.n_nodes, dtype=bool)
        touched[srcpos] = True
        for depth, nxt in _dense_levels(g, srcpos, cap, strict):
            newly = nxt.sum(axis=0)
            sdist += depth * newly
            touched |= newly > 0
        sel = np.flatnonzero(touched)
        raw = _local_df(spark, pd.DataFrame({"node": g.nodes[sel], "sdist": sdist[sel]}))
    else:
        bc = spark.sparkContext.broadcast(g)

        def run(batches: Iterator) -> Iterator:
            import pyarrow as pa

            ga: GraphArrays = bc.value
            sdist = np.zeros(ga.n_nodes, dtype=np.int64)
            touched = np.zeros(ga.n_nodes, dtype=bool)
            visited = np.zeros(ga.n_nodes, dtype=bool)
            nxt = np.zeros(ga.n_nodes, dtype=bool)
            for batch in batches:
                srcs = batch.column("node").to_numpy(zero_copy_only=False)
                for p in np.searchsorted(ga.nodes, srcs):
                    touched[p] = True
                    for depth, level in _bfs_levels(ga, p, cap, visited, nxt, strict):
                        touched[level] = True
                        sdist[level] += depth
            sel = np.flatnonzero(touched)
            yield pa.RecordBatch.from_arrays(
                [pa.array(ga.nodes[sel], type=pa.int64()), pa.array(sdist[sel])],
                names=["node", "sdist"],
            )

        raw = (
            _sources_df(spark, ids)
            .mapInArrow(run, "node long, sdist long")
            .groupBy("node")
            .agg(F.sum("sdist").alias("sdist"))
        )
    kk, nn = float(ids.shape[0]), float(g.n_nodes)
    return raw.where(F.col("sdist") > 0).select(
        "node",
        F.round(F.lit(kk) * (F.lit(nn) - 1) / (F.lit(nn) * F.col("sdist")), 6).alias(out_col),
    )


# ------------------------------------------------------ dense BLAS tier
# Multi-source kernels under the SAME V <= 4096 dense gate as the
# triangle kernel: at bench scale the per-source executor kernels are
# wall-bound by mapInArrow plumbing (broadcast pickle + Python worker
# feed + result exchange ~1.5-2s per query for <0.2s of BFS work),
# while one driver-side BLAS matmul per BFS level walks ALL sources at
# once (guide §1.2: fix the algorithm's shape before its constants —
# k x V x V flops per level is microseconds-per-source at the gate).
# Above the gate the executor kernels (and above the broadcast gate
# the distributed loops) run unchanged.


def _dense_adj(g: GraphArrays, dtype=np.float32) -> np.ndarray:
    n = g.n_nodes
    dense = np.zeros((n, n), dtype=dtype)
    rows = np.repeat(np.arange(n, dtype=np.int64), np.diff(g.indptr))
    dense[rows, g.indices] = 1.0
    return dense


def _dense_levels(g: GraphArrays, srcpos: np.ndarray, cap: int, strict: bool = False):
    """The BFS of every source in ``srcpos`` at once, one float32 matmul
    per level: yields (depth, the k x V mask of the pairs first reached
    at that depth). Same level sets, hop cap, early exit and ``strict``
    check as `_bfs_levels` (a row whose frontier empties or whose BFS
    finishes simply stops advancing), so an integer reduction over the
    masks is bit-identical to the per-source loop."""
    k = int(srcpos.shape[0])
    A = _dense_adj(g, np.float32)
    visited = np.zeros((k, g.n_nodes), dtype=bool)
    visited[np.arange(k), srcpos] = True
    frontier = visited.copy()
    depth = 0
    while depth < cap and frontier.any():
        depth += 1
        reach = frontier.astype(np.float32) @ A
        nxt = (reach > 0) & ~visited
        if not nxt.any():
            return
        visited |= nxt
        yield depth, nxt
        frontier = nxt
    if strict and frontier.any():
        raise unconverged(cap, until_converged=True)


def _dense_brandes(
    g: GraphArrays, srcpos: np.ndarray, cap: int, strict: bool = False
) -> tuple[np.ndarray, np.ndarray] | None:
    """Accumulated Brandes delta over all sources via per-level BLAS
    matmuls; returns (delta_acc, reached_any) or None when sigma could
    leave float64's exact-integer range (the executor kernel's
    np.add.at fallback then handles it). sigma forward sums and the
    delta backward sums are the same per-(source, level) quantities as
    the per-source loop — only the order of float addition differs,
    the freedom the round-6 convention already tolerates."""
    nv = g.n_nodes
    k = int(srcpos.shape[0])
    max_deg = int(np.diff(g.indptr).max(initial=1))
    sigma_safe = float((1 << 52) // max(1, max_deg))
    A = _dense_adj(g, np.float64)
    rng = np.arange(k)
    dist = np.full((k, nv), -1, dtype=np.int64)
    dist[rng, srcpos] = 0
    sigma = np.zeros((k, nv), dtype=np.float64)
    sigma[rng, srcpos] = 1.0
    cur = np.zeros((k, nv), dtype=bool)
    cur[rng, srcpos] = True
    depth = 0
    while depth < cap and cur.any():
        if float(sigma.max(initial=0.0)) >= sigma_safe:
            return None  # pragma: no cover - adversarial path counts
        depth += 1
        S = (sigma * cur) @ A
        nxt = (S > 0) & (dist < 0)
        if not nxt.any():
            break
        dist[nxt] = depth
        sigma += S * nxt
        cur = nxt
    else:
        if strict and cur.any():
            raise unconverged(cap, until_converged=True)
    max_depth = int(dist.max(initial=0))
    delta = np.zeros((k, nv), dtype=np.float64)
    inv_sigma = np.divide(
        1.0, sigma, out=np.zeros_like(sigma), where=sigma > 0
    )
    for lvl in range(max_depth - 1, -1, -1):
        down = dist == lvl + 1
        X = np.where(down, (1.0 + delta) * inv_sigma, 0.0)
        Y = X @ A
        f = dist == lvl
        delta += np.where(f, sigma * Y, 0.0)
    mask = dist >= 0
    mask[rng, srcpos] = False
    delta_acc = np.where(mask, delta, 0.0).sum(axis=0)
    reached_any = mask.any(axis=0)
    return delta_acc, reached_any


# -------------------------------------------------------------- betweenness


def betweenness_kernel_df(
    spark: SparkSession,
    g: GraphArrays,
    levels: int,
    sample_mod: int,
    until_converged: bool,
) -> DataFrame:
    """Source-sampled Brandes (forward σ + backward δ), one source at a
    time inside each task, δ-partials aggregated across tasks.

    σ stays int64-exact (the loop/oracle accumulate BIGINT): the
    per-level σ sums run through a float64 bincount while
    max σ · max-degree < 2^52 (always true on the oracle graphs) and
    fall back to exact integer ``np.add.at`` past that bound. δ is the
    same per-level Σ σ(u)/σ(v)·(1+δ(v)) double sum the loop computes.
    Each task emits ONE partial δ vector over the nodes its sources
    reached — |V|·n_tasks rows into a tiny hash aggregate, not
    |V|·|S|."""
    if g.n_nodes == 0:
        return _empty_result(spark, "node long, betweenness_est double")
    ids = g.nodes[g.nodes % sample_mod == 0]
    n_nodes = g.n_nodes
    k = int(ids.shape[0])
    if k == 0:
        return _empty_result(spark, "node long, betweenness_est double")
    cap = round_budget(levels, until_converged)
    strict = must_converge(cap, until_converged)
    scale = float(n_nodes) / float(k)
    if n_nodes <= TRIANGLE_DENSE_MAX_NODES:
        dense = _dense_brandes(g, np.searchsorted(g.nodes, ids), cap, strict)
        if dense is not None:
            import pandas as pd

            delta_acc, reached = dense
            sel = np.flatnonzero(reached)
            raw = _local_df(spark,
                pd.DataFrame(
                    {"node": g.nodes[sel], "sdelta": delta_acc[sel]}
                )
            )
            return raw.select(
                "node",
                F.round(F.lit(scale) * F.col("sdelta") / 2.0, 6).alias(
                    "betweenness_est"
                ),
            )
    src_df = _sources_df(spark, ids)
    bc = spark.sparkContext.broadcast(g)

    def run(batches: Iterator) -> Iterator:
        import pyarrow as pa

        ga: GraphArrays = bc.value
        indptr, indices = ga.indptr, ga.indices
        nv = ga.n_nodes
        max_deg = int(np.diff(indptr).max(initial=1))
        sigma_safe = (1 << 52) // max(1, max_deg)
        delta_acc = np.zeros(nv, dtype=np.float64)
        reached_any = np.zeros(nv, dtype=bool)
        dist = np.empty(nv, dtype=np.int64)
        sigma = np.empty(nv, dtype=np.int64)
        nxt_mask = np.zeros(nv, dtype=bool)
        for batch in batches:
            srcs = batch.column("node").to_numpy(zero_copy_only=False)
            for p in np.searchsorted(ga.nodes, srcs):
                dist[:] = -1
                sigma[:] = 0
                dist[p] = 0
                sigma[p] = 1
                frontiers = [np.array([p], dtype=np.int64)]
                depth = 0
                nvis = 1
                # mask-based level sets (no np.unique edge sort) + stop
                # once all nodes are reached: the iteration after that
                # discovers nothing and adds no σ in either form
                while frontiers[-1].shape[0] and depth < cap and nvis < nv:
                    depth += 1
                    cur = frontiers[-1]
                    reps, nbrs = _gather(indptr, indices, cur)
                    nxt_mask[:] = False
                    nxt_mask[nbrs] = True
                    nxt_mask &= dist == -1
                    nxt = np.flatnonzero(nxt_mask)
                    if nxt.shape[0] == 0:
                        break
                    dist[nxt] = depth
                    nvis += nxt.shape[0]
                    sel = dist[nbrs] == depth
                    if int(sigma[cur].max(initial=0)) < sigma_safe:
                        adds = np.bincount(
                            nbrs[sel],
                            weights=sigma[reps[sel]].astype(np.float64),
                            minlength=nv,
                        )
                        sigma += adds.astype(np.int64)
                    else:  # pragma: no cover - adversarial path counts
                        np.add.at(sigma, nbrs[sel], sigma[reps[sel]])
                    frontiers.append(nxt)
                else:
                    if strict and nvis < nv:
                        raise unconverged(cap, until_converged=True)
                if frontiers[-1].shape[0] == 0:
                    frontiers.pop()
                delta = np.zeros(nv, dtype=np.float64)
                for lvl in range(len(frontiers) - 2, -1, -1):
                    f = frontiers[lvl]
                    reps, nbrs = _gather(indptr, indices, f)
                    sel = dist[nbrs] == lvl + 1
                    if sel.any():
                        u = reps[sel]
                        vpos = nbrs[sel]
                        contrib = (
                            sigma[u].astype(np.float64)
                            / sigma[vpos].astype(np.float64)
                        ) * (1.0 + delta[vpos])
                        delta_add = np.bincount(u, weights=contrib, minlength=nv)
                        delta[f] += delta_add[f]
                mask = dist >= 0
                mask[p] = False
                reached_any |= mask
                delta_acc[mask] += delta[mask]
        sel_nodes = np.flatnonzero(reached_any)
        yield pa.RecordBatch.from_arrays(
            [
                pa.array(ga.nodes[sel_nodes], type=pa.int64()),
                pa.array(delta_acc[sel_nodes], type=pa.float64()),
            ],
            names=["node", "delta"],
        )

    raw = src_df.mapInArrow(run, "node long, delta double")
    scale = float(n_nodes) / float(k)
    out = (
        raw.groupBy("node")
        .agg(F.sum("delta").alias("sdelta"))
        .select(
            "node",
            F.round(F.lit(scale) * F.col("sdelta") / 2.0, 6).alias(
                "betweenness_est"
            ),
        )
    )
    if n_nodes <= TRIANGLE_DENSE_MAX_NODES:
        # σ-overflow fallback from the dense tier (round-11 advice):
        # callers in the dense regime skip their own materialization
        # barriers because kernel outputs are normally driver-local —
        # this one is an executor job, so pin it lazily (first action
        # materializes the |V|-row result; later consumers reuse the
        # blocks instead of re-running the Brandes kernel).
        out = materialize(out, eager=False)
    return out


# ---------------------------------------------------------------- triangles


def triangles_kernel_df(spark: SparkSession, g: GraphArrays) -> DataFrame:
    """Per-node triangle counts + degrees via dense matmul:
    T(v) = ((A · A) ∘ A)·1 / 2 with float32 BLAS — exact while counts
    < 2^24, guaranteed by the ``TRIANGLE_DENSE_MAX_NODES`` gate
    (V ≤ 4096 ⇒ a 64 MB dense matrix, 137 GFLOP worst case).

    Driver-direct (optimization round 11): the earlier executor
    version had every task rebuild the SAME full dense matrix from
    the broadcast CSR just to multiply its row block — n_tasks × the
    build plus a broadcast plus a job, where one threaded BLAS call
    does the whole product in well under a second at the gate
    ceiling. Emits (node, n_tri, degree)."""
    if g.n_nodes == 0:
        return _empty_result(spark, "node long, n_tri long, degree long")
    import pandas as pd

    n = g.n_nodes
    dense = np.zeros((n, n), dtype=np.float32)
    rows = np.repeat(np.arange(n, dtype=np.int64), np.diff(g.indptr))
    dense[rows, g.indices] = 1.0
    deg = np.diff(g.indptr).astype(np.int64)
    tri = ((dense @ dense) * dense).sum(axis=1) / 2.0
    return _local_df(spark,
        pd.DataFrame(
            {
                "node": g.nodes,
                "n_tri": tri.astype(np.int64),
                "degree": deg,
            }
        )
    )


def _strength(g: GraphArrays) -> tuple[np.ndarray, np.ndarray]:
    """Per-node degree and weighted degree off the CSR: row length and
    row weight sum, both int64."""
    counts = np.diff(g.indptr)
    if (counts == 0).any():  # defensive: edge-derived graphs have none
        wdeg = np.zeros(g.n_nodes, dtype=np.int64)
        np.add.at(
            wdeg,
            np.repeat(np.arange(g.n_nodes, dtype=np.int64), counts),
            g.weights,
        )
    else:
        wdeg = np.add.reduceat(g.weights, g.indptr[:-1])
    return counts, wdeg


def degree_kernel_df(spark: SparkSession, g: GraphArrays) -> DataFrame:
    """Degree / weighted degree straight off the CSR (row length and
    per-row weight sum — the same integers g2's explode + hash
    aggregate produces), with the n−1 normalization left to the SAME
    Spark expressions as the DataFrame path so the doubles are
    bit-identical. Used when a composite already holds the collected
    graph, and (round 12) by standalone g2 through `collect_graph_raw`
    — the raw-collect stat gate made the collection cheaper than one
    distributed edge build (A/B in graph.py)."""
    import pandas as pd

    if g.n_nodes == 0:
        return _empty_result(
            spark,
            "node long, degree long, weighted_degree long,"
            " degree_centrality double",
        )
    counts, wdeg = _strength(g)
    deg = _local_df(spark,
        pd.DataFrame(
            {"node": g.nodes, "degree": counts, "weighted_degree": wdeg}
        )
    )
    n = deg.agg(F.count("*").cast("double").alias("n_nodes"))
    return deg.crossJoin(n).select(
        "node",
        "degree",
        "weighted_degree",
        F.round(F.col("degree") / (F.col("n_nodes") - 1), 6).alias(
            "degree_centrality"
        ),
    )


# ------------------------------------------------- whole-graph iterations
# (single-vector kernels run directly on the driver over the
# gate-bounded CSR, like min_label_kernel — no broadcast, no job)


def pagerank_kernel_df(
    spark: SparkSession, g: GraphArrays, iters: int, damping: float
) -> DataFrame:
    """Weighted PageRank, fixed ``iters`` rounds — the loop's
    rank' = (1-d)/N + d·Σ_in rank·w/wdeg as gather + bincount.

    Runs DIRECTLY on the driver (optimization round 11): the whole
    graph already lives there as the gate-bounded CSR — exactly like
    :func:`min_label_kernel` — so shipping it back out through a
    broadcast + single mapInArrow task bought nothing but one
    broadcast pickle and one job of latency per query. Work is
    bounded by the same edge gate as any broadcast build side."""
    if g.n_nodes == 0:
        return _empty_result(spark, "node long, pagerank double")
    import pandas as pd

    nv = g.n_nodes
    rows = np.repeat(np.arange(nv, dtype=np.int64), np.diff(g.indptr))
    w = g.weights.astype(np.float64)
    wdeg = np.bincount(rows, weights=w, minlength=nv)
    p = w / wdeg[rows]
    dst = g.indices.astype(np.int64)
    rank = np.full(nv, 1.0 / nv, dtype=np.float64)
    teleport = (1.0 - damping) / nv
    for _ in range(iters):
        rank = teleport + damping * np.bincount(
            dst, weights=rank[rows] * p, minlength=nv
        )
    raw = _local_df(spark, pd.DataFrame({"node": g.nodes, "rank": rank}))
    return raw.select("node", F.round("rank", 6).alias("pagerank"))


def eigenvector_kernel_df(
    spark: SparkSession, g: GraphArrays, iters: int
) -> DataFrame:
    """Weighted eigenvector centrality: v' = normalize_L2(A·v), fixed
    ``iters`` rounds, starting from all-ones — the loop verbatim.
    Driver-direct for the same reason as :func:`pagerank_kernel_df`."""
    if g.n_nodes == 0:
        return _empty_result(spark, "node long, eigenvector double")
    import pandas as pd

    nv = g.n_nodes
    rows = np.repeat(np.arange(nv, dtype=np.int64), np.diff(g.indptr))
    dst = g.indices.astype(np.int64)
    w = g.weights.astype(np.float64)
    val = np.ones(nv, dtype=np.float64)
    for _ in range(iters):
        m = np.bincount(dst, weights=val[rows] * w, minlength=nv)
        val = m / np.sqrt((m * m).sum())
    raw = _local_df(spark, pd.DataFrame({"node": g.nodes, "val": val}))
    return raw.select("node", F.round("val", 6).alias("eigenvector"))


def min_label_kernel(
    g: GraphArrays,
    iters: int,
    shortcut: bool = False,
) -> tuple[np.ndarray, np.ndarray, int, bool]:
    """Min-label propagation over the CSR, mirroring
    ``min_label_components`` round-for-round: each round every node
    adopts min(label, min over neighbor labels); optional
    pointer-doubling (label ← min(label, label[label])); stop after
    ``iters`` rounds or at the first no-change round (the provable
    fixed point). Returns (node ids, labels, executed_rounds,
    converged) — all integer, so bit-identical to the DataFrame loop
    at every round count."""
    nv = g.n_nodes
    labels = g.nodes.copy()
    if nv == 0 or iters <= 0:
        return g.nodes, labels, 0, nv == 0
    has_isolated = bool((np.diff(g.indptr) == 0).any())
    executed = 0
    converged = False
    for _ in range(iters):
        executed += 1
        prev = labels
        gathered = labels[g.indices.astype(np.int64)]
        if has_isolated:  # reduceat misreads empty segments; exact path
            nlab = labels.copy()
            rows = np.repeat(np.arange(nv, dtype=np.int64), np.diff(g.indptr))
            np.minimum.at(nlab, rows, gathered)
            new = nlab
        else:
            nmin = np.minimum.reduceat(gathered, g.indptr[:-1])
            new = np.minimum(labels, nmin)
        if shortcut:
            ppos = np.searchsorted(g.nodes, new)
            new = np.minimum(new, new[ppos])
        if np.array_equal(new, prev):
            converged = True
            break
        labels = new
    return g.nodes, labels, executed, converged


def label_prop_kernel(g: GraphArrays, rounds: int) -> np.ndarray:
    """Weighted label propagation over the CSR, mirroring
    ``label_prop_partition`` round for round: every node synchronously
    adopts the neighbour label with the greatest summed edge weight
    (tie → smallest label), for ``rounds`` rounds or until the first
    round that changes nothing. The weights are integer pair counts,
    so the vote sums stay int64 and the labels are bit-identical to
    the loop's. Returns the labels (node ids) aligned with ``g.nodes``;
    a node without neighbours keeps its own."""
    nv = g.n_nodes
    if g.n_sym_edges == 0:
        return g.nodes.copy()
    # labels as node POSITIONS: the node list is sorted, so positions
    # order like the ids and the tie-break is unchanged
    lab = np.arange(nv, dtype=np.int64)
    rows = np.repeat(lab, np.diff(g.indptr))
    nbrs = g.indices.astype(np.int64)
    for _ in range(rounds):
        # one (row, label) vote per CSR slot, summed per distinct pair
        key = rows * nv + lab[nbrs]
        order = np.argsort(key, kind="stable")
        key = key[order]
        start = np.flatnonzero(np.r_[True, key[1:] != key[:-1]])
        wsum = np.add.reduceat(g.weights[order], start)
        vrow, vlab = np.divmod(key[start], nv)
        best = np.lexsort((vlab, -wsum, vrow))
        best = best[np.r_[True, vrow[best][1:] != vrow[best][:-1]]]
        new = lab.copy()
        new[vrow[best]] = vlab[best]
        if np.array_equal(new, lab):
            break
        lab = new
    return g.nodes[lab]


def community_nodes_df(
    spark: SparkSession, g: GraphArrays, labels: np.ndarray
) -> DataFrame:
    """(node, label, degree, engagement) per node: the label from
    :func:`label_prop_kernel`, degree and engagement straight off the
    CSR (row length; row weight sum as a double, the loop's ``w``)."""
    if g.n_nodes == 0:
        return _empty_result(
            spark, "node long, label long, degree long, engagement double"
        )
    import pandas as pd

    deg, wdeg = _strength(g)
    return _local_df(spark, pd.DataFrame({
        "node": g.nodes,
        "label": labels,
        "degree": deg,
        "engagement": wdeg.astype(np.float64),
    }))


def modularity_terms_df(
    spark: SparkSession, g: GraphArrays, labels: np.ndarray
) -> DataFrame:
    """(label, deg_c, w_in2, two_m) per community of ``labels``: the
    summed weighted degree of its members, the weight of its internal
    edges counted in both directions, and the graph's total weight in
    both directions. Integer sums, emitted as doubles."""
    if g.n_nodes == 0:
        return _empty_result(
            spark, "label long, deg_c double, w_in2 double, two_m double"
        )
    import pandas as pd

    comm, ci = np.unique(labels, return_inverse=True)
    deg_c = np.zeros(comm.shape[0], dtype=np.int64)
    np.add.at(deg_c, ci, _strength(g)[1])
    src = ci[np.repeat(np.arange(g.n_nodes, dtype=np.int64), np.diff(g.indptr))]
    inside = src == ci[g.indices]
    w_in2 = np.zeros(comm.shape[0], dtype=np.int64)
    np.add.at(w_in2, src[inside], g.weights[inside])
    return _local_df(spark, pd.DataFrame({
        "label": comm,
        "deg_c": deg_c.astype(np.float64),
        "w_in2": w_in2.astype(np.float64),
        "two_m": np.full(comm.shape[0], float(g.weights.sum())),
    }))
