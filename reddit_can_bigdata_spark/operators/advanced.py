"""Advanced operators beyond the reference's surface (SURVEY.md §2.3
"engine gets these for free" + §7.1 scale-out extras).

As-of joins, sessionization, rollup/grouping sets, set difference,
frame-window analytics, and the remaining iterative graph
centralities (eigenvector, closeness) — each Spark-first with an
exact DuckDB oracle. These are the operators a user of a general
analytics engine expects even though the reference never calls them
by name.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window, functions as F

from reddit_can_bigdata_spark.operators import graphkernel as gk
from reddit_can_bigdata_spark.operators.common import (
    DSUM_SQL,
    Rounds,
    dsum,
    fixpoint,
    materialize,
    standard_grand_total,
    tables,
)
from reddit_can_bigdata_spark.operators.graph import (
    _join_state,
    _sym,
    _sym_sql,
    _unrolled,
    STATE_BROADCAST_MAX_ROWS,
)
from reddit_can_bigdata_spark.registry import register

EIGEN_ITERS = 8
CLOSENESS_HOPS = 6
CLOSENESS_SAMPLE_MOD = 7


def _bfs_distances(
    sym: DataFrame,
    hops: int,
    step_col,
    sources: DataFrame | None = None,
    unweighted: bool = False,
    until_converged: bool = False,
) -> DataFrame:
    """All-sources shortest distances by frontier (delta) relaxation.

    Each round relaxes only edges out of rows improved in the previous
    round — identical results to full-relaxation rounds (a node whose
    distance didn't change has nothing new to propagate), but the join
    input collapses once the graph's diameter is passed: on the dense
    test graph this converges in 2-3 of the 6 rounds and cut sf0.1
    runtime ~3x; an empty frontier is the fixed point.

    ``step_col`` maps the edge row to the added distance (lit(1) for
    hops, col(weight) for weighted). ``sources`` optionally restricts
    the BFS roots to a single-column ("src") DataFrame — the sampled
    pivot-source path that makes closeness runnable at 100x scale
    (state O(K·N) instead of O(N²)).

    ``unweighted=True`` additionally enables direction-optimizing
    rounds (Beamer-style push/pull): in level-synchronous unweighted
    BFS every known distance is final, so a round may equivalently be
    computed by PULLING into the still-missing (src, node) pairs —
    candidate = min over known neighbors + 1 — instead of pushing the
    whole frontier through every edge. On dense graphs the missing set
    collapses orders of magnitude faster than the frontier does
    (K1000-ish test graph: round 2 pushes |frontier|·deg ≈ 823M rows,
    but pulls only |missing|·deg ≈ 84M), a ~4x measured win. Pull is
    NOT valid for weighted relaxation (known entries can still
    improve), so the weighted path always pushes.
    """
    roots = sources if sources is not None else sym.select("src").distinct()
    dist = roots.select(
        "src", F.col("src").alias("node"), F.lit(0).cast("long").alias("dist")
    ).transform(materialize)
    edges = sym.withColumnRenamed("src", "mid")
    all_nodes = sym.select(F.col("dst").alias("node")).distinct() if unweighted else None
    if unweighted:
        # Unweighted rows are never replaced, so |dist| is |roots| plus
        # the rounds' frontier counts — no extra count() per round.
        roots_n = roots.count()
        nodes_n = all_nodes.count()

    def relax(r: Rounds) -> DataFrame | None:
        depth = r.rounds + 1
        frontier, dist = r.state, r.acc
        pull = False
        if unweighted and r.counts:
            # missing = |roots| x |nodes| - |dist|; pull when smaller
            # than the frontier (dense-graph endgame).
            n_missing = roots_n * nodes_n - (roots_n + sum(r.counts))
            if n_missing == 0:
                return None  # every pair known; remaining rounds are no-ops
            pull = n_missing < r.counts[-1]
        if pull:
            # A missing pair's known neighbors all sit at exactly the
            # previous level (else the pair would already be known),
            # so reachability = a semi-join against the frontier and
            # the new distance is the constant `depth`.
            # The crossJoin+anti chain collapses to ONE partition under
            # AQE (tiny row count) — but each missing row fans out deg×
            # in the next join, so leave it unspread and the whole
            # 10^7-10^8-row pull pipeline runs in a single task
            # (measured: 23s single-task vs ~2s spread).
            n_parts = sym.sparkSession.sparkContext.defaultParallelism
            missing = (
                roots.crossJoin(all_nodes)
                .join(dist.select("src", "node"), ["src", "node"], "left_anti")
                .repartition(n_parts)
            )
            if depth == 2:
                # Degree shortcut (inclusion–exclusion): a NON-adjacent
                # pair (s, v) has N(s), N(v) ⊆ V∖{s,v}, so
                # |N(s)∩N(v)| ≥ deg(s)+deg(v)−(n−2) — when positive, a
                # common neighbor provably exists and dist = 2 with NO
                # witness enumeration. On dense graphs this resolves
                # (nearly) every missing pair arithmetically; only the
                # remainder pays the |pairs|·deg witness join below.
                degs = sym.groupBy("src").agg(F.count("*").alias("deg"))
                ds = F.broadcast(degs.select("src", F.col("deg").alias("deg_s")))
                dv = F.broadcast(
                    degs.select(F.col("src").alias("node"), F.col("deg").alias("deg_v"))
                )
                scored = missing.join(ds, "src").join(dv, "node")
                sure = F.col("deg_s") + F.col("deg_v") > F.lit(nodes_n - 2)
                easy = scored.where(sure).select("src", "node")
                missing = scored.where(~sure).select("src", "node")
            else:
                easy = None
            # The probe side is |missing|·deg rows — it must NOT be
            # sorted (OOM) or shuffled (2GB+ round trip). Broadcast
            # the frontier keys under the state ceiling so the whole
            # pull round fuses into one map stage (probe + partial
            # dedup); above it, shuffle-hash — build side stays the
            # frontier either way.
            cand = missing.join(edges, missing.node == F.col("dst")).select(
                "src", "node", F.col("mid").alias("nbr")
            )
            fk = frontier.select("src", F.col("node").alias("nbr"))
            fkeys = (
                F.broadcast(fk)
                if r.counts[-1] <= STATE_BROADCAST_MAX_ROWS
                else fk.hint("shuffle_hash")
            )
            found = cand.join(fkeys, ["src", "nbr"], "left_semi").select(
                "src", "node"
            ).distinct()
            if easy is not None:
                found = found.unionByName(easy)
            return found.select("src", "node", F.lit(depth).cast("long").alias("dist"))
        expanded = (
            frontier.join(edges, frontier.node == F.col("mid"))
            .select(
                "src", F.col("dst").alias("node"), (F.col("dist") + step_col).alias("dist")
            )
            .groupBy("src", "node")
            .agg(F.min("dist").alias("dist"))
        )
        old = dist.select("src", "node", F.col("dist").alias("old"))
        return (
            expanded.join(old, ["src", "node"], "left")
            .where(F.col("old").isNull() | (F.col("dist") < F.col("old")))
            .select("src", "node", "dist")
        )

    return fixpoint(
        dist, relax, hops, until_converged=until_converged, rows=True, acc=dist,
        fold=lambda dist, new: dist.join(
            new.select("src", "node"), ["src", "node"], "left_anti"
        ).unionByName(new),
    ).acc


# Order views before clicks at equal ts so ts-ties count as "already
# seen" (inclusive as-of), then event_id for total determinism.
_KIND_ORDER = "CASE WHEN event_type = 'view' THEN 0 ELSE 1 END"


@register(
    "asof_join_latest_view",
    oracle=f"""
    WITH ordered AS (
      SELECT event_id, user_id, event_type,
             last_value(CASE WHEN event_type = 'view' THEN event_id END IGNORE NULLS)
               OVER (PARTITION BY user_id
                     ORDER BY ts, {_KIND_ORDER}, event_id
                     ROWS UNBOUNDED PRECEDING) AS matched_view_id
      FROM events WHERE event_type IN ('view', 'click')
    )
    SELECT event_id AS click_id, user_id, matched_view_id
    FROM ordered WHERE event_type = 'click'
    """,
    tags=("join", "asof", "window"),
    bench=True,
)
def asof_join_latest_view(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join: for every click, the latest view by the same user at
    or before the click's event time (NULL if none yet).

    Spark has no ASOF JOIN operator; the idiomatic composition is a
    union + `last_value(... ignore nulls)` over an event-time window —
    a single shuffle on user_id, no range-join explosion, and it
    scales as a plain window (state = one row per partition during the
    sort-based window scan). This beats the naive
    join-then-argmax-per-pair plan by the full width of the join.
    """
    ev = tables(spark, sf_dir)["events"]
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.col("ts"), F.expr(_KIND_ORDER), F.col("event_id"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    matched = F.last(
        F.when(F.col("event_type") == "view", F.col("event_id")), ignorenulls=True
    ).over(w)
    return (
        ev.where(F.col("event_type").isin("view", "click"))
        .select("event_id", "user_id", "event_type", matched.alias("matched_view_id"))
        .where(F.col("event_type") == "click")
        .select(F.col("event_id").alias("click_id"), "user_id", "matched_view_id")
    )


@register(
    "sessionize_events",
    oracle="""
    WITH gaps AS (
      SELECT user_id,
             CASE WHEN epoch_us(CAST(ts AS TIMESTAMP))
                       - lag(epoch_us(CAST(ts AS TIMESTAMP)))
                         OVER (PARTITION BY user_id ORDER BY ts, event_id)
                       > 1800000000
                  OR lag(epoch_us(CAST(ts AS TIMESTAMP)))
                       OVER (PARTITION BY user_id ORDER BY ts, event_id) IS NULL
                  THEN 1 ELSE 0 END AS new_session
      FROM events WHERE ts IS NOT NULL
    )
    SELECT user_id,
           CAST(SUM(new_session) AS BIGINT) AS n_sessions,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           round(CAST(COUNT(*) AS DOUBLE) / SUM(new_session), 6) AS events_per_session
    FROM gaps GROUP BY user_id
    """,
    tags=("window", "sessionize"),
    bench=True,
)
def sessionize_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization: split each user's event stream at >30-minute
    gaps (the lag-then-cumulative-flag pattern), report sessions per
    user. Gap math in integer epoch-microseconds — exact in both
    engines. In streaming mode the same semantics come from
    ``groupBy(session_window(ts, '30 minutes'))``.

    NULL-ts events are excluded on both engines: a gap against an
    unknown time is undefined, and a NULL ts would otherwise sort
    differently in the two engines' windows (Spark NULLS FIRST vs
    DuckDB NULLS LAST), shifting every session boundary."""
    ev = tables(spark, sf_dir)["events"].where(F.col("ts").isNotNull())
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    prev_us = F.lag(F.unix_micros("ts")).over(w)
    new_session = (
        F.when(
            prev_us.isNull() | (F.unix_micros("ts") - prev_us > 1_800_000_000), 1
        ).otherwise(0)
    )
    return (
        ev.select("user_id", new_session.alias("new_session"))
        .groupBy("user_id")
        .agg(
            F.sum("new_session").alias("n_sessions"),
            F.count("*").alias("n_events"),
            F.round(F.count("*").cast("double") / F.sum("new_session"), 6).alias(
                "events_per_session"
            ),
        )
    )


@register(
    "rollup_priority_status",
    oracle="""
    SELECT o_orderpriority, o_orderstatus,
           CAST(COUNT(*) AS BIGINT) AS cnt,
           {dsum} AS total_price
    FROM orders
    GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
    """.format(dsum=DSUM_SQL.format(x="o_totalprice")),
    tags=("agg", "rollup"),
)
def rollup_priority_status(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (priority → status → grand total) in
    one pass — the grouping-sets capability SURVEY §2.4 notes as
    built-in. Partial aggregation covers all grouping sets in a single
    shuffle."""
    t = tables(spark, sf_dir)
    rolled = (
        t["orders"]
        .rollup("o_orderpriority", "o_orderstatus")
        .agg(F.count("*").alias("cnt"), dsum("o_totalprice").alias("total_price"))
    )
    return standard_grand_total(
        rolled,
        t["orders"],
        [
            F.lit(None).cast("string").alias("o_orderpriority"),
            F.lit(None).cast("string").alias("o_orderstatus"),
            F.lit(0).cast("bigint").alias("cnt"),
            F.lit(None).cast("double").alias("total_price"),
        ],
    )


@register(
    "except_clickers_without_errors",
    oracle="""
    SELECT user_id FROM events WHERE event_type = 'click'
    EXCEPT
    SELECT user_id FROM events WHERE event_type = 'error'
    """,
    tags=("setop",),
)
def except_clickers_without_errors(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Set difference (EXCEPT DISTINCT): users who click but never
    error. Plans as a left-anti hash aggregate."""
    ev = tables(spark, sf_dir)["events"]
    clickers = ev.where(F.col("event_type") == "click").select("user_id")
    errorers = ev.where(F.col("event_type") == "error").select("user_id")
    return clickers.subtract(errorers)  # EXCEPT DISTINCT semantics


@register(
    "w_lag_daily_change",
    oracle="""
    WITH daily AS (
      SELECT strftime(o_orderdate, '%Y-%m-%d') AS order_day,
             CAST(COUNT(*) AS BIGINT) AS cnt
      FROM orders WHERE o_orderdate IS NOT NULL GROUP BY order_day
    )
    SELECT order_day, cnt,
           cnt - lag(cnt) OVER (ORDER BY order_day) AS day_over_day
    FROM daily
    """,
    tags=("window", "lag"),
)
def w_lag_daily_change(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Frame-window analytics the reference lacks (SURVEY §2.5 note):
    day-over-day change via lag. The window runs over the *aggregated*
    daily series (|days| rows), so the single-partition global order
    is safe at any raw-data scale. NULL order dates are excluded on
    both engines — a NULL day has no place in a day-over-day chain
    and would sort differently in the two engines' windows."""
    t = tables(spark, sf_dir)
    daily = (
        t["orders"]
        .where(F.col("o_orderdate").isNotNull())
        .groupBy(F.date_format("o_orderdate", "yyyy-MM-dd").alias("order_day"))
        .agg(F.count("*").alias("cnt"))
    )
    w = Window.orderBy("order_day")
    return daily.select(
        "order_day", "cnt", (F.col("cnt") - F.lag("cnt").over(w)).alias("day_over_day")
    )


def _eigenvector_oracle() -> str:
    # a round is m = A·v, then v' = m / ‖m‖₂
    rounds = _unrolled(
        "v",
        lambda i: f"""
              WITH m AS MATERIALIZED (
                SELECT s.dst AS node, SUM(v.val * s.w) AS val
                FROM sym s JOIN v{i} v ON v.node = s.src GROUP BY s.dst
              )
              SELECT node, val / (SELECT sqrt(SUM(val * val)) FROM m) AS val FROM m""",
        EIGEN_ITERS,
    )
    return f"""WITH {_sym_sql("w")},
    v0 AS MATERIALIZED (SELECT DISTINCT src AS node, 1.0 AS val FROM sym),
    {rounds}
    SELECT node, round(val, 6) AS eigenvector FROM v{EIGEN_ITERS}"""


@register(
    "g5_eigenvector_centrality",
    oracle=_eigenvector_oracle(),
    tags=("graph", "eigenvector", "iterative"),
    bench=True,
)
def g5_eigenvector_centrality(
    spark: SparkSession,
    sf_dir: str,
    edges: DataFrame | None = None,
    graph=None,
) -> DataFrame:
    """G5: weighted eigenvector centrality
    (`network-analysis/network_analysis.py:163`) by power iteration —
    v' = normalize(A·v), fixed 8 iterations, L2 norm (nx convention).
    Same Pregel-as-DataFrame loop as PageRank (G6): one shuffle per
    iteration on the destination key; the norm is a scalar aggregate
    broadcast back."""
    edges, g = gk.resolve_graph(spark, sf_dir, edges, graph)
    if g is not None:
        return gk.eigenvector_kernel_df(spark, g, EIGEN_ITERS)
    sym = _sym(edges, "w", key="src")
    v = sym.select(F.col("src").alias("node")).distinct().select(
        "node", F.lit(1.0).alias("val")
    )
    n_nodes = v.count()

    def normalized(m: DataFrame) -> DataFrame:
        norm = m.agg(F.sqrt(F.sum(F.col("val") * F.col("val"))).alias("nrm"))
        return m.crossJoin(norm).select("node", (F.col("val") / F.col("nrm")).alias("val"))

    def power(r: Rounds) -> DataFrame:
        # the state is A·v; the first round multiplies the all-ones v
        v = normalized(r.state) if r.rounds else r.state
        return (
            _join_state(sym, v, sym.src == v.node, n_nodes)
            .groupBy(F.col("dst").alias("node"))
            .agg(F.sum(F.col("val") * F.col("w")).alias("val"))
        )

    v = normalized(fixpoint(v, power, EIGEN_ITERS).state)
    return v.select("node", F.round("val", 6).alias("eigenvector"))


def _closeness(
    spark: SparkSession,
    sf_dir: str,
    *,
    weighted: bool,
    sampled: bool,
    out_col: str,
    edges: DataFrame | None = None,
    graph=None,
    until_converged: bool = False,
    sample_mod: int | None = None,
) -> DataFrame:
    """The closeness family (`network-analysis/network_analysis.py:154`,
    ``nx.closeness_centrality(G, distance='weight')``) on two axes.

    ``weighted``: the step is the edge weight (dist + w, fixed-round
    Bellman-Ford: exact once the rounds reach the hop count of the
    longest shortest path, true on the dense test graphs and a
    documented bound otherwise) or one hop (dist + 1, the documented
    deviation of `g4`). The weighted loop is PUSH-ONLY: the
    direction-optimizing pull in `_bfs_distances` assumes a distance
    is final once its BFS level is known, which holds only for unit
    steps; under weights a known (src, node) entry can still improve
    through a longer-hop but lighter path, so pulling into the missing
    pairs would freeze wrong distances. No weighted kernel exists, so
    the weighted forms always run the loop (``kernel=False``).

    ``sampled``: all sources with the exact per-source closeness
    (cnt − 1) / Σd, whose state is O(N²) rows (the known cost of
    exact closeness, SURVEY §7.3 risk 2), or a deterministic 1-in-K
    source sample (node % K == 0, portable to the oracle, no engine
    hash) with the Eppstein–Wang '01 estimator per target v,

        c(v) ≈ k·(n−1) / (n · Σ_{s∈S} d(s, v)),

    whose state is O(K·N); the loop is the same, only the seed set
    shrinks. ``sample_mod`` is the cost knob (default
    ``CLOSENESS_SAMPLE_MOD`` = 7, the registered oracles' K; the k/n
    rescale makes any K consistent). `closeness_for_scale`'s auto gate
    derives it from a relax-row budget when the graph densifies past
    what 1-in-7 affords.

    Distances and their sums stay integers until one double division
    per node, rounded to 6 places, so every tier matches the oracle
    exactly."""
    sample_mod = CLOSENESS_SAMPLE_MOD if sample_mod is None else sample_mod
    edges, g = gk.resolve_graph(spark, sf_dir, edges, graph, kernel=not weighted)
    if g is not None:
        if sampled:
            return gk.closeness_sampled_kernel_df(
                spark, g, CLOSENESS_HOPS, sample_mod, until_converged, out_col
            )
        return gk.closeness_kernel_df(spark, g, CLOSENESS_HOPS, until_converged, out_col)
    sym = _sym(edges, "weight" if weighted else None)
    nodes = sym.select("src").distinct()
    srcs = nodes.where(F.col("src") % sample_mod == 0) if sampled else nodes
    dist = _bfs_distances(
        sym,
        CLOSENESS_HOPS,
        F.col("weight") if weighted else F.lit(1),
        sources=srcs,
        unweighted=not weighted,
        until_converged=until_converged,
    )
    if not sampled:
        return (
            dist.groupBy("src")
            .agg(
                F.round((F.count("*").cast("double") - 1) / F.sum("dist"), 6).alias(out_col),
                F.sum("dist").alias("_total"),
            )
            .where(F.col("_total") > 0)
            .select(F.col("src").alias("node"), out_col)
        )
    n = nodes.agg(F.count("*").cast("double").alias("n"))
    k = srcs.agg(F.count("*").cast("double").alias("k"))
    agg = dist.groupBy("node").agg(F.sum("dist").alias("sdist")).where(F.col("sdist") > 0)
    return (
        agg.crossJoin(n)
        .crossJoin(k)
        .select(
            "node",
            F.round(
                F.col("k") * (F.col("n") - 1) / (F.col("n") * F.col("sdist")), 6
            ).alias(out_col),
        )
    )


def _closeness_oracle(weighted: bool, sampled: bool, out_col: str) -> str:
    """`_closeness`'s DuckDB twin: the same sources, step and formula
    over ``CLOSENESS_HOPS`` unrolled min-plus rounds. The exact form
    groups by source, as its definition reads."""
    step = "s.weight" if weighted else "1"
    rounds = _unrolled(
        "d",
        lambda i: f"""
              SELECT src, node, CAST(min(dist) AS BIGINT) AS dist FROM (
                SELECT src, node, dist FROM d{i}
                UNION ALL
                SELECT d.src, s.dst AS node, d.dist + {step}
                FROM d{i} d JOIN sym s ON s.src = d.node
              ) GROUP BY src, node""",
        CLOSENESS_HOPS,
    )
    sample = f" WHERE node % {CLOSENESS_SAMPLE_MOD} = 0" if sampled else ""
    head = f"""WITH {_sym_sql("weight" if weighted else None)},
    nodes AS MATERIALIZED (SELECT DISTINCT src AS node FROM sym),
    srcs AS MATERIALIZED (SELECT node AS src FROM nodes{sample}),
    d0 AS MATERIALIZED (SELECT src, src AS node, CAST(0 AS BIGINT) AS dist FROM srcs),
    {rounds}"""
    if not sampled:
        return f"""{head}
    SELECT src AS node,
           round((CAST(COUNT(*) AS DOUBLE) - 1) / SUM(dist), 6) AS {out_col}
    FROM d{CLOSENESS_HOPS}
    GROUP BY src HAVING SUM(dist) > 0"""
    return f"""{head},
    agg AS MATERIALIZED (
      SELECT node, CAST(SUM(dist) AS BIGINT) AS sdist
      FROM d{CLOSENESS_HOPS} GROUP BY node HAVING SUM(dist) > 0
    ),
    nn AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes),
    kk AS MATERIALIZED (SELECT CAST(COUNT(*) AS DOUBLE) AS k FROM srcs)
    SELECT a.node, round(kk.k * (nn.n - 1) / (nn.n * a.sdist), 6) AS {out_col}
    FROM agg a CROSS JOIN nn CROSS JOIN kk"""


@register(
    "g4b_closeness_weighted",
    oracle=_closeness_oracle(True, False, "closeness_w"),
    tags=("graph", "closeness", "weighted", "iterative"),
)
def g4b_closeness_weighted(
    spark: SparkSession, sf_dir: str, until_converged: bool = False
) -> DataFrame:
    """G4 weighted variant — edge weights as distances, the reference's
    exact form (`_closeness`)."""
    return _closeness(
        spark, sf_dir, weighted=True, sampled=False, out_col="closeness_w",
        until_converged=until_converged,
    )


@register(
    "g4c_closeness_sampled",
    oracle=_closeness_oracle(False, True, "closeness_est"),
    tags=("graph", "closeness", "sampled", "iterative"),
)
def g4c_closeness_sampled(
    spark: SparkSession,
    sf_dir: str,
    edges: DataFrame | None = None,
    until_converged: bool = False,
    sample_mod: int | None = None,
    graph=None,
) -> DataFrame:
    """G4 at scale: pivot-SAMPLED closeness (Eppstein–Wang estimator,
    `_closeness`)."""
    return _closeness(
        spark, sf_dir, weighted=False, sampled=True, out_col="closeness_est",
        edges=edges, graph=graph, until_converged=until_converged,
        sample_mod=sample_mod,
    )


@register(
    "g4d_closeness_weighted_sampled",
    oracle=_closeness_oracle(True, True, "closeness_w_est"),
    tags=("graph", "closeness", "weighted", "sampled", "iterative"),
)
def g4d_closeness_weighted_sampled(
    spark: SparkSession,
    sf_dir: str,
    edges: DataFrame | None = None,
    until_converged: bool = False,
) -> DataFrame:
    """G4b at scale: pivot-SAMPLED weighted closeness, the 100× path for
    the reference's exact form (`_closeness`)."""
    return _closeness(
        spark, sf_dir, weighted=True, sampled=True, out_col="closeness_w_est",
        edges=edges, until_converged=until_converged,
    )


@register(
    "g4_closeness_centrality",
    oracle=_closeness_oracle(False, False, "closeness"),
    tags=("graph", "closeness", "iterative"),
    bench=True,
)
def g4_closeness_centrality(
    spark: SparkSession,
    sf_dir: str,
    edges: DataFrame | None = None,
    until_converged: bool = False,
    graph=None,
) -> DataFrame:
    """G4: closeness centrality over hop distances, a documented
    deviation from the reference's weights (`_closeness`)."""
    return _closeness(
        spark, sf_dir, weighted=False, sampled=False, out_col="closeness",
        edges=edges, graph=graph, until_converged=until_converged,
    )


# Exact closeness materializes O(N²) (src, node, dist) state; with
# ~32 bytes/row this ceiling caps the BFS state around ~3e9 rows /
# ~100 GB spread over the cluster — the practical upper bound before
# the all-sources frontier join dominates the whole job. Above it the
# Eppstein–Wang sampled estimator (O(K·N) state, same loop) takes
# over. Mirrors the `graph._join_state` broadcast/shuffle gate.
CLOSENESS_EXACT_MAX_NODES = 50_000

# Second axis of the exact-closeness gate (round 11): the node ceiling
# alone missed a real blow-up the sf1 probe found — the sf1 co-order
# graph has only ~10k nodes but V·E_sym ≈ 2.1e11 RELAXATION rows
# (every BFS frontier pass touches every symmetric edge once per
# source, so the all-sources join shuffles ~V·E_sym rows across the
# run; at ~24 bytes/row that is ~5 TB of shuffle for a graph 5× under
# the node ceiling, and it filled the test host's disk). Co-occurrence
# graphs densify superlinearly — 10× the orders gave 235× the relax
# volume — so the gate must budget WORK, not just state. The budget is
# per task slot: local[32] flips sf1 to the sampled estimator, while a
# 1000-executor cluster (~16k slots) can still afford it exact.
CLOSENESS_RELAX_ROWS_PER_SLOT = 100_000_000


def closeness_for_scale(
    spark: SparkSession,
    sf_dir: str,
    edges: DataFrame | None = None,
    n_nodes: int | None = None,
    mode: str | None = None,
    graph=None,
) -> DataFrame:
    """Size-gated closeness: exact `g4` below
    ``CLOSENESS_EXACT_MAX_NODES`` graph nodes, sampled `g4c`
    (renamed to the same ``closeness`` column) above. ``mode``
    overrides: 'exact' | 'sampled' | None (auto by node count).

    This is what the composites (`influencer_composite_top20`) and
    `run_pipeline`'s network stage call so
    the one O(N²) component never runs on a graph where it would be
    the first thing to die at 100×.

    Two gate axes (both must pass for exact):

    - ``n_nodes <= CLOSENESS_EXACT_MAX_NODES`` — bounds the O(N²)
      distance STATE;
    - ``n_nodes · E_sym <= CLOSENESS_RELAX_ROWS_PER_SLOT · slots`` —
      bounds the relaxation WORK (total frontier-join rows across all
      sources). Added in round 11 after the honest 10× probe showed a
      10k-node graph under the state ceiling shuffling ~5 TB.

    On the auto path the SAMPLED arm's source count is itself
    budgeted: a fixed 1-in-7 sample keeps k proportional to the graph,
    so k·E_sym work grows superquadratically when the graph densifies
    — the round-11 honest 10× probe measured mod-7 sampled closeness
    burning 73× the cpu inside `pipeline_e2e` at sf1 (the co-order
    graph has 23.5× the edges for 10× the data). The pivot estimator's
    error depends on the ABSOLUTE sample count, so the auto gate
    derives the modulus from the same relax-row budget
    (:func:`~reddit_can_bigdata_spark.operators.common.budgeted_sample_mod`):
    sample size scales with the cluster, not the data.

    The chosen mode is LOGGED (round-3 advice: the auto-switch must
    not be silent — sampled closeness diverges from an exact oracle).
    Registered oracle queries pass ``mode='exact'`` or
    ``mode='sampled'`` explicitly (forced modes keep the pinned mod-7
    sample, so their parity can't drift with data size); production
    callers use the default auto gate (the sampled estimator has its
    own green oracle rows, `g4c`/`g4d`).
    """
    import logging

    # resolved ONCE here: the graph answers the gate and flows down to
    # whichever closeness arm the gate picks (no second collect or build)
    edges, graph = gk.resolve_graph(spark, sf_dir, edges, graph)
    sample_mod = None
    if mode is None:
        # E_sym = 2·|E|: each undirected edge is relaxed in both
        # directions every frontier pass
        nn, e_sym = gk.graph_size(edges, graph)
        if n_nodes is None:
            n_nodes = nn
        slots = spark.sparkContext.defaultParallelism
        relax_rows = n_nodes * e_sym
        relax_budget = CLOSENESS_RELAX_ROWS_PER_SLOT * slots
        mode = (
            "exact"
            if n_nodes <= CLOSENESS_EXACT_MAX_NODES
            and relax_rows <= relax_budget
            else "sampled"
        )
        if mode == "sampled":
            from reddit_can_bigdata_spark.operators.common import (
                budgeted_sample_mod,
            )

            sample_mod = budgeted_sample_mod(
                n_nodes,
                e_sym,
                CLOSENESS_HOPS,
                slots,
                CLOSENESS_SAMPLE_MOD,
                rows_per_slot=CLOSENESS_RELAX_ROWS_PER_SLOT,
            )
        logging.getLogger(__name__).info(
            "closeness_for_scale: auto mode=%s (n_nodes=%d, ceiling=%d; "
            "relax_rows=%d, budget=%d over %d slots; sample_mod=%s)",
            mode,
            n_nodes,
            CLOSENESS_EXACT_MAX_NODES,
            relax_rows,
            relax_budget,
            slots,
            sample_mod,
        )
    if mode == "exact":
        return g4_closeness_centrality(spark, sf_dir, edges=edges, graph=graph)
    return g4c_closeness_sampled(
        spark, sf_dir, edges=edges, sample_mod=sample_mod, graph=graph
    ).select("node", F.col("closeness_est").alias("closeness"))
