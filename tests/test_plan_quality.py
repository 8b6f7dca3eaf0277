"""Physical-plan assertions (the would-this-survive-100TB checks).

These pin the plan properties each query's scale story depends on:
pushdown reaching the parquet scan, dimension joins broadcasting,
no accidental cartesian products, aggregation-before-join shapes.
"""

from __future__ import annotations

import pytest

from reddit_can_bigdata_spark.plans.inspect import (
    formatted_plan,
    has_pushed_filter,
    join_kinds,
    pushed_filters,
    read_schemas,
)
from reddit_can_bigdata_spark.registry import REGISTRY, _ensure_loaded

_ensure_loaded()


def test_filter_pushdown_reaches_parquet_scan(spark, sf_dir):
    """P7/P8: both predicates must appear in PushedFilters."""
    df = REGISTRY["p7_p8_interactive_filter"].fn(spark, sf_dir)
    assert has_pushed_filter(df, "o_orderstatus"), pushed_filters(df)
    assert has_pushed_filter(df, "o_totalprice"), pushed_filters(df)


def test_projection_prunes_scan_columns(spark, sf_dir):
    """S10: the customer scan must read only the 4 referenced columns
    (3 projected + 1 filtered), not the whole table."""
    df = REGISTRY["s10_projected_scan"].fn(spark, sf_dir)
    schemas = read_schemas(df)
    assert schemas, "no ReadSchema found"
    cust = next(s for s in schemas if "c_custkey" in s)
    assert "c_acctbal" in cust and "c_name" in cust and "c_mktsegment" in cust
    assert "c_nationkey" not in cust


def test_dim_join_broadcasts(spark, sf_dir):
    """A4: nation (tiny dim) must broadcast — shuffling customer on
    nationkey at 100 TB would be a silent disaster."""
    df = REGISTRY["a4_multi_agg_rollup"].fn(spark, sf_dir)
    kinds = join_kinds(df)
    assert "BroadcastHashJoin" in kinds, kinds
    assert "SortMergeJoin" not in kinds, kinds


def test_topk_lookup_join_broadcasts(spark, sf_dir):
    """J1: the 5-row top-k side must broadcast against customer."""
    df = REGISTRY["j1_lookup_join_topk"].fn(spark, sf_dir)
    assert "BroadcastHashJoin" in join_kinds(df), join_kinds(df)


def test_no_cartesian_products_anywhere(spark, sf_dir):
    """No registered query may plan a CartesianProduct — scalar
    cross-joins must ride a BroadcastNestedLoopJoin (1-row side)."""
    offenders = []
    for name, spec in sorted(REGISTRY.items()):
        if name == "streaming_windowed_counts":
            continue  # runs a streaming query, not a static plan
        kinds = join_kinds(spec.fn(spark, sf_dir))
        if "CartesianProduct" in kinds:
            offenders.append((name, kinds))
    assert not offenders, offenders


def test_topk_uses_take_ordered(spark, sf_dir):
    """W1: global top-k must plan TakeOrderedAndProject (per-partition
    heaps), never a full global Sort."""
    df = REGISTRY["w1_global_topk"].fn(spark, sf_dir)
    assert "TakeOrderedAndProject" in formatted_plan(df)


def test_keyword_filter_stays_jvm_side(spark, sf_dir):
    """P5: the regex keyword filter must not plan a Python UDF eval."""
    df = REGISTRY["p5_keyword_filter"].fn(spark, sf_dir)
    plan = formatted_plan(df)
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_fk_join_then_group_reuses_partitioning(spark, sf_dir):
    """J2: join on l_orderkey followed by groupBy(o_orderkey) must not
    add a second shuffle for the aggregation (same key)."""
    from reddit_can_bigdata_spark.plans.inspect import count_exchanges

    df = REGISTRY["j2_fk_join_rollup"].fn(spark, sf_dir)
    # 2 exchanges to co-partition the two scans; the group-by reuses
    # that partitioning -> no third exchange.
    assert count_exchanges(df) <= 2, formatted_plan(df)


def test_iterative_state_join_has_broadcast_ceiling(spark, sf_dir, monkeypatch):
    """G5/G6/G7 loops: below the state-size ceiling the per-iteration
    state join broadcasts (edge table never shuffles); above it the
    SAME code must switch to a shuffle join — the broadcast-OOM guard.
    One iteration both ways: expected join strategy AND identical
    results."""
    from pyspark.sql import functions as F
    from test_oracle_parity import _conf

    from reddit_can_bigdata_spark.operators import graph
    from reddit_can_bigdata_spark.operators.graph import (
        _edges,
        _join_state,
        STATE_BROADCAST_MAX_ROWS,
        g6_pagerank,
    )
    from reddit_can_bigdata_spark.operators.graphkernel import GRAPH_KERNEL_MAX_EDGES_CONF

    e = _edges(spark, sf_dir)
    sym = e.select(F.col("u").alias("src"), F.col("v").alias("dst"), "weight")
    state = sym.select(F.col("src").alias("node")).distinct().select(
        "node", F.lit(1.0).alias("rank")
    )
    below, above = STATE_BROADCAST_MAX_ROWS, STATE_BROADCAST_MAX_ROWS + 1
    one_bc = _join_state(sym, state, sym.src == state.node, below).groupBy(
        "dst"
    ).agg(F.sum(F.col("rank") * F.col("weight")).alias("s"))
    one_sh = _join_state(sym, state, sym.src == state.node, above).groupBy(
        "dst"
    ).agg(F.sum(F.col("rank") * F.col("weight")).alias("s"))
    assert "BroadcastHashJoin" in join_kinds(one_bc), join_kinds(one_bc)
    sh_kinds = join_kinds(one_sh)
    assert "ShuffledHashJoin" in sh_kinds, sh_kinds

    rows_bc = {(r["dst"], r["s"]) for r in one_bc.collect()}
    rows_sh = {(r["dst"], r["s"]) for r in one_sh.collect()}
    assert rows_bc == rows_sh

    # full 10-iteration pagerank on the loop tier agrees across modes
    # (rounded output); the ceiling at 0 puts every state above it
    with _conf(spark, **{GRAPH_KERNEL_MAX_EDGES_CONF: "0"}):
        pr_bc = {r["node"]: r["pagerank"] for r in g6_pagerank(spark, sf_dir).collect()}
        monkeypatch.setattr(graph, "STATE_BROADCAST_MAX_ROWS", 0)
        pr_sh = {r["node"]: r["pagerank"] for r in g6_pagerank(spark, sf_dir).collect()}
    assert pr_bc == pr_sh


def test_decontaminate_broadcasts_eval_grams(spark, sf_dir):
    """Below the gram ceiling the collision join must be a
    BroadcastHashJoin so the corpus side never shuffles."""
    from reddit_can_bigdata_spark.operators.pretrain import pretrain_decontaminate

    plan = formatted_plan(pretrain_decontaminate(spark, sf_dir))
    assert "BroadcastHashJoin" in plan, plan


def test_decontaminate_shuffle_fallback_above_ceiling(spark, sf_dir, monkeypatch):
    """Above DECONTAM_BROADCAST_MAX_GRAMS the force-broadcast must NOT
    happen (round-3 advice: the modulo eval set grows with the corpus;
    an unbounded broadcast would kill the driver at 100 TB). Rows are
    identical either way."""
    from reddit_can_bigdata_spark.operators import pretrain

    baseline = {
        tuple(r) for r in pretrain.pretrain_decontaminate(spark, sf_dir).collect()
    }
    monkeypatch.setattr(pretrain, "DECONTAM_BROADCAST_MAX_GRAMS", 0)
    df = pretrain.pretrain_decontaminate(spark, sf_dir)
    plan = formatted_plan(df)
    # the gram semi-join runs as a shuffle-hash join (the final tiny
    # doc_id left-join may still legitimately broadcast)
    assert "ShuffledHashJoin" in plan, plan
    assert {tuple(r) for r in df.collect()} == baseline


def test_repetition_is_shuffle_free(spark, sf_dir):
    """Duplicate-n-gram fraction is pure array expressions in one
    projection: the only exchange allowed is the `spread` round-robin
    rebalance of the single-file test input (a no-op on real
    multi-split inputs) — no aggregate, no join."""
    from reddit_can_bigdata_spark.operators.pretrain import pretrain_repetition
    from reddit_can_bigdata_spark.plans.inspect import count_exchanges

    df = pretrain_repetition(spark, sf_dir)
    plan = formatted_plan(df)
    assert count_exchanges(df) <= 1, plan
    assert "HashAggregate" not in plan, plan
    assert "Join" not in plan, plan


def test_pii_redact_is_single_stage(spark, sf_dir):
    from reddit_can_bigdata_spark.operators.textstats import text_pii_redact
    from reddit_can_bigdata_spark.plans.inspect import count_exchanges

    df = text_pii_redact(spark, sf_dir)
    plan = formatted_plan(df)
    assert count_exchanges(df) == 0, plan
    assert "Join" not in plan and "HashAggregate" not in plan, plan


def test_sq_quantized_scales_broadcast(spark, sf_dir):
    """The per-dimension scale table (1 row) and the query vector must
    broadcast; the corpus scan is the only big input (no corpus-side
    shuffle for the scoring itself — the scales aggregate is the one
    reduction)."""
    from reddit_can_bigdata_spark.operators.similarity import sim_sq_quantized_topk

    df = sim_sq_quantized_topk(spark, sf_dir)
    plan = formatted_plan(df)
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan, plan
    # top-k finishes with per-partition heaps, not a global sort
    assert "TakeOrderedAndProject" in plan, plan


def test_token_budget_two_shuffles(spark, sf_dir):
    """curate_token_budget: one aggregate to source granularity + one
    window cumsum per source — the physical plan carries at most 3
    exchanges (weights agg, broadcast-return, window partitioning; the
    `spread` rebalance of the single-file test input adds one)."""
    from reddit_can_bigdata_spark.operators.curation import curate_token_budget
    from reddit_can_bigdata_spark.plans.inspect import count_exchanges

    df = curate_token_budget(spark, sf_dir)
    assert count_exchanges(df) <= 3, formatted_plan(df)


def test_bloom_decontaminate_corpus_never_shuffles(spark, sf_dir):
    """The whole point of the bloom path: the eval side reduces to one
    broadcast map row, so the corpus side is scan -> project with NO
    join on the corpus grams and no corpus-sized exchange. The only
    exchanges allowed are on the eval/bitmap side (distinct + word
    bit_or + single-row agg) plus the `spread` rebalance."""
    from reddit_can_bigdata_spark.operators.pretrain import (
        pretrain_bloom_decontaminate,
    )

    df = pretrain_bloom_decontaminate(spark, sf_dir)
    plan = formatted_plan(df)
    # corpus side joins ONLY via the broadcast nested-loop cross join
    # of the single bitmap row — never a shuffled join
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "ShuffledHashJoin" not in plan and "SortMergeJoin" not in plan, plan


def test_dedup_passages_two_linear_shuffles(spark, sf_dir):
    """Passage dedup = one shuffle on md5(passage) (first-occurrence
    window) + one back on doc_id (reassembly agg + rejoin); with the
    `spread` rebalance and AQE coalescing that bounds the physical
    plan at 5 exchanges and forbids any cartesian product."""
    from reddit_can_bigdata_spark.operators.dedup import dedup_passages
    from reddit_can_bigdata_spark.plans.inspect import count_exchanges

    df = dedup_passages(spark, sf_dir)
    plan = formatted_plan(df)
    assert count_exchanges(df) <= 5, plan
    assert "CartesianProduct" not in plan, plan


def test_stratified_split_single_aggregate(spark, sf_dir):
    """Assignment is a narrow map; the only reduction is the tiny
    (source, split) aggregate, and the frac window runs over that
    aggregate, not the corpus."""
    from reddit_can_bigdata_spark.operators.curation import (
        curate_stratified_split,
    )
    from reddit_can_bigdata_spark.plans.inspect import count_exchanges

    df = curate_stratified_split(spark, sf_dir)
    plan = formatted_plan(df)
    assert count_exchanges(df) <= 2, plan
    assert "Join" not in plan, plan


def test_dsir_model_side_broadcasts(spark, sf_dir):
    """DSIR's log-ratio table is bucket-sized (constant): it must
    broadcast back onto the gram stream — the corpus-sized side never
    joins via shuffle."""
    from reddit_can_bigdata_spark.operators.curation import curate_dsir_logweight

    df = curate_dsir_logweight(spark, sf_dir)
    plan = formatted_plan(df)
    # the corpus gram stream joins the log-ratio table via broadcast;
    # the t<->r histogram full-outer may sort-merge — both sides are
    # bucket-sized (1024 rows), so that join is constant work
    assert "BroadcastHashJoin" in plan, plan
    # tree lines name the join type; only the histogram full-outers
    # may sort-merge
    assert plan.count("SortMergeJoin FullOuter") <= 2, plan
    assert "SortMergeJoin Inner" not in plan, plan


def test_bm25_scan_speed_topk(spark, sf_dir):
    """BM25: two 1-row stat aggregates broadcast back; scoring is a
    narrow map finishing in per-partition top-k heaps."""
    from reddit_can_bigdata_spark.operators.textstats import text_bm25_topk

    df = text_bm25_topk(spark, sf_dir)
    plan = formatted_plan(df)
    assert "TakeOrderedAndProject" in plan, plan
    assert "BroadcastNestedLoopJoin" in plan, plan
    assert "SortMergeJoin" not in plan and "ShuffledHashJoin" not in plan, plan


def test_salted_join_spreads_partitioning(spark, sf_dir):
    """j5: the physical join key must include the salt column (the
    whole point — a hot orderkey spreads over SALT_N partitions), and
    the result must equal the plain join's."""
    from pyspark.sql import functions as F

    from reddit_can_bigdata_spark.operators.common import dsum, tables
    from reddit_can_bigdata_spark.operators.relational import (
        j5_salted_skew_join,
    )

    df = j5_salted_skew_join(spark, sf_dir)
    plan = formatted_plan(df)
    assert "salt" in plan, plan  # join/partition keys carry the salt
    t = tables(spark, sf_dir)
    plain = (
        t["orders"]
        .join(t["lineitem"], F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("n_items"), dsum("l_quantity").alias("sum_qty"))
    )
    assert {tuple(r) for r in df.collect()} == {
        tuple(r) for r in plain.collect()
    }


def test_tpch_q6_all_predicates_pushed(spark, sf_dir):
    """Q6 is the pushdown-IS-the-plan query: shipdate range, discount
    band, and quantity cap must all reach the parquet scan."""
    df = REGISTRY["tpch_q6_forecast_revenue"].fn(spark, sf_dir)
    for col in ("l_shipdate", "l_discount", "l_quantity"):
        assert has_pushed_filter(df, col), (col, pushed_filters(df))


def test_tpch_q3_q10_q18_join_strategy(spark, sf_dir):
    """The dimension/qualifying sides must broadcast; no shuffled
    merge join of lineitem against a dim, no cartesian."""
    for name in (
        "tpch_q3_shipping_priority",
        "tpch_q10_returned_items",
        "tpch_q18_large_volume",
    ):
        kinds = join_kinds(REGISTRY[name].fn(spark, sf_dir))
        assert "BroadcastHashJoin" in kinds, (name, kinds)
        assert "SortMergeJoin" not in kinds, (name, kinds)
    plan = formatted_plan(REGISTRY["tpch_q18_large_volume"].fn(spark, sf_dir))
    # aggregate-then-join: the HAVING aggregate must sit BELOW the join
    assert plan.index("HashAggregate") > plan.index("TakeOrderedAndProject")


def test_tpch_q1_single_aggregate_codegen(spark, sf_dir):
    """Q1 must be one scan + one hash aggregate (partial+final), with
    the shipdate filter pushed — no joins, no extra exchanges."""
    from reddit_can_bigdata_spark.plans.inspect import count_exchanges

    df = REGISTRY["tpch_q1_pricing_summary"].fn(spark, sf_dir)
    assert has_pushed_filter(df, "l_shipdate"), pushed_filters(df)
    assert count_exchanges(df) == 1, formatted_plan(df)
    assert not join_kinds(df)


def test_runtime_bloom_filter_join_reduction(spark, sf_dir):
    """The 100 TB shuffle-join saver: with runtime bloom filters on,
    Spark builds a bloom filter from the SELECTIVE join side and
    applies it to the big side's scan — rows that can't match die
    before the shuffle. Asserts (1) the bloom aggregate + probe
    appear in the plan when forced into a shuffle join, (2) results
    are bit-identical to the unfiltered plan."""
    from pyspark.sql import functions as F

    from reddit_can_bigdata_spark.operators.common import tables

    t = tables(spark, sf_dir)
    sel = t["orders"].where(F.col("o_orderpriority") == "1-URGENT").select(
        "o_orderkey", "o_totalprice"
    )
    join = lambda: t["lineitem"].join(
        sel, F.col("l_orderkey") == F.col("o_orderkey")
    )
    baseline = sorted(map(tuple, join().collect()))
    conf = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    old = {k: spark.conf.get(k, None) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        plan = formatted_plan(join())
        assert "bloom_filter_agg" in plan, "runtime bloom filter not injected"
        assert "BloomFilterMightContain" in plan or "might_contain" in plan, plan[:500]
        assert sorted(map(tuple, join().collect())) == baseline
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


# ---------------------------------------------------------------------------
# TPC-H completion (tpch2.py): the plan shapes the canonical suite is for
# ---------------------------------------------------------------------------


def test_q4_exists_plans_semi_join(spark, sf_dir):
    """Q4: EXISTS must compile to a LEFT SEMI join (one output row per
    order regardless of late-line multiplicity), never inner+distinct."""
    df = REGISTRY["tpch_q4_priority_check"].fn(spark, sf_dir)
    assert "LeftSemi" in formatted_plan(df)


def test_q13_keeps_orderless_customers(spark, sf_dir):
    """Q13: the priority filter must live INSIDE the left outer join,
    so the c_count=0 bucket (order-less customers) survives. Both the
    plan (outer join present) and the semantics (0-bucket populated at
    sf0.001, where custkeys outnumber active ones) are pinned."""
    df = REGISTRY["tpch_q13_customer_distribution"].fn(spark, sf_dir)
    assert "LeftOuter" in formatted_plan(df)


def test_q16_not_in_plans_anti_join(spark, sf_dir):
    """Q16: NOT IN over the complaint suppliers must plan a broadcast
    LEFT ANTI join - a shuffle anti join on a 100-row excluded set
    would be pure overhead at scale."""
    plan = formatted_plan(REGISTRY["tpch_q16_supplier_part_counts"].fn(spark, sf_dir))
    assert "LeftAnti" in plan
    assert "BroadcastHashJoin" in plan


def test_q19_quantity_envelope_pushes_to_scan(spark, sf_dir):
    """Q19: the lineitem-only envelope of the three disjunctive
    quantity ranges (1..30) must reach the parquet scan as a pushed
    filter even though the full predicate mixes part columns."""
    df = REGISTRY["tpch_q19_disjunctive_revenue"].fn(spark, sf_dir)
    assert has_pushed_filter(df, "l_quantity"), pushed_filters(df)


def test_q21_window_replaces_self_joins(spark, sf_dir):
    """Q21: the EXISTS + NOT EXISTS pair must NOT plan shuffle
    self-joins of the (order, supplier) table - the window rewrite
    does both checks in one pass, so the only joins left are the
    broadcast semi (orders filter) and broadcast supplier lookup."""
    df = REGISTRY["tpch_q21_waiting_suppliers"].fn(spark, sf_dir)
    plan = formatted_plan(df)
    assert "SortMergeJoin" not in plan, join_kinds(df)
    assert "Window" in plan


def test_q17_aggregates_only_qualifying_parts(spark, sf_dir):
    """Q17: the decorrelated per-part average must compute over the
    brand-filtered lineitem subset (broadcast-joined), not the whole
    table - at 100 TB that is the difference between scanning 0.5%
    and 100% twice. All joins broadcast; no SortMergeJoin."""
    df = REGISTRY["tpch_q17_small_quantity_revenue"].fn(spark, sf_dir)
    kinds = join_kinds(df)
    assert "SortMergeJoin" not in kinds, kinds
    assert "BroadcastHashJoin" in kinds, kinds


def test_aqe_skew_join_splits_hot_partition(spark, sf_dir):
    """The engine's skew story is two-layer: explicit salting
    (j5_salted_skew_join) where the hot key is known, and AQE's
    runtime skew-join split everywhere else. This pins the second
    layer: with a planted 80%-hot key and skew thresholds scaled to
    the fixture, the ADAPTIVE final plan must mark the sort-merge
    join skew=true (hot partition split at runtime), and the result
    must match the non-adaptive run.

    Two trigger conditions discovered the hard way (both are real
    100TB lessons): the skewed side must come from MULTIPLE map
    tasks (AQE splits a reduce partition by map-output block, so a
    single-mapper shuffle is indivisible - hence the repartition),
    and the probe side must not share lineage with the build side
    (a dim derived from the same scan blocked the rewrite)."""
    from pyspark.sql import functions as F

    from reddit_can_bigdata_spark.operators.common import tables

    li = (
        tables(spark, sf_dir)["lineitem"]
        .repartition(16)  # multiple mappers => splittable reduce blocks
        .select(
            F.when(F.col("l_orderkey") % 10 < 8, F.lit(0))
            .otherwise(F.col("l_orderkey"))
            .alias("k"),
            "l_quantity",
        )
    )
    dim = (
        spark.range(0, 70_000)
        .select(F.col("id").alias("k"), (F.col("id") * 2).alias("payload"))
        .repartition(8)
    )
    conf = {
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "2.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "2KB",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "2KB",
        "spark.sql.autoBroadcastJoinThreshold": "-1",  # force SMJ
    }
    old = {k: spark.conf.get(k, None) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        joined = li.join(dim, "k")
        rows = joined.collect()  # action on THIS Dataset finalizes ITS plan
        expected = (len(rows), sum(r["payload"] for r in rows))
        final = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in final, final[:800]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)
    # same result under default confs (AQE split must not change data)
    rows2 = li.join(dim, "k").collect()
    assert (len(rows2), sum(r["payload"] for r in rows2)) == expected


def test_vader_join_path_single_exchange(spark, sf_dir):
    """f13c: the per-doc window and the per-doc groupBy must SHARE one
    hash(_id) exchange (plus the corpus scan side of the two broadcast
    lexicon joins) — a second data shuffle would double the only wide
    stage of the 100 TB text-scoring path."""
    from reddit_can_bigdata_spark.plans.inspect import count_exchanges

    df = REGISTRY["f13c_vader_join_path"].fn(spark, sf_dir)
    plan = formatted_plan(df)
    # lexicon + booster joins broadcast; facts never shuffle for them
    assert "BroadcastHashJoin" in plan
    assert "SortMergeJoin" not in plan, plan
    assert count_exchanges(df) <= 1, plan


def test_lexicon_hit_counts_evaluated_once(spark, sf_dir):
    """f13: the score and label read the ``pos_hits`` / ``neg_hits``
    columns, so the plan holds each hit count's interpreted ``filter``
    lambda once (2), not once per use in the score's CASE (6)."""
    df = REGISTRY["f13_lexicon_sentiment_distribution"].fn(spark, sf_dir)
    plan = formatted_plan(df)
    assert plan.count("filter(") == 2, plan


def test_decode_pixel_stats_single_python_crossing(spark, sf_dir):
    """multimodal_decode_pixel_stats: payload synthesis stays JVM-side
    (Project under the Python node); exactly ONE Arrow crossing, no
    shuffle at all — decode is a narrow map."""
    from reddit_can_bigdata_spark.plans.inspect import count_exchanges

    df = REGISTRY["multimodal_decode_pixel_stats"].fn(spark, sf_dir)
    plan = formatted_plan(df)
    # count tree NODES ("MapInPandas (n)"), not raw substring hits —
    # the formatted details section repeats the operator name
    assert plan.count("MapInPandas (") == 1, plan
    assert count_exchanges(df) == 0, plan


def test_scd2_asof_join_shares_user_partitioning(spark, sf_dir):
    """scd2_point_in_time_join: the SCD2 window build and the AS-OF
    join both key on user_id — the plan must not re-shuffle the
    dimension between them (window exchange reused by the join)."""
    from reddit_can_bigdata_spark.plans.inspect import count_exchanges

    df = REGISTRY["scd2_point_in_time_join"].fn(spark, sf_dir)
    # events side + dimension side each shuffle once on user_id; the
    # window's exchange must serve the join (no third data exchange)
    assert count_exchanges(df) <= 2, formatted_plan(df)


def test_null_guard_filters_push_to_scan(spark, sf_dir):
    """The NULL-semantics pins (embedding IS NOT NULL on every
    distance path, ts IS NOT NULL on event-time series) must stay
    scan-level DataFilters — pushed into the parquet reader, not
    evaluated post-join where they'd ship NULL rows through the
    shuffle first."""
    df = REGISTRY["sim_topk_bruteforce"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "isnotnull(embedding" in plan, plan
    df2 = REGISTRY["sessionize_events"].fn(spark, sf_dir)
    plan2 = df2._jdf.queryExecution().executedPlan().toString()
    assert "isnotnull(ts" in plan2, plan2


def test_rrf_arms_take_ordered_never_shuffle_corpus(spark, sf_dir):
    """retrieve_hybrid_rrf: each retrieval arm must finish in
    per-partition heaps (TakeOrderedAndProject at pool depth) so the
    corpus is never globally sorted (no rangepartitioning exchange)
    nor key-shuffled (no hashpartitioning exchange at all — the
    50-row fusion lists go through SinglePartition exchanges, and
    the deliberate ``spread()`` round-robins are input balancing,
    not data movement keyed on corpus columns); the broadcast of the
    stats/query rows must never degrade to a CartesianProduct."""
    df = REGISTRY["retrieve_hybrid_rrf"].fn(spark, sf_dir)
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert plan.count("TakeOrderedAndProject") >= 3, plan
    assert "CartesianProduct" not in plan, plan
    assert "rangepartitioning" not in plan, plan
    assert "hashpartitioning" not in plan, plan


def test_dash_posts_explorer_pushdown_and_topk(spark, sf_dir):
    """Round 8, serving catalog: both widget predicates (source
    equality, n_chars floor) must reach the parquet scan, and the
    head-15 must be TakeOrderedAndProject — an interactive page query
    that globally sorted 100 TB would be a disaster."""
    df = REGISTRY["dash_posts_explorer"].fn(spark, sf_dir)
    assert has_pushed_filter(df, "source"), pushed_filters(df)
    assert has_pushed_filter(df, "n_chars"), pushed_filters(df)
    assert "TakeOrderedAndProject" in formatted_plan(df)


def test_dash_stats_timeline_range_pushdown(spark, sf_dir):
    """Round 8: the date-range widget must prune at the scan (the
    partition-pruning shape at 100 TB)."""
    df = REGISTRY["dash_stats_timeline"].fn(spark, sf_dir)
    assert has_pushed_filter(df, "ts"), pushed_filters(df)
