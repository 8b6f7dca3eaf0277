"""Regenerate PLANS.md: formatted physical plans for representative
queries, with the plan properties each one demonstrates.

Usage: python tools/dump_plans.py [sf_dir]
"""

from __future__ import annotations

import os
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from reddit_can_bigdata_spark.plans.inspect import formatted_plan
from reddit_can_bigdata_spark.registry import REGISTRY, _ensure_loaded
from reddit_can_bigdata_spark.session import get_spark

SHOWCASE = {
    "p7_p8_interactive_filter": "Predicate pushdown: both filters appear in PushedFilters; ReadSchema is 3 columns.",
    "a4_multi_agg_rollup": "Broadcast dimension join + partial/final hash aggregate — no shuffle of the fact side.",
    "j2_fk_join_rollup": "Co-partitioned join; the groupBy reuses the join partitioning (no third exchange).",
    "w1_global_topk": "TakeOrderedAndProject — per-partition heaps, no global sort.",
    "a13_user_activity_rollup": "Aggregate-before-join: both inputs reduce to user-counts before the full-outer join.",
    "multiway_region_revenue": "Three-level broadcast dimension chain inside one codegen stage.",
    "dedup_minhash_lsh": "LSH banding: candidate pairs come from an equi-join on (band, band_key) — no all-pairs stage.",
    "sim_topk_bruteforce": "Broadcast query vector; scan is embarrassingly parallel, finishes in a top-k heap.",
    "dedup_clusters": "LSH candidate pairs feed a min-label component loop; the per-round state join carries the broadcast-ceiling guard.",
    "g3b_betweenness_sampled": "Sampled Brandes, tiered: dense multi-source BLAS kernel under V<=4096, executor mapInArrow kernel under the broadcast gate, distributed level-synchronous loop (state O(K*N)) above - bench scale shows the dense tier's LocalTableScan plan.",
    "sim_sq_quantized_topk": "Int8 scalar quantization: 1-row scale table + query vector broadcast; corpus scanned once into a top-k heap.",
    "curate_token_budget": "Mixture realization: source-level weight aggregate broadcast back; one window cumsum per source (<=3 exchanges).",
    "f13c_vader_join_path": "VADER via broadcast-lexicon join: size-aware keyed repartition feeds posexplode + two broadcast joins + lag windows + the groupBy re-sum through ONE data exchange.",
    "pipeline_gate_report": "Orchestration gates: four 1-row aggregates glued by broadcast nested-loop joins - no data-sized shuffle.",
    "pretrain_bloom_decontaminate": "Bloom decontamination: eval grams collapse to one broadcast bitmap row; corpus membership is a codegen map over exploded gram rows, folded back per doc by one map-side-partial aggregate (no shuffled joins).",
    "dedup_passages": "Passage dedup: one shuffle on md5(passage) for the first-occurrence window, one back on doc_id to reassemble — no corpus-sized joins.",
    "sim_semantic_dedup": "SemDeDup: broadcast codebook assignment, then a cid-keyed self-join — pairwise work bounded by cluster size.",
    "pretrain_gopher_repetition": "Five repetition metrics from ONE tagged (n, gram) explode and two hash aggregates — no joins, no windows.",
    "curate_dsir_logweight": "DSIR: constant 1024-bucket histograms; the log-ratio model broadcasts back onto the gram stream (BroadcastHashJoin).",
    "text_bm25_topk": "BM25: two 1-row stat aggregates broadcast back; scoring is a narrow map finishing in TakeOrderedAndProject heaps.",
    "j5_salted_skew_join": "Explicit salting: join keys carry (key, salt); the build side is the exploded 8x replica.",
    "dedup_incremental_batch": "Incremental dedup: md5-equality and LSH band probes are both hash equi-joins; no all-pairs stage.",
    "pretrain_bigram_logprob": "Bigram LM: model assembled via broadcast unigram joins; doc stream shuffle-joins the model on the bigram key.",
    "sim_ivfpq_search": "IVF-PQ: residual codes from broadcast codebooks; query's distance table broadcasts; candidates confined to probed cells by the cid equi-join.",
    "text_pmi_collocations": "PMI: vocabulary-sized unigram marginals broadcast onto the bigram counts; scalar totals ride 1-row broadcasts; TakeOrderedAndProject finish.",
    "curate_quality_classifier": "Hashed-linear classifier: constant-size model broadcast onto the gram stream; exact DECIMAL weight pooling in one doc_id aggregate.",
    "curate_weighted_sample": "Efraimidis-Spirakis weighted sample: narrow map + TakeOrderedAndProject, zero Exchange nodes.",
    "gapfill_interpolate_daily": "Gap-fill: per-user spine explode + left join + two frame-bounded ignorenulls window passes.",
    "g11_link_prediction": "Backbone + link prediction: percentile from the weight HISTOGRAM (tiny), two-path self-join on the thresholded graph, LEFT ANTI adjacency drop.",
    "session_window_agg": "Native session_window: one shuffle on user_id; sessions merged per key in a single UpdatingSessions pass.",
    "pretrain_bpe_pair_counts": "BPE hot step: corpus collapses to the vocabulary; pair counts are a vocab-sized explode + hash aggregate into top-k heaps.",
    "pretrain_eval_containment": "Containment decontam: eval shingles broadcast; the shingle equi-join IS the blocking; one (doc, eval) pair aggregate.",
    "tpch_q18_large_volume": "Q18 aggregate-then-join: HAVING shrinks lineitem to qualifying orders below the joins; qualifying set broadcasts.",
    "tpch_q1_pricing_summary": "Q1: pushed shipdate filter; ONE partial+final hash aggregate computes all eight measures (single exchange).",
    "skew_profile_orderkey": "Skew profiler: key-grain aggregate + 1-row stats broadcast + TakeOrdered — costs one shuffle of key-count rows at any table size.",
    "tpch_q8_market_share": "Q8: seven relations, every dimension broadcast; lineitem unshuffled until the year-grain aggregate.",
    "tpch_q5_local_supplier_volume": "Q5: the non-FK locality predicate (s_nationkey = c_nationkey) evaluates inside the broadcast supplier join; only lineitem/orders shuffle, both on orderkey.",
    "tpch_q13_customer_distribution": "Q13: the priority filter lives INSIDE the LeftOuter join condition (c_count=0 customers survive); histogram re-aggregation is row-count-free.",
    "tpch_q17_small_quantity_revenue": "Q17: correlated per-part AVG decorrelated over the brand-filtered broadcast subset; all joins broadcast, aggregate-before-join.",
    "tpch_q21_waiting_suppliers": "Q21: EXISTS + NOT EXISTS compiled to ONE window pass over the (order, supplier) aggregate — no self-join shuffles; broadcast semi + lookup only.",
    "w_rolling_7d_revenue": "Rolling 7d: RANGE frame over day numbers on a daily pre-aggregate — the window never sees row-grain data.",
    "sim_pca_project": "PCA serving path: 4-row basis broadcasts (BroadcastNestedLoopJoin); per-vector score is one fused fold; zero shuffles.",
    "approx_sample_revenue_ci": "Error-bounded estimate: sample membership + both moments + exact total in ONE conditional aggregate over a single scan.",
    "multimodal_header_sniff": "Binary round-trip: hex-assembled payloads parsed back by substring/conv expressions inside codegen — no Python, no shuffle.",
    "retrieve_hybrid_rrf": "Hybrid RRF: both retrieval arms end in TakeOrderedAndProject at pool depth; zero corpus-keyed exchanges; fusion joins two 50-row lists.",
    "sim_ivf_recall_at_k": "Recall@k: ground-truth and IVF arms share one broadcast query batch; the intersection joins two (Q x k)-row lists.",
    "curate_pack_tar_shards": "Tar shard packing: one hash shuffle on shard_id, one Arrow group per shard; tar size verified against pure arithmetic.",
    "multimodal_audio_pcm_stats": "Audio round-trip: little-endian WAV synthesis in codegen; only the decode crosses to Python, Arrow-batched.",
    "dedup_lsh_quality": "LSH quality metric: both arms are the scale-shaped dedup queries; the precision/recall join touches only surviving pairs.",
    "dedup_cluster_split": "Leakage-safe split: canonical-id hash on top of the cluster build — no new shuffle beyond dedup_clusters.",
    "cusum_changepoint_daily": "CUSUM via the prefix-sum identity: two ordered-frame window passes over a days-sized aggregate, no recursion.",
    "dash_posts_explorer": "Serving-catalog explorer: both widget predicates in PushedFilters; head-15 is TakeOrderedAndProject — an interactive page costs one pruned scan.",
    "dash_stats_timeline": "Date-range widget: the [start, end) predicate prunes at the scan (partition-pruning shape); day/type rollup in one exchange.",
    "dash_community_summary": "Community block, kernel tier: labels, degrees and engagement arrive as one |V|-row local table read off the collected CSR (no edge-sized operator left in the plan); the summary is a |C|-sized aggregate into a top-10 heap.",
    "sim_kmeans_lloyd": "Oracle-checkable Lloyd training: per round a K-row centroid broadcast argmin (corpus-linear, no corpus shuffle) + a (cid,dim)-keyed DECIMAL sum; rounds lineage-truncated.",
    "warehouse_scd1_upsert": "MERGE as a query: last-write-wins window over the update batch + key-only LEFT ANTI against the base — the base side is never aggregated or widened.",
    "pretrain_pack_firstfit": "No-split packing: column-pruned (doc_id, n_tokens) per shard through ONE Arrow crossing (FlatMapGroupsInPandas); bin state is two ints.",
    "sim_ivf_balance": "IVF balance: broadcast argmin assignment + K-row counts; the scalar totals ride a 1-row broadcast back onto K rows.",
    "curate_epoch_plan": "Epoch planning: corpus scanned once into a |sources|-row aggregate; all planning arithmetic in a window over that tiny table.",
    "text_readability": "Flesch scoring: single codegen stage, zero Exchange nodes — corpus-linear quality signal.",
    "layout_partitioned_timeline": "Partitioned-layout read: the widget's [start, end) range sits in PartitionFilters — ten day-directories scanned, not the table.",
    "maint_backfill_overwrite": "Backfill verification readback: the week window prunes partitions; the overwrite itself touched one day= directory (dynamic mode).",
    "maint_compaction": "Compaction rollup: round-robin rebalance (no shuffle key) then one partial/final aggregate over the compacted scan.",
    "streaming_pyds_source": "Python streaming source round trip: per-file partition reads feed a foreachBatch parquet sink; the rollup is one exchange over the sink scan.",
    "multimodal_phash_dedup": "Perceptual dedup: image synthesis in codegen, one Arrow crossing for decode+aHash, one hash exchange on the 64-bit fingerprint for the canonical window.",
    "layout_incremental_ingest": "Incremental ingest readback: history partitions reused byte-untouched (build-once), the new day landed as ONE directory; the boundary window sits in PartitionFilters.",
    "layout_zorder_pruned_scan": "Z-order serve: both range predicates in PushedFilters; Morton-clustered files give tight min/max in BOTH columns, so the conjunction skips most row groups.",
    "maint_crash_recovery": "Recovered-table rollup: the promoted generation scans like any parquet table — recovery itself was two O(1) renames, no data pass.",
}


def main() -> None:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    _ensure_loaded()
    spark = get_spark("plans", shuffle_partitions=8)
    spark.sparkContext.setLogLevel("ERROR")

    out = [
        "# PLANS — formatted physical plans for representative queries",
        "",
        f"Generated by `python tools/dump_plans.py` at `{sf_dir}`.",
        "These are the plans the PERF.md claims refer to; the load-bearing",
        "properties are additionally asserted in `tests/test_plan_quality.py`.",
        "",
    ]
    for name, why in SHOWCASE.items():
        df = REGISTRY[name].fn(spark, sf_dir)
        out += [f"## {name}", "", why, "", "```", formatted_plan(df).strip(), "```", ""]
    Path(__file__).resolve().parent.parent.joinpath("PLANS.md").write_text("\n".join(out))
    print("wrote PLANS.md")
    spark.stop()


if __name__ == "__main__":
    main()
