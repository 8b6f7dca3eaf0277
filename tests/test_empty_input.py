"""Empty-input degradation: queries must return well-defined results
(not stack traces) when every table has zero rows, and must still agree
with their DuckDB oracles there.

This pins the fix for the round-5 empty-input fuzz findings
(``tools/oracle_check.py empty``): seven Spark-side crashes (ANSI
DIVIDE_BY_ZERO in graph density / clustering / funnel percentages,
Python ``1/N`` and ``int(None)`` in PageRank / k-core / the influencer
composites) and the three ROLLUP/CUBE queries where Spark emits no
grand-total row on empty input while the SQL standard (and DuckDB)
emits one — repaired scan-free by ``common.standard_grand_total``.

The whole-registry fuzz stays a tool; this suite re-runs just the
queries that ever failed one of its tree axes, each through the tool's
own per-query check, so the classes stay pinned cheaply.
"""

from __future__ import annotations

import pytest

from reddit_can_bigdata_spark import registry
from tools.oracle_check import check, duck_views, norm, tree_dir

FIXED = [
    "g8_graph_metadata",
    "g9_triangles_clustering",
    "g6_pagerank",
    "g12_kcore",
    "funnel_conversion",
    "influencer_composite_top20",
    "rollup_priority_status",
    "cube_priority_status",
    "hypertable_rollup",
    # one conditional count per table over a union of the scans: zero
    # rows must count 0, not NULL
    "a7_table_counts",
]

SINGLE_ROW_FIXED = [
    # LIMIT-1 fuzz finding: min-max normalization over a single user
    # (max == min) divided by zero — must yield NULL on both engines
    "w5_w6_normalized_composite",
]

# NULL-injection fuzz findings (oracle_check nulls): the 19
# queries that ever diverged when every 5th row of each non-key column
# is NULL. Classes fixed: NULL embeddings (DuckDB list_reduce raises
# where Spark yields NULL — both sides now filter), NULL event times
# (engines' window null-ordering defaults differ — both sides now
# exclude), NULL group names at a LIMIT boundary (explicit NULLS LAST),
# null-safe SCD2 change detection (IS DISTINCT FROM / eqNullSafe),
# UNPIVOT INCLUDE NULLS, a zero-weight EWMA window (try_divide), and
# (round 8) a NULL shard key breaking the pack-firstfit oracle's
# recursive chain after rn=1 (= vs IS NOT DISTINCT FROM — Spark's
# groupBy treats NULL as one group).
NULLS_FIXED = [
    "pretrain_pack_firstfit",
    "sim_topk_bruteforce",
    "dedup_embedding_lsh",
    "sim_knn_join",
    "sim_semantic_dedup",
    "ewma_anomaly_daily",
    "streaming_windowed_counts",
    "sessionize_events",
    "session_window_agg",
    "w_lag_daily_change",
    "tpch_q21_waiting_suppliers",
    "scd2_user_event_type",
    "scd2_point_in_time_join",
    "unpivot_lineitem_measures",
    # NULL cells are rows to the conditional counts
    "a7_table_counts",
]

# Adversarial-Unicode fuzz findings (oracle_check textfuzz):
# the queries that diverged on hostile text. Root cause was the İ/U+0130
# case mapping (Java's full mapping expands to 'i'+U+0307, DuckDB's
# simple mapping gives 'i') — both sides now collapse exactly that
# artifact ('i'+U+0307 -> 'i') after lowercasing, leaving genuine
# combining marks (Indic matras, Arabic points) intact in both engines.
TEXTFUZZ_FIXED = [
    "f1_clean_text_etl",
    "text_bpeish_token_count",
    # round 6: syllable runs would split on 'i'+U+0307 in Spark only
    "text_readability",
]


@pytest.fixture(scope="module")
def ducks():
    """One DuckDB connection per derived tree, opened on first use."""
    cons = {}

    def get(tree):
        if tree not in cons:
            cons[tree] = duck_views(tree_dir(tree))
        return cons[tree]

    yield get
    for con in cons.values():
        con.close()


def _matches_oracle_on(tree, names):
    """One test over ``names`` on one derived tree: the whole-registry
    tool's own per-query check, which must say OK."""

    @pytest.mark.parametrize("name", names)
    def test(spark, ducks, name):
        status, detail = check(spark, name, tree_dir(tree), duck=ducks(tree))
        assert status == "OK", f"{name} on {tree}: {detail}"

    return test


test_empty_input_matches_oracle = _matches_oracle_on("empty", FIXED)
# the n=1 slice exercises the single-sample edge (degenerate
# normalization ranges, stddev/percentile of one) that neither the
# empty fuzz nor full-SF parity reaches
test_single_row_input_matches_oracle = _matches_oracle_on("limit1", SINGLE_ROW_FIXED)
test_null_injected_input_matches_oracle = _matches_oracle_on("nulls", NULLS_FIXED)
test_adversarial_text_matches_oracle = _matches_oracle_on("textfuzz", TEXTFUZZ_FIXED)


def test_normal_form_keeps_column_names_and_reprs():
    """Column order does not matter, column names do, and cells compare
    by repr, so an integer and an equal float differ."""
    assert norm(["a", "b"], [(1, "x")]) == norm(["b", "a"], [("x", 1)])
    assert norm(["a", "b"], [(1, "x")]) != norm(["a", "c"], [(1, "x")])
    assert norm(["a"], [(1,)]) != norm(["a"], [(1.0,)])


def test_grand_total_row_values(spark):
    """The SQL-standard () grouping set on empty input: COUNT 0, sums
    NULL, all group columns NULL — exactly one row."""
    registry._ensure_loaded()
    rows = registry.REGISTRY["rollup_priority_status"].fn(spark, tree_dir("empty")).collect()
    assert len(rows) == 1
    r = rows[0].asDict()
    assert r["cnt"] == 0
    assert r["total_price"] is None
    assert r["o_orderpriority"] is None and r["o_orderstatus"] is None
