"""One join-strategy policy: the session's AQE and
``autoBroadcastJoinThreshold`` choose every join strategy, and a
``F.broadcast`` or ``.hint`` call stays in the package only where a
stated reason says the threshold cannot. The guard reads calls from
the syntax tree, so prose that mentions ``F.broadcast(...)`` does not
trip it; the plan test checks that no fact table is broadcast once it
outgrows the threshold."""

from __future__ import annotations

import ast
import re
from collections import Counter
from pathlib import Path

import pytest

PKG = Path(__file__).resolve().parent.parent / "reddit_can_bigdata_spark"

#: (file under the package, top-level def) -> (hint calls, why the
#: threshold cannot choose there)
ALLOWED: dict[tuple[str, str], tuple[int, str]] = {
    ("operators/graph.py", "_join_state"): (
        2,
        "the loops' state-join size gate: below STATE_BROADCAST_MAX_ROWS the"
        " broadcast is of a state the planner cannot size (a checkpoint or a"
        " join output: without it dedup_clusters plans one more Exchange per"
        " round on the loop tier); above it the shuffle-hash hint keeps the"
        " co-partitioned join where the planner would broadcast or sort-merge",
    ),
    ("operators/graph.py", "_brandes_forward"): (
        1,
        "the pull level's frontier-key gate: the probe side is |missing|·deg"
        " rows and must not shuffle; the frontier is a checkpoint, so below"
        " STATE_BROADCAST_MAX_ROWS only the hint broadcasts it",
    ),
    ("operators/graph.py", "_brandes_backward"): (
        1,
        "the same level gate on the successor-side expansion: the level is a"
        " checkpoint and the expanded side must not shuffle",
    ),
    ("operators/advanced.py", "_bfs_distances"): (
        4,
        "the pull round: the frontier-key gate (broadcast under"
        " STATE_BROADCAST_MAX_ROWS, shuffle-hash above) and the two |V|-row"
        " degree tables, aggregates the planner sizes as the edge table; the"
        " |missing|·deg probe side must stay unshuffled",
    ),
    ("operators/pretrain.py", "pretrain_decontaminate"): (
        2,
        "the DECONTAM_BROADCAST_MAX_GRAMS gate: above it the hint keeps a"
        " ShuffledHashJoin where the planner, hints off, picks a broadcast or"
        " sort-merge join (test_decontaminate_shuffle_fallback_above_ceiling)",
    ),
    ("operators/pretrain.py", "pretrain_eval_containment"): (
        2,
        "the pretrain_decontaminate gate over the eval shingles",
    ),
    ("operators/graph.py", "g7c_modularity"): (
        3,
        "loop tier: the community tables are label-propagation checkpoints"
        " joined to the edge list; without any one of the three hints the"
        " final plan has one more Exchange (sf0.01 loop-tier census)",
    ),
    ("operators/extras.py", "robust_mad_by_type"): (
        1,
        "the group medians are a percentile aggregate the planner sizes as the"
        " events scan; without the hint the joins and Exchanges of the final"
        " plan change (sf0.01 and sf0.1 census)",
    ),
    ("operators/similarity.py", "_register_mrl_recall"): (
        1,
        "the 3-row dims table: without the hint the planner sizes the cross"
        " join as a product and plans CartesianProducts for two"
        " BroadcastNestedLoopJoins (sf0.01 and sf0.1)",
    ),
    ("operators/similarity.py", "sim_pq_adc_topk"): (
        1,
        "the query's distance table is a window result the planner sizes as"
        " the codes table; without the hint the final plan has one more"
        " Exchange (sf0.01 and sf0.1)",
    ),
    ("operators/similarity.py", "sim_sq_quantized_topk"): (
        1,
        "the 1-row query vector: without the hint the sf0.1 plan crosses it"
        " in a CartesianProduct, not a BroadcastNestedLoopJoin",
    ),
    ("operators/pretrain.py", "pretrain_bigram_logprob"): (
        1,
        "the first unigram-model join: without it the sf0.1 plan broadcasts"
        " one more table; the other model joins plan the same without hints",
    ),
    ("operators/tpch2.py", "tpch_q2_min_cost_supplier"): (
        2,
        "the filtered-supplier join and the per-part minimum cost are join and"
        " aggregate outputs the planner sizes as products; without either hint"
        " the final plan has 1-3 more Exchanges, and without both q2 ran"
        " slower at sf0.1 in 3 of 3 same-session pairs",
    ),
    ("operators/tpch2.py", "tpch_q17_small_quantity_revenue"): (
        1,
        "the per-part average quantity is an aggregate the planner sizes as"
        " lineitem; without the hint the final plan has one more Exchange and"
        " q17 used more cpu-s at sf0.1 in 3 of 3 same-session pairs",
    ),
    ("operators/tpch2.py", "tpch_q20_potential_promotion"): (
        1,
        "the qualifying (supplier, part) aggregate is sized as lineitem by the"
        " planner; without the hint the final plan has one more Exchange and"
        " q20 ran slower at sf0.1 in 3 of 3 same-session pairs",
    ),
    ("operators/relational.py", "a11_share_above_p90"): (
        1,
        "the 1-row p90 scalar: without the hint the final plan changes (one"
        " Exchange fewer) and a11 ran slower at sf0.1 in 2 of 3 same-session"
        " pairs, so the change is not shown to be free",
    ),
    ("operators/textstats.py", "text_pmi_collocations"): (
        1,
        "the first unigram-marginal join: without it the sf0.1 plan"
        " broadcasts one more table; the second marginal and both scalar"
        " totals plan the same without hints",
    ),
}


def _hint_calls(source: str) -> Counter:
    """Top-level def -> number of ``F.broadcast(...)`` and ``.hint(...)``
    calls in it (``sparkContext.broadcast`` ships a value, not a join
    side, and is not counted)."""
    found: Counter = Counter()
    for top in ast.parse(source).body:
        for node in ast.walk(top):
            if not (isinstance(node, ast.Call) and isinstance(node.func, ast.Attribute)):
                continue
            f = node.func
            if f.attr == "hint" or (
                f.attr == "broadcast" and isinstance(f.value, ast.Name) and f.value.id == "F"
            ):
                found[getattr(top, "name", "<module>")] += 1
    return found


def test_guard_reads_calls_not_text():
    src = '''
def f(df, small, sc):
    """A docstring may say F.broadcast(small) or small.hint("shuffle_hash")."""
    # so may a comment: F.broadcast(small)
    bc = sc.broadcast([1, 2])
    return df.join(F.broadcast(small), "k").join(small.hint("merge"), "k")


def g(df):
    return df
'''
    assert _hint_calls(src) == Counter({"f": 2})


def test_every_hint_is_allowlisted_with_its_reason():
    found = {
        (str(path.relative_to(PKG)), owner): n
        for path in sorted(PKG.rglob("*.py"))
        for owner, n in _hint_calls(path.read_text()).items()
    }
    unlisted = {
        site: n for site, n in found.items() if n != ALLOWED.get(site, (0, ""))[0]
    }
    assert not unlisted, (
        f"join hints the allowlist does not list at this count: {unlisted}"
        " (delete the hint and let the session's threshold choose, or list it"
        " with the reason the threshold cannot)"
    )
    stale = set(ALLOWED) - set(found)
    assert not stale, f"stale allowlist entries: {stale}"
    assert all(reason.strip() for _, reason in ALLOWED.values())


# --- no forced broadcast of a fact table ---------------------------------

#: 64 MB at sf20 is 32 KB at sf0.01: with this threshold the sf0.01
#: tree stands in for one 2048x larger, in which every table above it
#: (lineitem, orders, customer) is too large to broadcast
SCALED_THRESHOLD = 32 * 1024
#: plan nodes that keep a broadcast side the base table it scans
_PASS_THROUGH = ("Filter", "Project", "ColumnarToRow")


def _broadcast_scans(plan: str) -> set[str]:
    """Base tables a formatted physical plan broadcasts as such: a
    BroadcastExchange over only a scan and its filters and projections
    (the static plan: AQE has not run a stage yet). A broadcast of an
    aggregate or a join output is sized by its own rows, not the
    table's."""
    tree, _, details = plan.partition("\n\n(")
    paths = dict(
        re.findall(r"\((\d+)\) Scan parquet.*?\nLocation: \w+ \[(?:file:)?(.*?)\]",
                   "(" + details, re.S)
    )
    lines = tree.splitlines()
    found = set()
    for i, line in enumerate(lines):
        m = re.search(r"BroadcastExchange \(\d+\)", line)
        if not m:
            continue
        below = []
        for nxt in lines[i + 1:]:
            at = re.search(r"[A-Za-z]", nxt)
            if at is None or at.start() <= m.start():
                break
            below.append(nxt[at.start():])
        scans = [re.match(r"Scan parquet\s+\((\d+)\)", node) for node in below]
        if all(s or node.startswith(_PASS_THROUGH) for s, node in zip(scans, below)):
            found |= {Path(paths[s.group(1)]).stem for s in scans if s and s.group(1) in paths}
    return found


def test_broadcast_scans_reads_direct_table_broadcasts():
    plan = """== Physical Plan ==
AdaptiveSparkPlan (12)
+- BroadcastHashJoin Inner BuildRight (11)
   :- BroadcastHashJoin Inner BuildRight (7)
   :  :- Scan parquet  (1)
   :  +- BroadcastExchange (6)
   :     +- * Filter (5)
   :        +- * ColumnarToRow (4)
   :           +- Scan parquet  (3)
   +- BroadcastExchange (10)
      +- HashAggregate (9)
         +- Scan parquet  (8)


(1) Scan parquet
Location: InMemoryFileIndex [file:/t/customer.parquet]

(3) Scan parquet
Location: InMemoryFileIndex [file:/t/orders.parquet]

(8) Scan parquet
Location: InMemoryFileIndex [file:/t/lineitem.parquet]
"""
    assert _broadcast_scans(plan) == {"orders"}


def _relational_queries() -> list[str]:
    from reddit_can_bigdata_spark.registry import REGISTRY, _ensure_loaded

    _ensure_loaded()
    modules = {"tpch", "tpch2", "relational"}
    return sorted(
        name for name, spec in REGISTRY.items()
        if spec.fn.__module__.rsplit(".", 1)[-1] in modules
    )


def _size(path: Path) -> int:
    files = [path] if path.is_file() else [f for f in path.rglob("*") if f.is_file()]
    return sum(f.stat().st_size for f in files)


@pytest.mark.parametrize("name", _relational_queries())
def test_no_hint_broadcasts_a_fact_table(name, spark, sf001_dir):
    """Spark obeys a broadcast hint whatever the table's size, so a hint
    on a table that grows with SF collects it to the driver at cluster
    scale. With the threshold lowered to stand in for a larger tree, the
    tables above it are fact tables, and the static plan broadcasts one
    only where the planner does so with hints disabled."""
    from test_oracle_parity import _conf

    from reddit_can_bigdata_spark.plans.inspect import formatted_plan
    from reddit_can_bigdata_spark.registry import REGISTRY

    facts = {p.stem for p in Path(sf001_dir).glob("*.parquet") if _size(p) > SCALED_THRESHOLD}
    assert {"lineitem", "orders", "customer"} <= facts, facts

    def broadcast_facts(hints: bool) -> set[str]:
        confs = {
            "spark.sql.autoBroadcastJoinThreshold": str(SCALED_THRESHOLD),
            "spark.sql.optimizer.disableHints": str(not hints).lower(),
        }
        with _conf(spark, **confs):
            plan = formatted_plan(REGISTRY[name].fn(spark, sf001_dir))
        return _broadcast_scans(plan) & facts

    assert broadcast_facts(hints=True) == broadcast_facts(hints=False)
