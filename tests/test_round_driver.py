"""One round driver for the loop tier: every distributed fixpoint loop
in `operators/` passes its step to `operators.common.fixpoint`, which
owns the per-round materialize, the progress count, early exit, the
round record and the unconverged error. The guards read the syntax
tree, so prose that mentions ``.count()`` does not trip them; the job
pins count the Spark jobs each driven loop adds per round."""

from __future__ import annotations

import ast
from pathlib import Path

import pytest
from pyspark.sql import functions as F

from reddit_can_bigdata_spark.operators.graphkernel import GRAPH_KERNEL_MAX_EDGES_CONF

PKG = Path(__file__).resolve().parent.parent / "reddit_can_bigdata_spark"
OPERATORS = PKG / "operators"
DRIVER = ("common.py", "fixpoint")

#: loops that keep their own per-round materialize or count, with why
ALLOWED = {
    ("graph.py", "_brandes_backward"): (
        "a fold over the forward pass's known levels, deepest first: its"
        " length is fixed by the input list, so there is no budget, no"
        " fixed-point test and no early exit; it materializes each level"
        " and counts nothing (the forward pass's counts size its push/pull"
        " choice)"
    ),
}


def _round_calls(source: str) -> list[tuple[str, int, str]]:
    """(enclosing def, line, call) for each ``materialize`` reference or
    zero-argument ``.count()`` inside a ``for`` or ``while`` body."""
    hits = []

    def visit(node: ast.AST, owner: str, in_loop: bool) -> None:
        for child in ast.iter_child_nodes(node):
            if isinstance(child, (ast.FunctionDef, ast.AsyncFunctionDef, ast.Lambda)):
                name = getattr(child, "name", owner)
                visit(child, name, in_loop and isinstance(child, ast.Lambda))
                continue
            if in_loop and isinstance(child, ast.Name) and child.id == "materialize":
                hits.append((owner, child.lineno, "materialize"))
            if (
                in_loop
                and isinstance(child, ast.Call)
                and isinstance(child.func, ast.Attribute)
                and child.func.attr == "count"
                and not child.args
                and not child.keywords
            ):
                hits.append((owner, child.lineno, ".count()"))
            visit(child, owner, in_loop or isinstance(child, (ast.For, ast.While)))

    visit(ast.parse(source), "<module>", False)
    return hits


def test_guard_reads_calls_not_text():
    src = '''
def f(df, step):
    """A docstring may say: for r in rounds: df.count()."""
    for _ in range(3):
        # so may a comment: materialize(df)
        df = step(df).transform(materialize)
        n = df.count()
        m = df.count(1)
    def g(r):
        return r.count()
    return df
'''
    assert _round_calls(src) == [("f", 6, "materialize"), ("f", 7, ".count()")]


def test_loops_go_through_the_one_driver():
    stray, allowed_seen = [], set()
    for path in sorted(OPERATORS.glob("*.py")):
        for owner, line, call in _round_calls(path.read_text()):
            if (path.name, owner) == DRIVER:
                continue
            if (path.name, owner) in ALLOWED:
                allowed_seen.add((path.name, owner))
                continue
            stray.append(f"operators/{path.name}:{line} {owner}: {call}")
    assert not stray, (
        f"{len(stray)} per-round materialize/count calls outside "
        f"common.fixpoint (pass the loop's step to the driver): {stray}"
    )
    assert allowed_seen == set(ALLOWED), (
        f"stale allowlist entries: {set(ALLOWED) - allowed_seen}"
    )


def test_the_driver_materializes_and_counts_inside_its_loop():
    """The guard skips exactly one loop: the driver's own."""
    calls = _round_calls((OPERATORS / DRIVER[0]).read_text())
    assert {(o, c) for o, _, c in calls} == {
        ("fixpoint", "materialize"),
        ("fixpoint", ".count()"),
    }, calls


def test_no_thread_active_session_lookup():
    """A pool thread has no active session (`getActiveSession` returns
    None there): the package takes the caller's session instead."""
    found = [
        f"{path.relative_to(PKG.parent)}:{node.lineno}"
        for path in sorted(PKG.rglob("*.py"))
        for node in ast.walk(ast.parse(path.read_text()))
        if (isinstance(node, ast.Attribute) and node.attr == "getActiveSession")
        or (isinstance(node, ast.Name) and node.id == "getActiveSession")
    ]
    assert not found, found


# --- jobs per round ------------------------------------------------------

N = 12  # the path 0-1-...-11: no loop below reaches its fixed point early
#: a registered graph query on its distributed loop: the kernel gate off
LOOP_TIER = {GRAPH_KERNEL_MAX_EDGES_CONF: "0"}


def _path_sym(spark, weighted: bool = False):
    pairs = [(i, i + 1) for i in range(N - 1)]
    rows = pairs + [(v, u) for u, v in pairs]
    sym = spark.createDataFrame(rows, "src long, dst long")
    return sym.withColumn("w", F.lit(1.0)) if weighted else sym


def _loops(spark, sf_dir, monkeypatch):
    """name -> run(r): one call of the loop with r rounds."""
    from test_oracle_parity import _conf

    from reddit_can_bigdata_spark.operators import advanced, graph, similarity

    def registered(mod, const, fn, **confs):
        def run(r):
            monkeypatch.setattr(mod, const, r)
            with _conf(spark, **confs):
                fn(spark, sf_dir).collect()

        return run

    sym, wsym = _path_sym(spark), _path_sym(spark, weighted=True)
    srcs = sym.select(F.col("src").alias("node")).distinct()

    def label_prop(r):
        monkeypatch.setattr(graph, "LP_ITERS", r)
        graph.label_prop_partition(wsym)

    return {
        "g6_pagerank": registered(graph, "PAGERANK_ITERS", graph.g6_pagerank, **LOOP_TIER),
        "g5_eigenvector_centrality": registered(
            advanced, "EIGEN_ITERS", advanced.g5_eigenvector_centrality, **LOOP_TIER
        ),
        "g12_kcore": registered(graph, "KCORE_MAX_PEELS", graph.g12_kcore),
        "sim_kmeans_lloyd": registered(
            similarity, "KMEANS_ROUNDS", similarity.sim_kmeans_lloyd
        ),
        "label_prop_partition": label_prop,
        "min_label_components": lambda r: graph.min_label_components(sym, r),
        "_brandes_forward": lambda r: graph._brandes_forward(sym, srcs, r),
        "_bfs_distances": lambda r: advanced._bfs_distances(
            sym, r, F.lit(1), unweighted=True
        ),
        "_bfs_distances_weighted": lambda r: advanced._bfs_distances(
            sym, r, F.lit(1)
        ),
    }


#: Spark jobs one more round adds, per driven loop (local mode, AQE on,
#: broadcast state): its materialize, its progress count where it has
#: one, its fold's materialize, and each shuffle stage and broadcast
#: of those as a job of its own.
JOBS_PER_ROUND = {
    "g6_pagerank": 3,
    "g5_eigenvector_centrality": 5,
    "g12_kcore": 14,
    "sim_kmeans_lloyd": 7,
    "label_prop_partition": 9,
    "min_label_components": 7,
    "_brandes_forward": 10,
    "_bfs_distances": 13,
    "_bfs_distances_weighted": 13,
}
#: the rounds compared: the sf0.001 backbone's k-core is reached in the
#: 2nd peel, so a 3rd round would run no step
ROUNDS = {"g12_kcore": (1, 2)}


@pytest.mark.parametrize("name", sorted(JOBS_PER_ROUND))
def test_jobs_per_round_are_pinned(name, spark, sf_dir, monkeypatch):
    """The jobs one more round submits, at 1 -> 2 rounds and at 2 -> 3,
    on the loop tier: the baseline a one-job-per-round driver lowers."""
    from test_oracle_parity import _jobs

    run = _loops(spark, sf_dir, monkeypatch)[name]
    run(1)  # tables loaded, codegen warm
    jobs = [_jobs(spark, lambda r=r: run(r)) for r in ROUNDS.get(name, (1, 2, 3))]
    per_round = {b - a for a, b in zip(jobs, jobs[1:])}
    assert per_round == {JOBS_PER_ROUND[name]}, (name, jobs)

