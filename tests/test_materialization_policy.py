"""One materialization policy: every cache, persist and checkpoint in
the package goes through `operators.common.materialize` or its scoped
form `materialized`, which own lifetime and the reliable-checkpoint
conf. The guard reads calls from the syntax tree, so prose that
mentions ``.cache()`` does not trip it."""

from __future__ import annotations

import ast
from pathlib import Path

PKG = Path(__file__).resolve().parent.parent / "reddit_can_bigdata_spark"
OWNER = PKG / "operators" / "common.py"
METHODS = {"cache", "persist", "localCheckpoint", "checkpoint"}


def _materialization_calls(source: str, label: str) -> list[str]:
    return [
        f"{label}:{node.lineno} .{node.func.attr}()"
        for node in ast.walk(ast.parse(source))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in METHODS
    ]


def test_guard_reads_calls_not_text():
    src = '''
def f(df):
    """Docstrings may say df.cache() or .localCheckpoint(eager=True)."""
    # so may comments: df.persist()
    return df.checkpoint(eager=True)
'''
    assert _materialization_calls(src, "m") == ["m:5 .checkpoint()"]


def test_materialization_has_one_owner():
    stray = [
        call
        for path in sorted(PKG.rglob("*.py"))
        if path != OWNER
        for call in _materialization_calls(
            path.read_text(), str(path.relative_to(PKG.parent))
        )
    ]
    assert not stray, (
        f"{len(stray)} materialization calls outside operators/common.py "
        f"(route them through materialize / materialized): {stray}"
    )
