"""One bounded-stream runner: every availableNow run in ``streaming/``
goes through `streaming.pipeline.BoundedRun` and its start helper
`start_available_now`, and every read of an event-time column through
`tables.coerce_ts`. The guards read calls and comparisons from the
syntax tree, so prose that mentions ``.trigger(`` does not trip them.
The leak tests run every registered streaming query, and runs that
fail, and check that nothing outlives them: no active query, no new
temp view, no runner work dir."""

from __future__ import annotations

import ast
import os
import tempfile
from pathlib import Path

import pytest

from reddit_can_bigdata_spark.registry import REGISTRY, _ensure_loaded
from reddit_can_bigdata_spark.streaming.pipeline import (
    RUN_DIR_PREFIX,
    BoundedRun,
    parquet_stream,
    start_available_now,
)
from reddit_can_bigdata_spark.tables import load_tables

_ensure_loaded()

PKG = Path(__file__).resolve().parent.parent / "reddit_can_bigdata_spark"
STREAMING = PKG / "streaming"
RUNNER = (STREAMING / "pipeline.py", {"start_available_now", "BoundedRun"})
RUN_CALLS = ("trigger", "awaitTermination", "symlink")
COERCION = (PKG / "tables.py", "coerce_ts")
TS_DTYPES = {"bigint", "timestamp", "timestamp_ntz"}


def _owned(source: str, label: str, match) -> list[tuple[str | None, str]]:
    """(enclosing top-level def, ``label:line``) for each node ``match``
    accepts."""
    out = []
    for top in ast.parse(source).body:
        owner = getattr(top, "name", None)
        out += [(owner, f"{label}:{node.lineno}") for node in ast.walk(top) if match(node)]
    return out


def _run_call(attr: str):
    return lambda node: (
        isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr == attr
    )


def _ts_dtype_test(node) -> bool:
    """A comparison against a dtype name ``ts`` takes on disk."""
    return isinstance(node, ast.Compare) and any(
        isinstance(side, ast.Constant) and side.value in TS_DTYPES
        for side in (node.left, *node.comparators)
    )


def test_guard_reads_calls_not_text():
    src = '''
def f(writer):
    """Docstrings may say writer.trigger(availableNow=True)."""
    # so may comments: q.awaitTermination()
    return writer.trigger(once=True)
'''
    assert _owned(src, "m", _run_call("trigger")) == [("f", "m:5")]
    assert _owned(src, "m", _run_call("awaitTermination")) == []


@pytest.mark.parametrize("attr", RUN_CALLS)
def test_bounded_runs_have_one_runner(attr):
    path, defs = RUNNER
    calls = [
        (p, owner, at)
        for p in sorted(STREAMING.glob("*.py"))
        for owner, at in _owned(p.read_text(), str(p.relative_to(PKG.parent)), _run_call(attr))
    ]
    stray = [at for p, owner, at in calls if p != path or owner not in defs]
    assert not stray, f".{attr}() outside the runner (use BoundedRun): {stray}"
    assert len(calls) == 1, f"expected one .{attr}() in streaming/, got {calls}"


def test_event_time_coercion_has_one_owner():
    path, owner = COERCION
    tests = [
        (p, o, at)
        for p in sorted(PKG.rglob("*.py"))
        for o, at in _owned(p.read_text(), str(p.relative_to(PKG.parent)), _ts_dtype_test)
    ]
    stray = [at for p, o, at in tests if (p, o) != (path, owner)]
    assert not stray, f"ts dtype branches outside tables.coerce_ts: {stray}"
    assert tests, "tables.coerce_ts lost its dtype branch"


def _leftovers(spark) -> tuple[set[str], set[str]]:
    views = {t.name for t in spark.catalog.listTables() if t.isTemporary}
    dirs = {d for d in os.listdir(tempfile.gettempdir()) if d.startswith(RUN_DIR_PREFIX)}
    return views, dirs


@pytest.mark.parametrize(
    "name", sorted(n for n, spec in REGISTRY.items() if "streaming" in spec.tags)
)
def test_registered_stream_leaves_nothing_behind(spark, sf_dir, name):
    load_tables(spark, sf_dir)  # the catalog's views are not the run's
    before = _leftovers(spark)
    REGISTRY[name].fn(spark, sf_dir).count()
    assert not spark.streams.active
    assert _leftovers(spark) == before


@pytest.mark.parametrize("fail", ["build", "batch", "after_result"])
def test_failed_run_leaves_nothing_behind(spark, sf_dir, fail):
    """A run that raises while building, inside a micro-batch, or after
    its memory-sink result exists is cleaned up all the same."""

    def boom(*_):
        raise ValueError("boom")

    load_tables(spark, sf_dir)
    before = _leftovers(spark)
    with pytest.raises(Exception, match="boom"):
        with BoundedRun(spark, os.path.join(sf_dir, "events.parquet")) as run:
            stream = parquet_stream(spark, run.src)
            if fail == "build":
                boom()
            if fail == "batch":
                run.drain(start_available_now(stream.writeStream.foreachBatch(boom), run.ckpt))
            run.to_memory(stream.groupBy("event_type").count(), "complete")
            boom()
    assert not spark.streams.active
    assert _leftovers(spark) == before
