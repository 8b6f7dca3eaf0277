"""One AppStatusStore meter: `perfbench.meter.StatusMeter` is the only
reader of the status store and the listener bus outside the tests.
bench.py and the tools take their cpu / job / stage / task counts as
deltas of its ``read()``. The guard reads calls from the syntax tree,
so prose that names ``statusStore()`` does not trip it."""

from __future__ import annotations

import ast
import sys
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

METHODS = {"statusStore", "listenerBus"}


def _status_calls(source: str, label: str) -> list[str]:
    return [
        f"{label}:{node.lineno} .{node.func.attr}()"
        for node in ast.walk(ast.parse(source))
        if isinstance(node, ast.Call)
        and isinstance(node.func, ast.Attribute)
        and node.func.attr in METHODS
    ]


def test_guard_reads_calls_not_text():
    src = '''
def f(sc):
    """Docstrings may say sc.statusStore() or .listenerBus()."""
    return sc._jsc.sc().listenerBus().waitUntilEmpty(1)
'''
    assert _status_calls(src, "m") == ["m:4 .listenerBus()"]


def test_status_store_has_one_reader():
    paths = [
        ROOT / "bench.py",
        *sorted((ROOT / "tools").rglob("*.py")),
        *sorted((ROOT / "reddit_can_bigdata_spark").rglob("*.py")),
    ]
    stray = [
        call
        for path in paths
        for call in _status_calls(path.read_text(), str(path.relative_to(ROOT)))
    ]
    assert not stray, (
        f"{len(stray)} status-store reads outside perfbench/meter.py "
        f"(take deltas of perfbench.meter.StatusMeter.read()): {stray}"
    )


class _Meter:
    """Stands in for StatusMeter: cumulative cpu 1.5 s per read, and a
    read that raises once ``broken`` is set."""

    broken = False

    def __init__(self, spark):
        self.totals = {"cpu_s": 0.0}

    def read(self):
        if _Meter.broken:
            raise RuntimeError("status store moved")
        self.totals = {"cpu_s": self.totals["cpu_s"] + 1.5}
        return dict(self.totals)


def test_bench_cpu_meter_deltas_and_fallback(monkeypatch, capsys):
    import bench
    from perfbench import meter

    monkeypatch.setattr(meter, "StatusMeter", _Meter)
    monkeypatch.setattr(_Meter, "broken", False)
    cpu_delta = bench.cpu_meter(None)
    assert [cpu_delta(), cpu_delta()] == [1.5, 1.5]
    # a read that fails turns the meter off for good; the bench goes on
    _Meter.broken = True
    assert cpu_delta() is None
    _Meter.broken = False
    assert cpu_delta() is None
    assert capsys.readouterr().err.count("# cpu meter disabled") == 1


def test_bench_cpu_meter_off_when_it_cannot_be_built(capsys):
    import bench

    cpu_delta = bench.cpu_meter(object())  # no sparkContext: StatusMeter raises
    assert cpu_delta() is None
    assert "# cpu meter disabled" in capsys.readouterr().err
