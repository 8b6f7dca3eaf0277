"""The differential-check runner's query selection."""

from __future__ import annotations

from types import SimpleNamespace

import tools.oracle_check as oc
from reddit_can_bigdata_spark.registry import REGISTRY, _ensure_loaded


def test_exact_without_names_checks_the_whole_registry(monkeypatch, capsys):
    """``oracle_check exact`` with no names checks every registered
    query. It used to skip every query some CORRECTNESS_r*.json
    listed, which is all of them, and printed ``0 checked``."""
    _ensure_loaded()
    checked = []
    spark = SimpleNamespace(sparkContext=SimpleNamespace(setLogLevel=lambda level: None))
    monkeypatch.setattr(oc, "get_spark", lambda *a, **k: spark)
    monkeypatch.setattr(oc, "duck_views", lambda sf_dir: object())

    def check(spark, name, sf_dir, duck=None, knob=None):
        checked.append(name)
        return "OK", "stub"

    monkeypatch.setattr(oc, "check", check)
    assert oc.main(["exact"]) == 0
    assert sorted(checked) == sorted(REGISTRY)
    assert f"0 failures / {len(REGISTRY)} checked" in capsys.readouterr().out
