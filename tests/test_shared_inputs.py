"""One dashboard render builds each shared input once.

``serving.render_page`` runs a page's builders in one
``common.shared_inputs`` scope. Inside it the network page's builders
read one collected graph and the sentiments page's two VADER frames
share one join plan. Outside a scope (registry calls, bench reps, the
differential checks) every call does its full work, and nothing a
render built outlives it."""

from __future__ import annotations

import gc
import threading
import weakref

import pytest

from reddit_can_bigdata_spark import serving
from reddit_can_bigdata_spark.functions import vader
from reddit_can_bigdata_spark.operators import graphkernel as gk
from reddit_can_bigdata_spark.operators.common import shared, shared_inputs
from reddit_can_bigdata_spark.registry import REGISTRY
from tools.oracle_check import norm


def _counting(monkeypatch, module, attr) -> list:
    """Patch ``module.attr`` to record each call; returns the record."""
    calls, real = [], getattr(module, attr)

    def counted(*args, **kwargs):
        calls.append(args)
        return real(*args, **kwargs)

    monkeypatch.setattr(module, attr, counted)
    return calls


def test_network_render_collects_the_graph_once(spark, sf_dir, monkeypatch):
    builds = _counting(monkeypatch, gk, "_edges_from_raw")
    frames = serving.render_page(spark, sf_dir, "network")
    for df in frames.values():
        df.collect()
    assert len(builds) == 1, len(builds)


def test_unscoped_registry_calls_each_collect(spark, sf_dir, monkeypatch):
    builds = _counting(monkeypatch, gk, "_edges_from_raw")
    REGISTRY["g8_graph_metadata"].fn(spark, sf_dir).collect()
    REGISTRY["g2_degree_centrality"].fn(spark, sf_dir).collect()
    assert len(builds) == 2


def test_no_reference_to_the_graph_survives_the_render(spark, sf_dir, monkeypatch):
    refs = []
    real = gk.build_arrays

    def tracked(u, v, w):
        g = real(u, v, w)
        refs.extend(weakref.ref(x) for x in (g, g.nodes, g.indptr, g.indices, g.weights))
        return g

    monkeypatch.setattr(gk, "build_arrays", tracked)
    frames = serving.render_page(spark, sf_dir, "network")
    for df in frames.values():
        df.collect()
    del frames, df
    gc.collect()
    assert refs and all(r() is None for r in refs)


def test_graph_arrays_are_read_only(spark, sf_dir):
    g = gk.collect_graph_raw(spark, sf_dir)
    for a in (g.nodes, g.indptr, g.indices, g.weights):
        with pytest.raises(ValueError, match="read-only"):
            a[0] = a[0]


def test_a_scope_is_seen_by_its_own_thread_only():
    """A thread outside any scope builds in full, and a scope a thread
    opens holds only its own entries."""
    seen = []

    def other():
        seen.append(shared("k", lambda: "unscoped"))
        with shared_inputs():
            seen.append(shared("k", lambda: "its own scope"))

    with shared_inputs():
        assert shared("k", lambda: "first") == "first"
        worker = threading.Thread(target=other)
        worker.start()
        worker.join(timeout=60)
        assert not worker.is_alive()
        assert shared("k", lambda: "second") == "first"
    assert seen == ["unscoped", "its own scope"]
    assert shared("k", lambda: "after") == "after"


def test_a_render_in_another_thread_does_not_see_this_threads_entries(
    spark, sf_dir, monkeypatch
):
    builds = _counting(monkeypatch, gk, "_edges_from_raw")
    rows, errors = {}, []

    def render():
        try:
            frames = serving.render_page(spark, sf_dir, "network")
            rows.update({k: df.collect() for k, df in frames.items()})
        except Exception as e:  # noqa: BLE001 - reported by the assert below
            errors.append(e)

    with shared_inputs():
        # an entry the other thread's builders would crash on
        shared(("graph_raw", sf_dir), lambda: "not a graph")
        worker = threading.Thread(target=render)
        worker.start()
        worker.join(timeout=600)
    assert not worker.is_alive()
    assert errors == []
    assert len(builds) == 1 and set(rows) == set(serving.PAGES["network"].queries)


def test_sentiments_render_plans_vader_once(spark, sf_dir, monkeypatch):
    plans = _counting(monkeypatch, vader, "_vader_join_plan")
    serving.render_page(spark, sf_dir, "sentiments")
    assert len(plans) == 1
    plans.clear()
    REGISTRY["f13c_vader_join_path"].fn(spark, sf_dir)
    REGISTRY["dash_sentiment_samples"].fn(spark, sf_dir)
    assert len(plans) == 2


@pytest.mark.parametrize("page", list(serving.PAGES))
def test_every_page_renders_the_unscoped_builders_rows(spark, sf_dir, page):
    """A render's frames (default widget state, the registered fixed
    points) give the same rows as each builder called on its own."""
    frames = serving.render_page(spark, sf_dir, page)
    assert list(frames) == list(serving.PAGES[page].queries)
    for name, df in frames.items():
        alone = REGISTRY[name].fn(spark, sf_dir)
        got = norm(df.columns, [tuple(r) for r in df.collect()])
        want = norm(alone.columns, [tuple(r) for r in alone.collect()])
        assert got == want, name
