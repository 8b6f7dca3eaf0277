"""The two workloads, driven through the engine's public entry points.

Both are a closed loop with one client thread. A *cycle* is the
workload's fixed unit of work.

- ``backend``: the scheduled side. A cycle lands ``INGEST_FILES`` files
  of Reddit-shaped posts one at a time and stream-ETLs each
  (``streaming.pipeline.stream_etl_to_parquet`` with the f1 transform,
  same checkpoint throughout), then runs the DAG
  (``orchestration.run_pipeline``) and one corpus-curation pass
  (``dedup_lsh_quality``, ``curate_dsir_logweight``,
  ``pretrain_tfidf_topk``, ``text_pmi_collocations``).
- ``dashboard``: the interactive side. A cycle is a tour of the five
  dashboard pages in sidebar order with seeded widget values, each page
  rendered with ``serving.render_page`` and every frame collected, as a
  Streamlit rerun does.

Every operation is checked after the timed region, the checks of a run
in parallel; an operation that
raises or whose output differs from its oracle counts as failed.
"""

from __future__ import annotations

import datetime as dt
import os
import sys
import time
import traceback
from contextlib import contextmanager
from dataclasses import dataclass, field
from functools import partial

import numpy as np
import pyarrow.parquet as pq

from reddit_can_bigdata_spark import orchestration, serving
from reddit_can_bigdata_spark.ml import sentiment
from reddit_can_bigdata_spark.operators import influencer, relational
from reddit_can_bigdata_spark.registry import REGISTRY, all_queries
from reddit_can_bigdata_spark.serving import PAGES
from reddit_can_bigdata_spark.streaming.pipeline import stream_etl_to_parquet

from perfbench.data import EVENTS_DAYS, EVENTS_START, IngestStream
from perfbench.meter import delta
from perfbench.oracle import Oracle

CURATION_QUERIES = (
    "dedup_lsh_quality",
    "curate_dsir_logweight",
    "pretrain_tfidf_topk",
    "text_pmi_collocations",
)
INGEST_FILES = 4
INGEST_ROWS = 5000


@dataclass
class Op:
    """One measured call: its kind, wall time and the checks to run later."""

    kind: str
    wall_s: float = 0.0
    error: str | None = None
    checks: list = field(default_factory=list)  # () -> bool each, run after the timed region
    cpu_s: float = 0.0
    leaked_rdds: int = 0
    leaked_bytes: int = 0
    extra: dict = field(default_factory=dict)


@dataclass
class Cycle:
    ops: list[Op] = field(default_factory=list)
    counters: dict = field(default_factory=dict)

    @property
    def wall_s(self) -> float:
        return sum(op.wall_s for op in self.ops)


class Workload:
    """State shared by both workloads: session, meter, tracer, oracle."""

    def __init__(self, spark, sf_dir: str, seed: int, workdir: str, meter, tracer):
        self.spark = spark
        self.sf_dir = sf_dir
        self.seed = seed
        self.workdir = workdir
        self.meter = meter
        self.tracer = tracer
        self.oracle = Oracle(sf_dir)
        self.rng = np.random.default_rng([seed, 11])

    @contextmanager
    def op(self, cycle: Cycle, kind: str, **attrs):
        """Time one operation; record what it left persisted and whether it raised."""
        op = Op(kind)
        rdds0, bytes0 = self.meter.persisted()
        cpu0 = self.meter.read()["cpu_s"]
        with self.tracer.span(kind, **attrs):
            t0 = time.perf_counter()
            try:
                yield op
            except Exception:  # the run keeps going; the op counts as failed
                op.error = traceback.format_exc(limit=3)
                print(f"# op {kind} raised:\n{op.error}", file=sys.stderr)
            op.wall_s = time.perf_counter() - t0
        op.cpu_s = self.meter.read()["cpu_s"] - cpu0
        rdds1, bytes1 = self.meter.persisted()
        op.leaked_rdds = max(0, rdds1 - rdds0)
        op.leaked_bytes = max(0, bytes1 - bytes0)
        cycle.ops.append(op)

    def collect(self, name: str, df):
        """Collect a frame inside the timed region (the frame's rows are
        what a user sees)."""
        with self.tracer.span(f"collect.{name}", layer="serving.collect"):
            return df.columns, df.collect()

    def cycle(self) -> Cycle:
        cycle = Cycle()
        before = self.meter.read()
        self.run_cycle(cycle)
        cycle.counters = delta(before, self.meter.read())
        return cycle

    def run_cycle(self, cycle: Cycle) -> None:
        raise NotImplementedError

    def finish(self) -> dict:
        """Workload-specific figures for the report, after the checks."""
        return {}

    def close(self) -> None:
        self.oracle.close()


class Backend(Workload):
    def __init__(self, *args, **kwargs):
        super().__init__(*args, **kwargs)
        self.stream = IngestStream(self.seed, rows=INGEST_ROWS)
        self.src = os.path.join(self.workdir, "landing")
        self.sink = os.path.join(self.workdir, "sink")
        self.ckpt = os.path.join(self.workdir, "checkpoint")
        os.makedirs(self.src)
        self.files = 0
        self.landed_rows = 0
        self.landed_bytes = 0

    def run_cycle(self, cycle: Cycle) -> None:
        for _ in range(INGEST_FILES):
            self._ingest(cycle)
        self._dag(cycle)
        self._curation(cycle)

    def _ingest(self, cycle: Cycle) -> None:
        k = self.files
        self.files += 1
        batch = self.stream.batch(k)
        tmp = os.path.join(self.workdir, f".part-{k:05d}.parquet")
        pq.write_table(batch, tmp)
        self.landed_rows += batch.num_rows
        self.landed_bytes += os.path.getsize(tmp)
        # the file lands atomically, so the file source never lists a partial file
        os.rename(tmp, os.path.join(self.src, f"part-{k:05d}.parquet"))
        with self.op(cycle, "ingest", layer="streaming.pipeline", file=k) as op:
            with self.tracer.span("stream.start", layer="streaming.pipeline"):
                query = stream_etl_to_parquet(
                    self.spark, self.src, self.sink, self.ckpt,
                    id_col="doc_id", ts_col="ts",
                    transform=relational.clean_text_etl_transform,
                )
            with self.tracer.span("stream.await", layer="streaming.pipeline"):
                query.awaitTermination()
            op.extra["batches"] = len(query.recentProgress)
        # after the timed region, the sink as a whole is compared with the
        # landed files, and this file's rows must match
        op.checks.append(lambda k=k: k not in self.oracle.ingest_mismatches(
            REGISTRY["streaming_etl_sink"].oracle, self.src, self.sink, INGEST_ROWS))

    def _dag(self, cycle: Cycle) -> None:
        with self.op(cycle, "dag", layer="orchestration") as op:
            report = orchestration.run_pipeline(self.spark, self.sf_dir).report.collect()[0]
        if op.error is None:
            op.checks.append(lambda: self._dag_ok(report.asDict()))

    def _dag_ok(self, row: dict) -> bool:
        gates = self.oracle.row(REGISTRY["pipeline_gate_report"].oracle)
        nodes = self.oracle.row(REGISTRY["g8_graph_metadata"].oracle)["num_nodes"]
        return (
            all(row[k] == gates[k] for k in (
                "posts", "comments", "processed_posts", "unique_users",
                "ml_branch", "network_branch"))
            and row["sentiment_results"] == row["processed_posts"]
            and row["ml_coverage_pct"] == 100.0
            and row["network_users"] == min(20, nodes)
        )

    def _curation(self, cycle: Cycle) -> None:
        with self.op(cycle, "curation", layer="curation") as op:
            results = {q: self.collect(q, REGISTRY[q].fn(self.spark, self.sf_dir))
                       for q in CURATION_QUERIES}
        if op.error is None:
            op.checks += [partial(self.oracle.matches, REGISTRY[q].oracle, *results[q])
                          for q in CURATION_QUERIES]

    def finish(self) -> dict:
        def size(path: str) -> int:
            return sum(os.path.getsize(os.path.join(d, f)) for d, _, fs in os.walk(path) for f in fs)

        sink_bytes, ckpt_bytes = size(self.sink), size(self.ckpt)
        parts = []
        if os.path.isdir(self.sink):
            parts = [f for f in os.listdir(self.sink) if f.endswith(".parquet")]
        committed = 0
        if parts:
            committed = self.oracle.con.execute(
                f"SELECT count(*) FROM read_parquet('{self.sink}/*.parquet')"
            ).fetchone()[0]
        return {
            "stream.keep_ratio": committed / self.landed_rows,
            "stream.state_bytes": ckpt_bytes,
            "stream.sink_files": len(parts),
            "stream.write_amp": (sink_bytes + ckpt_bytes) / self.landed_bytes,
            "ingest_rows_landed": self.landed_rows,
        }


def _date(day: int) -> str:
    return (dt.date.fromisoformat(EVENTS_START) + dt.timedelta(days=int(day))).isoformat()


class Dashboard(Workload):
    def widgets(self, page: str) -> dict:
        """Seeded widget state drawn from the page's choices."""
        rng = self.rng
        if page == "posts":
            return {
                "subreddit": f"src{rng.integers(0, 20)}",
                "min_score": int(rng.integers(0, 400)),
                "sort_by": str(rng.choice(["score", "date", "comments"])),
                "limit": int(rng.choice([10, 15, 20])),
            }
        if page == "sentiments":
            return {
                "sentiment": str(rng.choice(["positive", "neutral", "negative"])),
                "n": int(rng.integers(3, 11)),
            }
        if page == "stats":
            start = int(rng.integers(0, EVENTS_DAYS - 1))
            end = int(rng.integers(start + 1, EVENTS_DAYS + 1))
            return {"start": _date(start), "end": _date(end)}
        return {}

    def run_cycle(self, cycle: Cycle) -> None:
        # sidebar order: on a cold cycle the first page pays most of the
        # warm-up, so a seeded order would move time between pages run to run
        for page in PAGES:
            self._page(cycle, page, self.widgets(page))

    def _page(self, cycle: Cycle, page: str, params: dict) -> None:
        with self.op(cycle, f"page.{page}", layer="serving", page=page) as op:
            with self.tracer.span("render_page", layer="serving.build"):
                frames = serving.render_page(self.spark, self.sf_dir, page, **params)
            results = {name: self.collect(name, df) for name, df in frames.items()}
        if op.error is None:
            op.extra["frames"] = len(results)
            op.checks += [partial(self.oracle.matches, sql, *results[name])
                          for name, sql in self._oracles(page, params).items()]

    def _oracles(self, page: str, params: dict) -> dict[str, str]:
        out = {q: REGISTRY[q].oracle for q in PAGES[page].queries if REGISTRY[q].oracle}
        if page == "posts":
            out["dash_posts_explorer"] = serving.posts_explorer_oracle(**params)
        elif page == "sentiments":
            out["dash_sentiment_samples"] = serving.sentiment_samples_oracle(**params)
        elif page == "stats":
            out["dash_stats_timeline"] = serving.stats_timeline_oracle(**params)
        return out


def make(name: str, *args, **kwargs) -> Workload:
    all_queries()  # import every registering module
    return {"backend": Backend, "dashboard": Dashboard}[name](*args, **kwargs)


@contextmanager
def instrumented(tracer):
    """Wrap the layers' entry points with spans for the traced run.

    Patches module attributes and registry entries the engine looks up
    at call time, and restores them on exit; the program's code is not
    changed."""
    if not tracer.enabled:
        yield
        return

    def wrap(fn, name, layer):
        def traced(*a, **kw):
            with tracer.span(name, layer=layer):
                return fn(*a, **kw)
        return traced

    patches = [
        (orchestration, "pipeline_gate_report", "orchestration.gate"),
        (sentiment, "train_sentiment", "ml.sentiment.train"),
        (influencer, "influencer_composite_top20", "influencer.top20"),
        (serving, "posts_explorer", "serving.widget"),
        (serving, "sentiment_samples", "serving.widget"),
        (serving, "stats_timeline", "serving.widget"),
    ]
    saved = [(mod, attr, getattr(mod, attr)) for mod, attr, _ in patches]
    specs = {q: REGISTRY[q] for p in PAGES.values() for q in p.queries}
    specs.update({q: REGISTRY[q] for q in CURATION_QUERIES})
    saved_fns = {q: spec.fn for q, spec in specs.items()}
    try:
        for mod, attr, layer in patches:
            setattr(mod, attr, wrap(getattr(mod, attr), f"{layer}.{attr}", layer))
        for q, spec in specs.items():
            spec.fn = wrap(spec.fn, f"build.{q}", "build")
        yield
    finally:
        for mod, attr, fn in saved:
            setattr(mod, attr, fn)
        for q, fn in saved_fns.items():
            specs[q].fn = fn
