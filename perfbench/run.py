"""Benchmark of the engine's lifecycle: the scheduled back end (ingest,
DAG, curation) and the dashboard, each as a seeded closed loop.

    python3 perfbench/run.py --workload backend --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. The seed makes the tables (an
sf0.01-shaped tree, cached under ``.perfbench/data``), the ingest files
and the widget values. Set-up (JVM launch, session start and table
load) is done once: two cold set-ups in one run differ by a few percent,
far less than runs differ with the host's speed, and a second one would
add about ten seconds to every run. The set-up's session runs the
cycles, which are measured until ``--seconds`` have passed (at least
one). Each run
is a fresh application, as each scheduled DAG run and each restarted
dashboard server is, so the first cycle pays plan compilation and JIT
warm-up; there is no separate warm-up cycle. Every output is checked
against its oracle after the timed region.

Human-readable lines start with ``#``. The last line of standard output
is one JSON object: ``correct``, ``attempted``, ``failed`` and
``metrics`` (the end-to-end metrics with ``--trace 0``, the per-layer
metrics with ``--trace 1``). A traced run also writes every span with
its counter deltas to ``.perfbench/trace-<workload>-seed<n>.json``.
"""

from __future__ import annotations

import argparse
import hashlib
import json
import math
import os
import shutil
import statistics
import sys
import time
from concurrent.futures import ThreadPoolExecutor
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
STATE = ROOT / ".perfbench"
SF = 0.01
DRIVER_MEM = "2g"
#: the checks run after the JVM has stopped, so they may use every core
CHECK_THREADS = 4
#: ``host.ref_s`` on the 4-vCPU host of the first baseline when it was
#: quiet; timings are reported as on a host where the reference job
#: takes this long
HOST_REF_NOMINAL_S = 0.156

END_TO_END = {
    "setup_s": "s",
    "cycle_s": "s",
    "cycle_cpu_s": "cpu-s",
    "driver_rss_mb": "MB",
}
#: per measured cycle unless named otherwise
PER_LAYER = {
    "session.start_s": "s",
    "tables.load_s": "s",
    "jobs": "count",
    "stages": "count",
    "tasks": "count",
    "failed_tasks": "count",
    "executor_run_s": "s",
    "jvm_gc_s": "s",
    "jvm_cpu_s": "cpu-s",
    "driver_py_cpu_s": "cpu-s",
    "shuffle_read_bytes": "bytes",
    "shuffle_write_bytes": "bytes",
    "spill_bytes": "bytes",
    "cache.leaked_rdds": "count",
    "trace.overhead_s": "s",
}


def _pin_environment() -> None:
    """One core per Spark slot, scratch space inside the checkout, a
    fixed driver heap, no console progress bar."""
    for sub in ("spark-local", "tmp"):
        (STATE / sub).mkdir(parents=True, exist_ok=True)
    tmp = str(STATE / "tmp")
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_LOCAL_DIRS": str(STATE / "spark-local"),
        "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
        "TMPDIR": tmp,
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_SUBMIT_ARGS": (
            "--conf spark.ui.showConsoleProgress=false"
            f" --conf spark.sql.warehouse.dir={STATE / 'warehouse'}"
            f" --driver-java-options -Djava.io.tmpdir={tmp} pyspark-shell"
        ),
    })
    sys.path.insert(0, str(ROOT))


def _tables(seed: int) -> str:
    """The seed's table tree, made once per seed and version of the recipe."""
    from perfbench.data import make_tables

    recipe = hashlib.sha1((ROOT / "perfbench" / "data.py").read_bytes()).hexdigest()[:12]
    path = STATE / "data" / f"sf{SF}-seed{seed}-{recipe}"
    if not path.is_dir():
        make_tables(str(path), seed, SF)
    return str(path)


def _tail(values: list[float]) -> str:
    """The highest percentile with at least ten samples beyond it."""
    n = len(values)
    if n < 11:
        return f"n/a (n={n}, needs 11)"
    pct = 100.0 * (n - 10) / n
    return f"{sorted(values)[n - 11]:.4f} s at p{pct:.1f} (n={n})"


def _passes(kind: str, check) -> bool:
    try:
        return bool(check())
    except Exception as e:  # a check that cannot run is a failed check
        print(f"# check of {kind} raised {e!r}", file=sys.stderr)
        return False


def _median(values):
    return statistics.median(values) if values else float("nan")


def _stop(spark) -> None:
    """Stop the session and the JVM it runs in, and wait for the JVM."""
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
        gateway.proc.wait(timeout=60)
        SparkContext._gateway = None
        SparkContext._jvm = None


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=("backend", "dashboard"))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    t_start = time.perf_counter()
    _pin_environment()
    from pyspark import __version__ as pyspark_version

    from perfbench import workloads
    from perfbench.meter import NullTracer, StatusMeter, Tracer, host_ref_times
    from reddit_can_bigdata_spark.session import CPUS, get_spark
    from reddit_can_bigdata_spark.tables import load_tables

    sf_dir = _tables(args.seed)
    workdir = STATE / f"run-{os.getpid()}"
    workdir.mkdir()
    # the host reference is timed while no JVM of the program runs: here,
    # and again once the cycles' JVM has exited
    ref_times, ref_cpus = host_ref_times()
    spark = wl = None
    try:
        t0 = time.perf_counter()
        spark = get_spark("perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        load_tables(spark, sf_dir)
        session_s, load_s = t1 - t0, time.perf_counter() - t1
        meter = StatusMeter(spark)
        tracer = Tracer(meter) if args.trace else NullTracer()
        wl = workloads.make(args.workload, spark, sf_dir, args.seed, str(workdir), meter, tracer)

        with workloads.instrumented(tracer):
            cycles = []
            t_measure = time.perf_counter()
            while not cycles or time.perf_counter() - t_measure < args.seconds:
                cycles.append(wl.cycle())
            t_checks = time.perf_counter()
        rss = meter.peak_rss_mb()
        _stop(spark)
        spark = None
        walls, cpus = host_ref_times()
        ref_times += walls
        ref_cpus += cpus
        host_ref = statistics.median(ref_times)
        host_ref_cpu = statistics.median(ref_cpus)

        ops = [op for c in cycles for op in c.ops]
        checks = [(i, check) for i, op in enumerate(ops) for check in op.checks]
        with ThreadPoolExecutor(CHECK_THREADS) as pool:
            oks = list(pool.map(lambda c: _passes(ops[c[0]].kind, c[1]), checks))
        bad = {i for i, op in enumerate(ops) if op.error is not None}
        bad |= {i for (i, _), ok in zip(checks, oks) if not ok}
        failed = len(bad)
        for i in sorted(bad):
            print(f"# FAILED: {ops[i].kind} {ops[i].extra}", file=sys.stderr)
        extra = wl.finish()
        t_done = time.perf_counter()
    finally:
        if wl is not None:
            wl.close()
        if spark is not None:
            _stop(spark)
        shutil.rmtree(workdir, ignore_errors=True)

    by_kind: dict[str, list] = {}
    for op in ops:
        by_kind.setdefault(op.kind, []).append(op)
    raw = {
        "setup_s": session_s + load_s,
        "cycle_s": _median([c.wall_s for c in cycles]),
        "cycle_cpu_s": _median([c.counters["cpu_s"] for c in cycles]),
    }
    # the host's speed drifts by more than 10% over minutes, and every
    # timing drifts with it. Scaling by the reference job timed in the
    # same run gives times on a host where that job takes the nominal
    # time: wall times by its wall time, which also counts time the host
    # gave to other machines, and CPU times by its CPU time, which does not
    scale = HOST_REF_NOMINAL_S / host_ref
    cpu_scale = HOST_REF_NOMINAL_S / host_ref_cpu
    e2e = {k: v * (cpu_scale if k == "cycle_cpu_s" else scale) for k, v in raw.items()}
    e2e["driver_rss_mb"] = rss
    layer = {
        "session.start_s": session_s,
        "tables.load_s": load_s,
        **{k: _median([c.counters[k] for c in cycles]) for k in (
            "jobs", "stages", "tasks", "failed_tasks", "executor_run_s", "jvm_gc_s",
            "jvm_cpu_s", "driver_py_cpu_s", "shuffle_read_bytes", "shuffle_write_bytes",
            "spill_bytes")},
        "cache.leaked_rdds": sum(op.leaked_rdds for op in ops),
        "trace.overhead_s": tracer.overhead_s / len(cycles),
    }

    def say(name, value, unit=""):
        text = f"{value:.4f}" if isinstance(value, float) else str(value)
        print(f"# {name} = {text} {unit}".rstrip())

    say("workload", args.workload)
    say("seed", args.seed)
    say("sf", SF)
    say("cores", CPUS)
    say("pyspark", pyspark_version)
    say("run_seconds", args.seconds)
    say("phase.setup_s", t_measure - t_start, "s (process start to first cycle)")
    say("phase.measure_s", t_checks - t_measure, "s")
    say("phase.check_s", t_done - t_checks, "s (JVM stop, host reference, checks)")
    say("cycles", len(cycles))
    say("error_rate", failed / len(ops), "ratio")
    say("host.ref_s", host_ref, f"s (nominal {HOST_REF_NOMINAL_S} s; wall-time lines are scaled by this one)")
    say("host.ref_s.samples", json.dumps([round(t, 4) for t in ref_times]))
    say("host.ref_cpu_s", host_ref_cpu, "cpu-s (CPU-time lines are scaled by this one)")
    say("host.ref_cpu_s.samples", json.dumps([round(t, 4) for t in ref_cpus]))
    for name, unit in END_TO_END.items():
        say(name, e2e[name], f"{unit} (raw {raw[name]:.4f})" if name in raw else unit)
    walls = {k: [op.wall_s * scale for op in v] for k, v in by_kind.items()}
    if args.workload == "backend":
        ingest = walls["ingest"]
        say("ingest_p50_s", _median(ingest), "s")
        say("ingest_tail_s", _tail(ingest))
        say("ingest_rows_per_s", len(ingest) * workloads.INGEST_ROWS / sum(ingest), "rows/s")
        say("dag_s", _median(walls["dag"]), "s")
        say("dag_cpu_s", _median([op.cpu_s * cpu_scale for op in by_kind["dag"]]), "cpu-s")
        say("curation_s", _median(walls["curation"]), "s")
        say("curation_cpu_s", _median([op.cpu_s * cpu_scale for op in by_kind["curation"]]), "cpu-s")
        for k, v in extra.items():
            say(k, v)
    else:
        browse = [w for k, v in walls.items() if k != "page.network" for w in v]
        say("browse_p50_s", _median(browse), "s")
        say("browse_tail_s", _tail(browse))
        say("network_page_s", _median(walls["page.network"]), "s")
        for k, v in sorted(walls.items()):
            say(f"{k}_s", _median(v), "s")
    leaks = [op for op in ops if op.leaked_rdds]
    for op in leaks:
        print(f"# cache leak: {op.kind} left {op.leaked_rdds} persisted RDD(s),"
              f" {op.leaked_bytes} storage bytes")

    last = STATE / f"last-{args.workload}.json"
    if args.trace:
        _report_spans(tracer, cycles)
        if last.exists():
            base = json.loads(last.read_text())["cycle_s"]
            say("tracing_overhead_s", e2e["cycle_s"] - base,
                "s (traced minus last untraced cycle_s, both host-scaled)")
        trace_path = STATE / f"trace-{args.workload}-seed{args.seed}.json"
        tracer.dump(str(trace_path), workload=args.workload, seed=args.seed, sf=SF)
        say("trace_file", trace_path.relative_to(ROOT))
        metrics = {k: {"value": layer[k], "unit": u} for k, u in PER_LAYER.items()}
    else:
        last.write_text(json.dumps(e2e))
        metrics = {k: {"value": e2e[k], "unit": u} for k, u in END_TO_END.items()}

    correct = failed == 0 and all(
        isinstance(m["value"], (int, float)) and math.isfinite(m["value"]) for m in metrics.values()
    )
    print(json.dumps({"correct": correct, "attempted": len(ops), "failed": failed, "metrics": metrics}))
    return 0


def _report_spans(tracer, cycles) -> None:
    """Per-layer lines from the spans, per measured cycle: calls, wall,
    jobs, executor CPU, shuffle and spill per span name; the median
    frame (``collect.*``) and its jobs; each page's dispatch time (its
    wall minus the spans under it)."""
    spans = [s for s in tracer.spans if "wall_s" in s]
    n = len(cycles)
    keys = ("jobs", "cpu_s", "shuffle_read_bytes", "shuffle_write_bytes", "spill_bytes")
    agg: dict[str, dict] = {}
    for s in spans:
        a = agg.setdefault(s["name"], dict.fromkeys(("calls", "wall_s", *keys), 0.0))
        a["calls"] += 1
        a["wall_s"] += s["wall_s"]
        for k in keys:
            a[k] += s["counters"][k]
    for name, a in sorted(agg.items()):
        print(f"# span {name}: calls={a['calls'] / n:g} wall={a['wall_s'] / n:.4f} s"
              f" jobs={a['jobs'] / n:g} cpu={a['cpu_s'] / n:.4f} cpu-s"
              f" shuffle_r={a['shuffle_read_bytes'] / n:.0f} B"
              f" shuffle_w={a['shuffle_write_bytes'] / n:.0f} B spill={a['spill_bytes'] / n:.0f} B")
    frames = [s for s in spans if s["name"].startswith("collect.")]
    if frames:
        print(f"# frame_p50_s = {_median([s['wall_s'] for s in frames]):.4f} s"
              f" (collect of one frame, n={len(frames)})")
        print(f"# jobs_per_frame = {_median([s['counters']['jobs'] for s in frames]):g} (median)")
    children: dict[int, float] = {}
    for s in spans:
        if s["parent"] is not None:
            children[s["parent"]] = children.get(s["parent"], 0.0) + s["wall_s"]
    dispatch = [s["wall_s"] - children.get(s["id"], 0.0) for s in spans if s["name"].startswith("page.")]
    if dispatch:
        print(f"# serving.dispatch_s = {_median(dispatch):.4f} s (page wall minus its spans, median)")


if __name__ == "__main__":
    sys.exit(main())
