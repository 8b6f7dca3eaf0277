"""Per-query profiler for the optimization rounds.

Times individual registered queries the exact way bench.py does (plan
construction + noop-sink execution), and additionally records executor
CPU seconds, job/stage/task counts (deltas of perfbench's
``StatusMeter``), and the formatted physical plan — the evidence
OPTIMIZATION_r*.md and plans/r*/ are built from.

Usage:
    python tools/profile_queries.py g6_pagerank g4_closeness_centrality
    python tools/profile_queries.py --bench            # all bench queries
    python tools/profile_queries.py --plans-dir plans/r11 --suffix before g6_pagerank
    SPARK_GRAFT_BENCH_REPS=3 python tools/profile_queries.py ...
    # the benched graph queries on their distributed loops (kernel tier off)
    python tools/profile_queries.py --conf spark.redditCan.graphKernelMaxEdges=0 \\
        g2_degree_centrality g3b_betweenness_sampled g4_closeness_centrality \\
        g5_eigenvector_centrality g6_pagerank g7_connected_components \\
        g9_triangles_clustering influencer_composite_sampled influencer_composite_top20

Prints one line per query to stdout:
    name  wall_median  wall_min..max  cpu_s  cpu_first  jobs  stages  tasks
    compiles  compile_ms  compiles_first  compile_ms_first
(every counter is the median over the reps; ``cpu_first`` is the first
rep's cpu-s, which also holds whatever the session pays once, on the
first query that needs it; ``compiles`` / ``compile_ms`` count the
Janino compiles of generated classes and their time summed over
threads, from Spark's codegen metrics), then one JSON line for PERF.md:
per-query wall and ``cpu_s`` medians, ``cpu_s_first``, ``codegen``
([compiles, ms] first rep and median), the ``--conf`` settings,
and ``host_ref_s``, the median wall of perfbench's fixed host-reference
job, timed before the session starts. Walls move with the host's speed
and cpu-s far less, so points from different sessions are compared by
cpu first. Writes plans/<name>_<suffix>.txt when --plans-dir is given.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench.meter import StatusMeter, delta, host_ref_times
from reddit_can_bigdata_spark.registry import REGISTRY, _ensure_loaded, bench_queries
from reddit_can_bigdata_spark.session import DEFAULT_SF_DIR, get_spark


def _key_value(text: str) -> tuple[str, str]:
    key, sep, value = text.partition("=")
    if not key or not sep:
        raise argparse.ArgumentTypeError(f"expected KEY=VALUE, got {text!r}")
    return key, value


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--bench", action="store_true", help="profile every bench query")
    ap.add_argument("--plans-dir", default=None)
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--reps", type=int, default=int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR))
    ap.add_argument(
        "--conf", action="append", default=[], type=_key_value, metavar="KEY=VALUE",
        help="runtime conf set on the session before profiling (repeatable)",
    )
    args = ap.parse_args()
    confs = dict(args.conf)

    _ensure_loaded()
    names = list(args.names)
    if args.bench:
        names.extend(n for n in sorted(bench_queries()) if n not in names)
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")

    host_ref_s = statistics.median(host_ref_times()[0])
    spark = get_spark("profile")
    spark.sparkContext.setLogLevel("ERROR")
    for key, value in confs.items():
        spark.conf.set(key, value)
    from reddit_can_bigdata_spark.tables import load_tables

    warm = load_tables(spark, args.sf_dir)
    warm["documents"].count()
    warm["lineitem"].groupBy("l_returnflag").count().collect()

    meter = StatusMeter(spark)
    before = meter.read()
    jvm = spark.sparkContext._jvm
    compiles = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    compile_ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime
    cg_before = (compiles.getCount(), compile_ns())
    plans_dir = Path(args.plans_dir) if args.plans_dir else None
    if plans_dir:
        plans_dir.mkdir(parents=True, exist_ok=True)

    print(f"# sf_dir={args.sf_dir} reps={args.reps} cpus={spark.sparkContext.defaultParallelism}")
    print(f"{'query':42s} {'wall_med':>8s} {'min':>7s} {'max':>7s} {'cpu_s':>8s} {'cpu_first':>9s} {'jobs':>5s} {'stages':>6s} {'tasks':>6s}"
          f" {'compiles':>8s} {'comp_ms':>7s} {'comp_1st':>8s} {'ms_1st':>7s}")
    walls_med, cpu_med, cpu_first, codegen = {}, {}, {}, {}
    for name in names:
        spec = REGISTRY[name]
        reps = min(args.reps, spec.bench_reps) if spec.bench_reps else args.reps
        walls, metas, cgs = [], [], []
        for rep in range(reps):
            spark.sparkContext.setJobDescription(f"profile:{name}#{rep}")
            t0 = time.perf_counter()
            df = spec.fn(spark, args.sf_dir)
            df.write.format("noop").mode("overwrite").save()
            walls.append(time.perf_counter() - t0)
            after = meter.read()
            metas.append(delta(before, after))
            before = after
            cg_after = (compiles.getCount(), compile_ns())
            cgs.append((cg_after[0] - cg_before[0], round((cg_after[1] - cg_before[1]) / 1e6, 1)))
            cg_before = cg_after
            if plans_dir and rep == 0:
                plan = df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
                (plans_dir / f"{name}_{args.suffix}.txt").write_text(plan)
        spark.sparkContext.setJobDescription(None)
        m = {k: statistics.median(x[k] for x in metas) for k in ("cpu_s", "jobs", "stages", "tasks")}
        walls_med[name] = round(statistics.median(walls), 3)
        cpu_med[name] = round(m["cpu_s"], 3)
        cpu_first[name] = round(metas[0]["cpu_s"], 3)
        codegen[name] = [*cgs[0], *(statistics.median(x[i] for x in cgs) for i in (0, 1))]
        print(
            f"{name:42s} {walls_med[name]:8.3f} {min(walls):7.3f} {max(walls):7.3f}"
            f" {m['cpu_s']:8.2f} {cpu_first[name]:9.2f} {m['jobs']:5.0f} {m['stages']:6.0f} {m['tasks']:6.0f}"
            f" {codegen[name][2]:8.0f} {codegen[name][3]:7.1f} {cgs[0][0]:8d} {cgs[0][1]:7.1f}"
        )
    sf = float(os.path.basename(args.sf_dir.rstrip("/")).replace("sf", "") or 0)
    print(json.dumps({
        "metric": "profile_total",
        "value": round(sum(walls_med.values()), 3),
        "unit": "sec",
        "queries": walls_med,
        "cpu_s": cpu_med,
        "cpu_s_first": cpu_first,
        "codegen": codegen,
        "host_ref_s": round(host_ref_s, 3),
        "sf": sf,
        "reps": args.reps,
        "conf": confs,
    }, separators=(",", ":")))


if __name__ == "__main__":
    main()
