"""Distributed-loop bench point for the graph tier (optimization
round 12, VERDICT item #1/#2 of round 11).

At bench scale every graph query resolves to the driver-direct dense
kernel tier, so the distributed DataFrame loops — the declared 100 TB
path — had correctness coverage (kernel-vs-loop equivalence tests) but
no standing PERFORMANCE measurement. This tool re-runs the benched
graph queries with ``spark.redditCan.graphKernelMaxEdges=0`` (the
existing kernel-tier kill switch, set as a runtime conf), timing the
pure distributed loops with the same noop-sink methodology as
bench.py, and prints one JSON line for PERF.md. The line carries each
query's median executor ``cpu_s`` (deltas of perfbench's
``StatusMeter``) and ``host_ref_s``, the median wall time of perfbench's
fixed host-reference job, timed before the session starts. The wall
total moves with the host's speed: ``host_ref_s`` says how fast the
host ran, and the cpu totals move far less with it, so points from
different sessions are compared by cpu first.

Usage: python tools/bench_kernel_off.py [--reps 3]
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

from perfbench.meter import StatusMeter, host_ref_times
from reddit_can_bigdata_spark.registry import REGISTRY, _ensure_loaded, bench_queries
from reddit_can_bigdata_spark.session import DEFAULT_SF_DIR, get_spark

GRAPH_BENCH = [
    "g2_degree_centrality",
    "g3b_betweenness_sampled",
    "g4_closeness_centrality",
    "g5_eigenvector_centrality",
    "g6_pagerank",
    "g7_connected_components",
    "g9_triangles_clustering",
    "influencer_composite_sampled",
    "influencer_composite_top20",
]


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--reps", type=int, default=int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR))
    args = ap.parse_args()

    _ensure_loaded()
    names = [n for n in GRAPH_BENCH if n in bench_queries()]
    host_ref_s = statistics.median(host_ref_times()[0])
    spark = get_spark("bench-kernel-off")
    spark.sparkContext.setLogLevel("ERROR")
    spark.conf.set("spark.redditCan.graphKernelMaxEdges", "0")
    from reddit_can_bigdata_spark.tables import load_tables

    warm = load_tables(spark, args.sf_dir)
    warm["documents"].count()
    warm["lineitem"].groupBy("l_returnflag").count().collect()

    meter = StatusMeter(spark)
    cpu_before = meter.totals["cpu_s"]
    timings, cpu = {}, {}
    for name in names:
        runs, cpu_runs = [], []
        for rep in range(args.reps):
            spark.sparkContext.setJobDescription(f"kernel-off:{name}#{rep}")
            t0 = time.perf_counter()
            df = REGISTRY[name].fn(spark, args.sf_dir)
            df.write.format("noop").mode("overwrite").save()
            runs.append(time.perf_counter() - t0)
            cpu_after = meter.read()["cpu_s"]
            cpu_runs.append(cpu_after - cpu_before)
            cpu_before = cpu_after
        timings[name] = round(statistics.median(runs), 3)
        cpu[name] = round(statistics.median(cpu_runs), 3)
        print(f"# {name}: {timings[name]:.3f}s (min {min(runs):.3f} max {max(runs):.3f},"
              f" cpu {cpu[name]:.3f}s)", file=sys.stderr)
    sf = float(os.path.basename(args.sf_dir.rstrip("/")).replace("sf", "") or 0)
    print(json.dumps({
        "metric": "graph_tier_kernel_off_total",
        "value": round(sum(timings.values()), 3),
        "unit": "sec",
        "queries": timings,
        "cpu_s": cpu,
        "host_ref_s": round(host_ref_s, 3),
        "sf": sf,
        "reps": args.reps,
        "conf": {"spark.redditCan.graphKernelMaxEdges": 0},
    }, separators=(",", ":")))


if __name__ == "__main__":
    main()
