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

Prints one line per query to stdout:
    name  wall_median  wall_min..max  cpu_s  jobs  stages  tasks
and writes plans/<name>_<suffix>.txt when --plans-dir is given.
"""

from __future__ import annotations

import argparse
import os
import statistics
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench.meter import StatusMeter, delta
from reddit_can_bigdata_spark.registry import REGISTRY, _ensure_loaded, bench_queries
from reddit_can_bigdata_spark.session import DEFAULT_SF_DIR, get_spark


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("names", nargs="*")
    ap.add_argument("--bench", action="store_true", help="profile every bench query")
    ap.add_argument("--plans-dir", default=None)
    ap.add_argument("--suffix", default="before")
    ap.add_argument("--reps", type=int, default=int(os.environ.get("SPARK_GRAFT_BENCH_REPS", "3")))
    ap.add_argument("--sf-dir", default=os.environ.get("SPARK_GRAFT_SF_DIR", DEFAULT_SF_DIR))
    args = ap.parse_args()

    _ensure_loaded()
    names = list(args.names)
    if args.bench:
        names.extend(n for n in sorted(bench_queries()) if n not in names)
    unknown = [n for n in names if n not in REGISTRY]
    if unknown:
        sys.exit(f"unknown queries: {unknown}")

    spark = get_spark("profile")
    spark.sparkContext.setLogLevel("ERROR")
    from reddit_can_bigdata_spark.tables import load_tables

    warm = load_tables(spark, args.sf_dir)
    warm["documents"].count()
    warm["lineitem"].groupBy("l_returnflag").count().collect()

    meter = StatusMeter(spark)
    before = meter.read()
    plans_dir = Path(args.plans_dir) if args.plans_dir else None
    if plans_dir:
        plans_dir.mkdir(parents=True, exist_ok=True)

    print(f"# sf_dir={args.sf_dir} reps={args.reps} cpus={spark.sparkContext.defaultParallelism}")
    print(f"{'query':42s} {'wall_med':>8s} {'min':>7s} {'max':>7s} {'cpu_s':>8s} {'jobs':>5s} {'stages':>6s} {'tasks':>6s}")
    for name in names:
        spec = REGISTRY[name]
        reps = min(args.reps, spec.bench_reps) if spec.bench_reps else args.reps
        walls, metas = [], []
        for rep in range(reps):
            spark.sparkContext.setJobDescription(f"profile:{name}#{rep}")
            t0 = time.perf_counter()
            df = spec.fn(spark, args.sf_dir)
            df.write.format("noop").mode("overwrite").save()
            walls.append(time.perf_counter() - t0)
            after = meter.read()
            metas.append(delta(before, after))
            before = after
            if plans_dir and rep == 0:
                plan = df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
                (plans_dir / f"{name}_{args.suffix}.txt").write_text(plan)
        spark.sparkContext.setJobDescription(None)
        med = statistics.median(walls)
        i = walls.index(med) if med in walls else 0
        m = metas[i]
        cpu_med = statistics.median(x["cpu_s"] for x in metas)
        print(
            f"{name:42s} {med:8.3f} {min(walls):7.3f} {max(walls):7.3f}"
            f" {cpu_med:8.2f} {m['jobs']:5.0f} {m['stages']:6.0f} {m['tasks']:6.0f}"
        )


if __name__ == "__main__":
    main()
