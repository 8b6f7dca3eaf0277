"""Real 10x scale point: time the slowest headline queries at sf0.1
and at the generated sf1 tree (tools/make_sf1.py) in ONE session with
ONE cpu meter, and fit the 10x scaling exponent per query.

The x16 probes (tools/scale_probe.py) replicate sf0.1 rows — key
cardinality stays flat, so group counts, join fan-outs and graph
node counts don't grow the way a real scale-up grows them. The sf1
tree scales cardinalities like the driver's own sf ladder does
(10x customers/orders/users, max(500, 50k*sf) documents), so this
probe measures the honest exponent: log10(t_sf1 / t_sf0.1).

CPU seconds (executor task metrics) are the primary axis — wall time
on a shared host is contention-noisy, CPU is not (the rounds-8..10
lesson). Exponents > 0.8 are flagged; each flag needs a named cause
or a fix (round-10 verdict item #5).

Usage: python tools/sf1_probe.py [--reps 2] [--sf1 /tmp/sf1] [name ...]
Prints one JSON line; full detail on stderr.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench.meter import StatusMeter  # noqa: E402
from reddit_can_bigdata_spark.registry import (  # noqa: E402
    REGISTRY,
    _ensure_loaded,
)
from reddit_can_bigdata_spark.session import get_spark  # noqa: E402

SF01 = "/root/testdata/sf0.1"

#: the 13 slowest headline queries of BENCH_r10 (driver artifact),
#: less g3b and g9: their registered forms pin a fixed sample / an
#: exact count whose sf1 cost is superlinear, and they have no gated
#: production form to time instead. Single-rep ones are the
#: iterative/quadratic tier where a second rep costs minutes and the
#: first rep is already seconds-long (far above timer noise).
DEFAULT = {
    "pipeline_e2e": 1,
    "influencer_composite_top20": 1,
    "influencer_composite_sampled": 1,
    "g4_closeness_centrality": 1,
    "dedup_clusters": 2,
    "g6_pagerank": 2,
    "dedup_lsh_quality": 2,
    "g5_eigenvector_centrality": 2,
    "f13c_vader_join_path": 2,
    "g7_connected_components": 2,
    "g2_degree_centrality": 2,
}


def _production_forms():
    """For queries whose REGISTERED form pins an exact algorithm with a
    known superlinear cost model (oracle stability demands the pin),
    the probe times the GATED production form at both scales — the
    exact pin at sf1 is not slow, it is fatal (the first probe run
    filled the host's disk inside exact closeness: V·E_sym ≈ 2.1e11
    relaxation rows ≈ 5 TB of shuffle). The gate's mode choice is
    logged by the gate itself; the probe tags these names so the
    PERF.md table says which form the exponent measures."""
    from reddit_can_bigdata_spark.operators.advanced import closeness_for_scale
    from reddit_can_bigdata_spark.operators.influencer import (
        influencer_composite_top20,
    )

    def composite_auto(spark, d):
        return influencer_composite_top20(spark, d, closeness_mode=None)

    return {
        "g4_closeness_centrality": (
            "closeness_for_scale(auto)",
            lambda spark, d: closeness_for_scale(spark, d),
        ),
        "influencer_composite_sampled": (
            "influencer_composite_top20(closeness auto)",
            composite_auto,
        ),
        "influencer_composite_top20": (
            "influencer_composite_top20(closeness auto)",
            composite_auto,
        ),
    }


def main() -> int:
    args = sys.argv[1:]
    reps_default = 2
    sf1_dir = "/tmp/sf1"
    names: list[str] = []
    i = 0
    while i < len(args):
        if args[i] == "--reps":
            reps_default = int(args[i + 1])
            i += 2
        elif args[i] == "--sf1":
            sf1_dir = args[i + 1]
            i += 2
        else:
            names.append(args[i])
            i += 1
    plan = (
        {n: DEFAULT.get(n, reps_default) for n in names}
        if names
        else dict(DEFAULT)
    )

    _ensure_loaded()
    spark = get_spark("sf1_probe")
    spark.sparkContext.setLogLevel("ERROR")
    meter = StatusMeter(spark)
    prod = _production_forms()

    out: dict[str, dict] = {}
    for sf_dir, tag in ((SF01, "sf0.1"), (sf1_dir, "sf1")):
        from reddit_can_bigdata_spark.tables import load_tables

        warm = load_tables(spark, sf_dir)
        warm["documents"].count()
        warm["lineitem"].groupBy("l_returnflag").count().collect()
        cpu = meter.read()["cpu_s"]
        for name, reps in plan.items():
            if name in prod:
                form, fn = prod[name]
                out.setdefault(name, {})["form"] = form
            else:
                fn = REGISTRY[name].fn
            walls, cpus = [], []
            for _ in range(reps):
                t0 = time.perf_counter()
                df = fn(spark, sf_dir)
                df.write.format("noop").mode("overwrite").save()
                walls.append(time.perf_counter() - t0)
                now = meter.read()["cpu_s"]
                cpus.append(now - cpu)
                cpu = now
            rec = out.setdefault(name, {})
            rec[f"wall_{tag}"] = round(statistics.median(walls), 3)
            rec[f"cpu_{tag}"] = round(statistics.median(cpus), 3)
            print(
                f"# {tag} {name}: wall {rec[f'wall_{tag}']:.2f}s"
                f" cpu {rec[f'cpu_{tag}']:.2f}s",
                file=sys.stderr,
                flush=True,
            )

    flagged = []
    for name, rec in out.items():
        base = rec.get("cpu_sf0.1") or rec.get("wall_sf0.1")
        big = rec.get("cpu_sf1") or rec.get("wall_sf1")
        if base and big and base > 0:
            rec["exponent"] = round(math.log10(big / base), 2)
            if rec["exponent"] > 0.8:
                flagged.append(name)
    print(
        json.dumps(
            {
                "metric": "sf1_scale_probe",
                "sf_pair": [0.1, 1.0],
                "queries": out,
                "flagged_gt_0.8": sorted(flagged),
            }
        )
    )
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
