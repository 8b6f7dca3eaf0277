"""Measured scaling curves: time headline operators on x1/x2/x4
replicas of the sf0.1 tables and fit the scaling exponent.

PERF.md argues each operator family is linear (or near-linear) in the
fact data; this probe measures it instead of asserting it. Replicas
are honest scale-ups, not degenerate copies:

- facts grow, dimensions stay fixed (the 100 TB shape): ``lineitem``
  and ``orders`` replicate with consistently shifted order keys
  (joins stay FK-valid against the unshifted part/supplier/customer
  dims); ``events`` replicates with shifted user/event ids (the graph
  becomes k disjoint shards — node count scales, diameter doesn't,
  which is exactly the sharded-corpus model);
- ``documents`` shifts doc_id and appends a per-replica token to the
  text, so dedup/shingle workloads see k times the corpus without the
  whole corpus collapsing into one duplicate cluster;
- ``embeddings`` shifts vec_id (vector values can repeat — ANN cost
  is row-count-driven).

Each (query, k) pair is timed as a fresh action on a warmed session
(one untimed rep, then n timed reps, median). The fitted exponent is
the slope of log(t) vs log(k); <=1.15 reads as linear at this scale.

Usage: python tools/scale_probe.py [--reps 3] [name ...]
Writes per-k parquet under /tmp/scale_probe (cleaned on rerun) and
prints one JSON line.
"""

from __future__ import annotations

import json
import math
import shutil
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from reddit_can_bigdata_spark import registry  # noqa: E402
from reddit_can_bigdata_spark.operators import dedup  # noqa: E402
from reddit_can_bigdata_spark.session import get_spark  # noqa: E402
from reddit_can_bigdata_spark.tables import TABLE_NAMES  # noqa: E402

SRC = "/root/testdata/sf0.1"
WORK = Path("/tmp/scale_probe")
KS = (1, 2, 4)  # override with --ks; small-k runs are overhead-bound

# Per-table integer key columns to shift by replica*stride so joins
# stay valid and rows stay distinct. Dimensions are absent: they are
# symlink-copied once, unreplicated (facts grow, dims don't).
FACT_SHIFTS = {
    "lineitem": ("l_orderkey",),
    "orders": ("o_orderkey",),
    "events": ("event_id", "user_id"),
    "documents": ("doc_id",),
    "embeddings": ("vec_id",),
}

DEFAULT_QUERIES = [
    "tpch_q1_pricing_summary",   # fact scan + decimal aggregate
    "j2_fk_join_rollup",          # fact-fact shuffle join
    "dedup_minhash_lsh",          # shingle explode + banded buckets
    "dedup_clusters",             # LSH -> component loop
    "text_token_stats",           # single-stage text expressions
    "sim_topk_bruteforce",        # broadcast scan + top-k heaps
    "g6_pagerank",                # iterative state join
    "sessionize_events",          # window over event time
]


#: components-based queries: their fixpoint rounds are recorded next to
#: their times, so O(log diameter) convergence is a datum, not a claim.
#: Each builder returns the registered query's frame and the rounds.
WITH_ROUNDS = {"dedup_clusters": dedup._clusters}


def build_replicas(spark) -> None:
    if WORK.exists():
        shutil.rmtree(WORK)
    import pyspark.sql.functions as F

    for k in KS:
        out = WORK / f"x{k}"
        out.mkdir(parents=True)
        for name in TABLE_NAMES:
            src = f"{SRC}/{name}.parquet"
            if not Path(src).exists():
                continue
            dst = str(out / f"{name}.parquet")
            shifts = FACT_SHIFTS.get(name)
            if shifts is None or k == 1:
                df = spark.read.parquet(src)
                df.write.mode("overwrite").parquet(dst)
                continue
            df = spark.read.parquet(src)
            strides = {
                c: (df.agg(F.max(c)).first()[0] or 0) + 1 for c in shifts
            }
            parts = []
            for i in range(k):
                rep = df
                for c, stride in strides.items():
                    rep = rep.withColumn(
                        c, (F.col(c) + F.lit(i * stride)).cast("long")
                    )
                if name == "documents" and i > 0:
                    rep = rep.withColumn(
                        "text", F.concat(F.col("text"), F.lit(f" zrep{i}"))
                    )
                parts.append(rep)
            u = parts[0]
            for p in parts[1:]:
                u = u.unionByName(p)
            u.write.mode("overwrite").parquet(dst)


def main() -> int:
    global KS
    argv = [a for a in sys.argv[1:]]
    reps = 3
    if "--reps" in argv:
        i = argv.index("--reps")
        reps = int(argv[i + 1])
        del argv[i : i + 2]
    if "--ks" in argv:
        i = argv.index("--ks")
        KS = tuple(int(x) for x in argv[i + 1].split(","))
        del argv[i : i + 2]
    names = argv or DEFAULT_QUERIES

    spark = get_spark("scale-probe", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    registry._ensure_loaded()

    build_replicas(spark)

    out = {}
    for name in names:
        fn = registry.REGISTRY[name].fn
        build = WITH_ROUNDS.get(
            name, lambda spark, sf_dir, fn=fn: (fn(spark, sf_dir), None)
        )
        times = {}
        for k in KS:
            sf_dir = str(WORK / f"x{k}")
            build(spark, sf_dir)[0].count()  # warm (plan + file listing + JIT)
            samples = []
            for _ in range(reps):
                t0 = time.monotonic()
                df, rounds = build(spark, sf_dir)
                df.count()
                samples.append(time.monotonic() - t0)
            samples.sort()
            times[k] = round(samples[len(samples) // 2], 3)
            if rounds is not None:
                out.setdefault(f"{name}__rounds", {}).setdefault("rounds", {})[k] = rounds
        lk = [math.log(k) for k in KS]
        lt = [math.log(max(times[k], 1e-3)) for k in KS]
        n = len(KS)
        mx, my = sum(lk) / n, sum(lt) / n
        slope = sum((x - mx) * (y - my) for x, y in zip(lk, lt)) / sum(
            (x - mx) ** 2 for x in lk
        )
        out[name] = {"sec": times, "exponent": round(slope, 2)}
        print(f"{name}: {times} exp={slope:.2f}", file=sys.stderr)

    probe = "scale_" + "_".join(f"x{k}" for k in KS)
    print(json.dumps({"probe": probe, "base_sf": 0.1, "queries": out}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
